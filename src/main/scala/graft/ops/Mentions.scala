package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.model._
import graft.nlp.TextOps

/** Mention detection (nalaf's NER stage). Two taggers share the Mention
  * output schema:
  *
  *  - [[GazetteerTagger]]: broadcast dictionary lookup — the Spark-native
  *    form of nalaf's `DictionaryFeatureGenerator` gazetteers
  *    (`features/dictionaries.py:11-25`) used directly as a no-ML tagger
  *    (the reference's stub-extractor route, `learning/taggers.py:126-185`).
  *  - [[graft.ops.Crf]]: linear-chain Viterbi with broadcast weights
  *    (`learning/crfsuite.py:33-49` semantics) — see Crf.scala.
  */
object GazetteerTagger {

  /** The fixed two-class gazetteer used by the driver-facing queries over
    * the documents-derived transcripts. Small by construction → broadcast
    * by the closure (a Map of 8 entries), never shuffled.
    */
  val OpClass = "e_op"
  val ObjClass = "e_obj"
  val gazetteer: Map[String, String] = Map(
    "merge" -> OpClass, "filter" -> OpClass, "scan" -> OpClass, "sort" -> OpClass,
    "table" -> ObjClass, "vector" -> ObjClass, "stream" -> ObjClass, "batch" -> ObjClass
  )

  /** The gazetteer rule on one sentence, shared by [[tag]], the fused
    * pipeline and the stream: a token whose lowercased word is a term.
    */
  def sentenceTagger(gaz: Map[String, String]): IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => gaz.get(t.word.toLowerCase).map(cls => (cls, t.begin, t.end)))

  /** [[sentenceTagger]] over tokenized sentences. Confidence 1.0
    * (dictionary match). Narrow map — no shuffle.
    */
  def tag(ts: Dataset[TokenizedSentence],
          gaz: Map[String, String] = gazetteer): Dataset[Mention] = {
    import ts.sparkSession.implicits._
    val tagger = sentenceTagger(gaz)
    ts.flatMap { s =>
      tagger(s.tokens.toIndexedSeq).map { case (cls, b, e) =>
        Mentions.of(s.conv_id, s.turn_idx, s.sent_idx, cls, b, e, s.sent_text, s.sent_start)
      }
    }
  }

  /** Pre-aggregated mentions for the edge join: one row per
    * (conv, turn, class, word) with min offset and occurrence count.
    * This is the map-side reduction that keeps the edge self-join linear
    * in turns instead of quadratic in raw mentions — essential at
    * 10^12-turn scale where a hot surface form would otherwise explode
    * the join.
    */
  def grouped(mentions: Dataset[Mention]): DataFrame = {
    import mentions.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    mentions.groupBy($"conv_id", $"turn_idx", $"class_id", lower($"text").as("word"))
      .agg(min($"begin").as("begin"), count(lit(1)).as("n_occ"))
  }
}

object Mentions {

  /** The one Mention constructor of the taggers: the text is the span
    * [begin, end) of `source`, whose first char sits at turn offset
    * `sourceStart`, and the norm is [[TextOps.normKey]] of that text.
    */
  def of(convId: String, turnIdx: Int, sentIdx: Int, cls: String,
         begin: Int, end: Int, source: String, sourceStart: Int,
         confidence: Double = 1.0): Mention = {
    val text = source.substring(begin - sourceStart, end - sourceStart)
    Mention(convId, turnIdx, sentIdx, cls, begin, end, text, confidence,
      TextOps.normKey(text))
  }
}
