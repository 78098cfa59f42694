package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model._

/** Candidate-edge generation and triple emission — nalaf's relation stage
  * (`preprocessing/edges.py:30-100`, `learning/taggers.py:126-185`,
  * `structures/data.py:276-294,1997-2015`) as declarative joins.
  */
object EdgeGen {

  /** Sentence-distance edge generation inside one turn — exact semantics
    * of `SentenceDistanceEdgeGenerator` (`edges.py:30-83`): the cross
    * product of class-1 × class-2 mentions of the same turn, the pair
    * sorted canonically (by offset; sentence indices sorted too), kept
    * when the sentence distance equals `distance` (None = any).
    *
    * Typed-Dataset self-join on (conv_id, turn_idx): a single shuffle on
    * the conversation key, which is also the table's storage partitioning
    * — on bucketed/Iceberg inputs Catalyst elides it entirely.
    */
  def sentenceDistance(mentions: Dataset[Mention], class1: String, class2: String,
                       relType: String, distance: Option[Int]): Dataset[EdgeRow] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val m1 = mentions.filter(_.class_id == class1)
      .toDF("conv_id", "turn_idx", "s1", "c1", "b1", "e1", "t1", "cf1", "n1")
    val m2 = mentions.filter(_.class_id == class2)
      .toDF("conv_id2", "turn_idx2", "s2", "c2", "b2", "e2", "t2", "cf2", "n2")
    val joined = m1.join(m2,
      m1("conv_id") === m2("conv_id2") && m1("turn_idx") === m2("turn_idx2") &&
        (distance match {
          case Some(d) => abs(m1("s1") - m2("s2")) === d
          case None    => lit(true)
        }))
    // canonical ordering: entity with smaller offset first (`edges.py:72-76`)
    joined.select(
      $"conv_id",
      lit(relType).as("rel_type"),
      $"turn_idx".as("turn1"), $"turn_idx2".as("turn2"),
      least($"s1", $"s2").as("sent1"), greatest($"s1", $"s2").as("sent2"),
      when($"b1" <= $"b2", $"c1").otherwise($"c2").as("class1"),
      when($"b1" <= $"b2", $"t1").otherwise($"t2").as("text1"),
      least($"b1", $"b2").as("begin1"),
      when($"b1" <= $"b2", $"c2").otherwise($"c1").as("class2"),
      when($"b1" <= $"b2", $"t2").otherwise($"t1").as("text2"),
      greatest($"b1", $"b2").as("begin2"),
      lit(0).as("turn_dist"),
      (greatest($"s1", $"s2") - least($"s1", $"s2")).cast("int").as("sent_dist")
    ).as[EdgeRow]
  }

  /** North-rule turn-window edge generation over *grouped* mentions
    * (see GazetteerTagger.grouped): class-1 mention groups joined to
    * class-2 mention groups of the same conversation with
    * m2.turn_idx BETWEEN m1.turn_idx AND m1.turn_idx + window.
    *
    * Output one row per (conv, turn1, turn2, word1, word2) with min
    * offsets and the pair multiplicity — the aggregation-before-join keeps
    * the shuffle proportional to distinct surface forms per turn, and the
    * band predicate stays inside the conv_id sort-merge join (no
    * cartesian).
    */
  def turnWindow(grouped: DataFrame, class1: String, class2: String,
                 relType: String, window: Int): DataFrame = {
    val m1 = grouped.filter(col("class_id") === class1)
      .select(col("conv_id"), col("turn_idx").as("turn1"), col("word").as("word1"),
        col("begin").as("begin1"), col("n_occ").as("n1"))
    val m2 = grouped.filter(col("class_id") === class2)
      .select(col("conv_id").as("conv_id2"), col("turn_idx").as("turn2"),
        col("word").as("word2"), col("begin").as("begin2"), col("n_occ").as("n2"))
    m1.join(m2, m1("conv_id") === m2("conv_id2") &&
        m2("turn2").between(m1("turn1"), m1("turn1") + window))
      .select(col("conv_id"), lit(relType).as("rel_type"),
        col("turn1"), col("turn2"), col("word1"), col("word2"),
        col("begin1"), col("begin2"),
        (col("turn2") - col("turn1")).cast("int").as("turn_dist"),
        (col("n1") * col("n2")).as("n_pairs"))
  }

  /** `CombinatorEdgeGenerator` (`edges.py:86-100`): the union of several
    * edge generators' outputs. The reference appends into the shared
    * mutable edge list per part (`rewrite_edges=False` accumulates);
    * relationally that is unionByName + dedup on the edge identity —
    * the same candidate produced by two generators (e.g. overlapping
    * distance settings) must count once.
    */
  def combine(edgeSets: Seq[Dataset[EdgeRow]]): Dataset[EdgeRow] = {
    require(edgeSets.nonEmpty)
    edgeSets.reduce(_ unionByName _)
      .dropDuplicates("conv_id", "rel_type", "turn1", "turn2",
        "sent1", "sent2", "begin1", "begin2")
  }
}

object Triples {

  /** Entity string of a triple: `class|lower(text)` (`data.py:1997-2015`). */
  def entity(cls: String, text: String): String = s"$cls|${text.toLowerCase}"

  /** Canonical triple key of `Relation.map`: relType|e1|e2, the entity
    * strings swapped when class2 <= class1 (bidirectional order).
    */
  def key(relType: String, class1: String, e1: String, class2: String, e2: String): String =
    if (class2 <= class1) s"$relType|$e2|$e1" else s"$relType|$e1|$e2"

  /** Column form of [[entity]] over a word column. */
  def entityCol(cls: String, word: Column): Column = concat(lit(cls), lit("|"), lower(word))

  /** Column form of [[key]] over entity columns. */
  def keyCol(relType: String, class1: String, e1: Column, class2: String, e2: Column): Column =
    if (class2 <= class1) concat(lit(relType), lit("|"), e2, lit("|"), e1)
    else concat(lit(relType), lit("|"), e1, lit("|"), e2)

  /** Stub same-turn relation extraction → deduplicated document-level
    * triples. Semantics: `StubSameSentenceRelationExtractor`
    * (`taggers.py:154-173`; every distance-0 edge becomes a relation with
    * pred_target=+1, `data.py:276-294`) followed by the document-level
    * canonical dedup of `Document.map_relations`/`Relation.map`
    * (`data.py:1281-1310,1997-2015`) keyed by [[keyCol]].
    */
  def fromTurnEdges(edges: DataFrame, relType: String,
                    class1: String, class2: String): DataFrame = {
    val e1 = entityCol(class1, col("word1"))
    val e2 = entityCol(class2, col("word2"))
    edges.filter(col("turn_dist") === 0)
      .select(col("conv_id"), col("turn1").as("turn_idx"),
        lit(relType).as("pred"), e1.as("subj"), e2.as("obj"),
        keyCol(relType, class1, e1, class2, e2).as("key"))
      .groupBy(col("conv_id"), col("key"))
      .agg(min(col("turn_idx")).as("turn_idx"),
        first(col("pred")).as("pred"),
        first(col("subj")).as("subj"),
        first(col("obj")).as("obj"))
      .select("conv_id", "turn_idx", "pred", "subj", "obj", "key")
  }
}
