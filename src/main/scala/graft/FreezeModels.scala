package graft

import scala.util.Try
import org.apache.spark.sql.SparkSession
import graft.model.Tok
import graft.nlp.TextOps
import graft.ops._

/** Trains the two seeded reference models and freezes them with
  * [[graft.ops.ModelIO]] — the committed artifacts under
  * `src/test/resources/models/` are REGRESSION GUARDS: FrozenModelSpec
  * loads them and re-checks held-out P/R, so any drift in feature naming,
  * feature hashing or label conventions across rounds breaks the spec
  * instead of silently degrading every previously-trained model. The spec
  * also retrains the linear model and requires the committed weights
  * exactly, which catches renamed features that P/R alone does not. After
  * an INTENTIONAL feature change, re-freeze with:
  *
  *   sbt "runMain graft.FreezeModels src/test/resources/models"
  *
  * and commit the part files only (not the local `.crc` checksums). An
  * artifact whose model did not change keeps its files ([[write]]).
  */
object FreezeModels {

  val SubjClass = "e_svc"
  val ObjClass = "e_res"
  val RelType = "r_uses"

  val subjDict: Map[String, String] = Map(
    "svc_auth" -> SubjClass, "svc_billing" -> SubjClass,
    "svc_search" -> SubjClass, "job_etl" -> SubjClass,
    "agent_planner" -> SubjClass)
  val objDict: Map[String, String] = Map(
    "db_users" -> ObjClass, "db_orders" -> ObjClass, "idx_docs" -> ObjClass,
    "topic_events" -> ObjClass, "cache_main" -> ObjClass)
  val dict: Map[String, String] = subjDict ++ objDict

  def dictTagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    GazetteerTagger.sentenceTagger(dict)

  /** Gold-labeled CRF sentences over the seeded synthetic transcripts
    * (the CrfSpec task: planted subject/object surfaces get B- labels).
    */
  def crfGold(convs: Range): Seq[(IndexedSeq[List[String]], Seq[String])] =
    convs.flatMap { c =>
      (0 until 4).flatMap { t =>
        val turn = Transcripts.syntheticTurn(c, t, seed = 42L)
        TextOps.segment(turn.text, "generic").map { case (_, _, _, toks) =>
          val feats = Crf.features(toks)
          val labels = toks.map { tk =>
            if (subjDict.contains(tk.word)) "B-svc"
            else if (objDict.contains(tk.word)) "B-res"
            else "O"
          }
          (feats, labels: Seq[String])
        }
      }
    }

  /** Canonical gold triple keys of a synthetic conversation. */
  def goldKeys(conv: Int, nTurns: Int): Set[String] =
    (0 until nTurns).flatMap { t =>
      val turn = Transcripts.syntheticTurn(conv, t, seed = 42L)
      val words = turn.text.split("[ .]+")
      for {
        s <- words.find(subjDict.contains)
        o <- words.find(objDict.contains)
      } yield Triples.key(RelType, SubjClass, Triples.entity(SubjClass, s),
        ObjClass, Triples.entity(ObjClass, o))
    }.toSet

  /** Labeled relation training rows (the KgPipelineSpec task: an edge is
    * positive iff its same-sentence planted fact is gold).
    */
  def linearTrain(convs: Range,
                  cfg: KgPipeline.Config): Seq[(RelationScoring.Feats, Int)] =
    convs.flatMap { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      KgPipeline.trainingRows(f"conv_$c%06d", turns, cfg, dictTagger, goldKeys(c, 5))
    }

  def relationCfg: KgPipeline.Config =
    KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1, tokenizer = "generic")

  /** Writes `frozen_crf` and `frozen_linear` under `out`, each only when
    * its model differs, value by value, from the one already at the path:
    * ModelIO's overwrite names every part file afresh, so rewriting an
    * unchanged model would still replace its committed files. Returns the
    * paths written.
    */
  def write(spark: SparkSession, crf: Crf.Model,
            linear: RelationScoring.LinearModel, out: String): Seq[String] = {
    def crfValues(m: Crf.Model) = (m.labels, m.emissions.map { case (f, w) => f -> w.toSeq },
      m.transitions.map(_.toSeq).toSeq, m.start.toSeq, m.stop.toSeq)
    def linearValues(m: RelationScoring.LinearModel) = (m.w.toSeq, m.b)
    val crfPath = s"$out/frozen_crf"
    val linearPath = s"$out/frozen_linear"
    val writeCrf = !Try(ModelIO.loadCrf(spark, crfPath)).toOption
      .map(crfValues).contains(crfValues(crf))
    val writeLinear = !Try(ModelIO.loadLinear(spark, linearPath)).toOption
      .map(linearValues).contains(linearValues(linear))
    if (writeCrf) ModelIO.saveCrf(spark, crf, crfPath)
    if (writeLinear) ModelIO.saveLinear(spark, linear, linearPath)
    Seq(crfPath -> writeCrf, linearPath -> writeLinear).collect { case (p, true) => p }
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "src/test/resources/models"
    val spark = Session.get()
    val crf = Crf.train(crfGold(0 until 40), epochs = 5)
    val linear = RelationScoring.train(linearTrain(0 until 60, relationCfg), epochs = 8)
    val written = write(spark, crf, linear, out)
    println(s"frozen: $out/frozen_crf (${crf.emissions.size} features), " +
      s"$out/frozen_linear (${linear.w.count(_ != 0.0)} nonzero weights); " +
      s"written: ${if (written.isEmpty) "none (unchanged)" else written.mkString(", ")}")
    spark.stop()
  }
}
