package graft

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
  * and commit the part files only (not the local `.crc` checksums).
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
    toks => toks.flatMap(t => dict.get(t.word).map(c => (c, t.begin, t.end)))

  /** Gold-labeled CRF sentences over the seeded synthetic transcripts
    * (the CrfSpec task: planted subject/object surfaces get B- labels).
    */
  def crfGold(convs: Range): Seq[(IndexedSeq[List[String]], Seq[String])] =
    convs.flatMap { c =>
      (0 until 4).flatMap { t =>
        val turn = Transcripts.syntheticTurn(c, t, seed = 42L)
        TextOps.segment(turn.text, "generic").map { case (_, _, _, toks) =>
          val feats = Crf.tokenFeatures(toks).map(fs => "__bias__" :: fs)
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
      } yield {
        val m1 = graft.model.Mention(turn.conv_id, t, 0, SubjClass, 0, 0, s, 1.0, s)
        val m2 = graft.model.Mention(turn.conv_id, t, 0, ObjClass, 0, 0, o, 1.0, o)
        KgPipeline.tripleKey(RelType, m1, m2)
      }
    }.toSet

  /** Labeled relation training rows (the KgPipelineSpec task: an edge is
    * positive iff its same-sentence planted fact is gold).
    */
  def linearTrain(convs: Range,
                  cfg: KgPipeline.Config): Seq[(RelationScoring.Feats, Int)] =
    convs.flatMap { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val gold = goldKeys(c, 5)
      KgPipeline.candidateEdges(f"conv_$c%06d", turns, cfg, dictTagger,
          withFeatures = true)
        .map(cand => (RelationScoring.hashFeats(cand.feats),
          if (cand.sameSentence && gold.contains(cand.key)) 1 else -1))
    }

  def relationCfg: KgPipeline.Config =
    KgPipeline.Config(RelType, SubjClass, ObjClass, window = 1, tokenizer = "generic")

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "src/test/resources/models"
    val spark = Session.get()
    val crf = Crf.train(crfGold(0 until 40), epochs = 5)
    ModelIO.saveCrf(spark, crf, s"$out/frozen_crf")
    val linear = RelationScoring.train(linearTrain(0 until 60, relationCfg), epochs = 8)
    ModelIO.saveLinear(spark, linear, s"$out/frozen_linear")
    println(s"frozen: $out/frozen_crf (${crf.emissions.size} features), " +
      s"$out/frozen_linear (${linear.w.count(_ != 0.0)} nonzero weights)")
    spark.stop()
  }
}
