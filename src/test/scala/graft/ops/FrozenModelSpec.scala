package graft.ops

import graft.{FreezeModels, SparkSpec}

/** Frozen trained-model regression guards: the committed artifacts under
  * src/test/resources/models/ were trained by `graft.FreezeModels` on the
  * seeded synthetic tasks; loading them and re-checking held-out quality
  * pins the LEARNED route against drift — a change to token feature
  * naming, the feature hash, label conventions or the decode path makes a
  * previously-trained model score garbage, and THIS spec (not a user's
  * production model) is what fails. After an intentional feature change,
  * re-freeze: sbt "runMain graft.FreezeModels src/test/resources/models".
  */
class FrozenModelSpec extends SparkSpec {

  private val root = "src/test/resources/models"

  test("frozen CRF still tags the held-out synthetic task at F1 >= 0.95") {
    val model = ModelIO.loadCrf(spark, s"$root/frozen_crf")
    val heldOut = FreezeModels.crfGold(100 until 120)
    var tp = 0; var fp = 0; var fn = 0
    heldOut.foreach { case (feats, gold) =>
      val pred = Crf.viterbi(model, feats)
      pred.zip(gold).foreach {
        case (p, g) if p == g && g != "O" => tp += 1
        case (p, g) if p != g && p != "O" => fp += 1
        case (p, g) if p != g && g != "O" => fn += 1
        case _ =>
      }
    }
    val prec = tp.toDouble / (tp + fp)
    val rec = tp.toDouble / (tp + fn)
    val f1 = 2 * prec * rec / (prec + rec)
    assert(f1 >= 0.95, s"frozen CRF drifted: f1=$f1 tp=$tp fp=$fp fn=$fn — " +
      "if the feature change was intentional, re-run graft.FreezeModels")
  }

  test("frozen linear scorer still extracts held-out triples at P/R >= 0.95") {
    val model = ModelIO.loadLinear(spark, s"$root/frozen_linear")
    val cfg = FreezeModels.relationCfg
    var tp = 0L; var fp = 0L; var fn = 0L
    (200 until 260).foreach { c =>
      val turns = (0 until 5).map(t => Transcripts.syntheticTurn(c, t, 42L))
      val pred = KgPipeline.processConversation(f"conv_$c%06d", turns, cfg,
        FreezeModels.dictTagger, Some(model)).map(_.key).toSet
      val gold = FreezeModels.goldKeys(c, 5)
      tp += (pred & gold).size
      fp += (pred -- gold).size
      fn += (gold -- pred).size
    }
    val p = tp.toDouble / (tp + fp)
    val r = tp.toDouble / (tp + fn)
    assert(p >= 0.95, s"frozen linear drifted: precision=$p (tp=$tp fp=$fp fn=$fn)")
    assert(r >= 0.95, s"frozen linear drifted: recall=$r (tp=$tp fp=$fp fn=$fn)")
  }

  test("a fresh FreezeModels linear training reproduces the committed weights exactly") {
    // held-out P/R cannot see a renamed feature that the model does not
    // need (a dependency label moving from conj to dep went unnoticed this
    // way); equal weights pin every trained index and value
    val committed = ModelIO.loadLinear(spark, s"$root/frozen_linear")
    val fresh = RelationScoring.train(
      FreezeModels.linearTrain(0 until 60, FreezeModels.relationCfg), epochs = 8)
    val differing = committed.w.indices.count(i => committed.w(i) != fresh.w(i))
    assert(differing == 0 && committed.b == fresh.b,
      s"$differing weights differ (bias ${committed.b} vs ${fresh.b}) — " +
        "if the feature change was intentional, re-run graft.FreezeModels")
  }
}
