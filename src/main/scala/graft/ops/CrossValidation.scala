package graft.ops

import graft.model.{Tok, Turn}

/** k-fold cross-validated relation-extraction evaluation —
  * `Evaluations.cross_validate` (`learning/evaluators.py:332-349`):
  * fold split on sorted+seeded conversation keys (`Splits.kfold`,
  * seed 2727 like `data.py:494-498`), per fold train on the rest,
  * annotate the fold, evaluate doc-level, merge counts across folds
  * (`Evaluations.merge`, `evaluators.py:288-329` — disjoint doc sets,
  * so merging is summation).
  *
  * The fold loop runs on the driver (like the reference); training
  * collects the fold's candidate vectors; scoring/evaluation stay
  * per-conversation pure functions, distributable via KgPipeline when
  * conversations outgrow the driver.
  */
object CrossValidation {

  final case class FoldResult(fold: Int, counts: Evaluation.Counts)
  final case class CvResult(folds: Seq[FoldResult], merged: Evaluation.Counts,
                            prf: Evaluation.PRF)

  /** conversations: key → turns; gold: key → set of gold triple keys
    * (same-sentence facts labeled per `label_edges` part semantics).
    */
  def run(conversations: Map[String, Seq[Turn]],
          gold: Map[String, Set[String]],
          cfg: KgPipeline.Config,
          tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)],
          k: Int = 5, seed: Long = 2727L,
          epochs: Int = 8): CvResult = {
    val folds = Splits.kfold(conversations.keys.toSeq, k, seed)
    val results = (0 until k).map { f =>
      val trainKeys = conversations.keys.filter(c => folds(c) != f).toSeq.sorted
      val evalKeys = conversations.keys.filter(c => folds(c) == f).toSeq.sorted
      val trainData = trainKeys.flatMap(c => KgPipeline.trainingRows(c,
        conversations(c), cfg, tagger, gold.getOrElse(c, Set.empty)))
      val model = RelationScoring.train(trainData, epochs = epochs, seed = seed)
      var tp = 0L; var fp = 0L; var fn = 0L
      evalKeys.foreach { c =>
        val pred = KgPipeline.processConversation(c, conversations(c), cfg,
          tagger, Some(model)).map(_.key).toSet
        val g = gold.getOrElse(c, Set.empty)
        tp += (pred & g).size
        fp += (pred -- g).size
        fn += (g -- pred).size
      }
      FoldResult(f, Evaluation.Counts(tp, fp, fn, 0, 0))
    }
    val merged = results.map(_.counts).reduce { (a, b) =>
      Evaluation.Counts(a.tp + b.tp, a.fp + b.fp, a.fn + b.fn,
        a.fpOv + b.fpOv, a.fnOv + b.fnOv)
    }
    CvResult(results, merged, Evaluation.compute(merged, "exact"))
  }
}
