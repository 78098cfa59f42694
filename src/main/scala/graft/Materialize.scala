package graft

/** spark-submit entry for the checkpointed KG materialization:
  * `graft.Materialize <sfDir> <outputRoot> [--with-eval]
  * [--with-curation]` — runs (or resumes) the transcripts → mentions →
  * edges → triples → nodes stage chain with per-partition lineage (see
  * graft.ops.Stages); `--with-eval` additionally runs BOTH durable
  * evaluation routes — the mention-level total (eval_tokens →
  * eval_gold → eval_pred → mention_eval) and the per-subclass breakdown
  * (eval_gold_subclass → subclass_eval) — sharing the
  * `transcripts`/tokens/gold/pred stages; `--with-curation` runs the
  * durable curation chain (dup_pairs → dup_clusters → splits →
  * curation).
  */
object Materialize {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && !args.take(2).exists(_.startsWith("--")),
      "usage: graft.Materialize <sfDir> <outputRoot> [--with-eval] [--with-curation]")
    val Array(sfDir, root) = args.take(2)
    val withEval = args.contains("--with-eval")
    val withCuration = args.contains("--with-curation")
    val spark = Session.get()
    val reports = ops.Stages.materializeAll(spark, sfDir, root) ++
      (if (withEval)
         ops.Stages.materializeMentionEval(spark, sfDir, root) ++
           ops.Stages.materializeSubclassEval(spark, sfDir, root)
       else Nil) ++
      (if (withCuration) ops.Stages.materializeCuration(spark, sfDir, root)
       else Nil)
    reports.distinctBy(_.stage).foreach { r =>
      val n = spark.read.parquet(r.outputPath).count()
      println(s"[materialize] stage=${r.stage} skipped=${r.skipped} rows=$n path=${r.outputPath}")
    }
    spark.stop()
  }
}
