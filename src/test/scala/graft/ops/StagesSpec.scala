package graft.ops

import graft.SparkSpec
import java.nio.file.Files

/** Checkpoint-resume contract: first run executes all stages and writes
  * lineage; second run skips everything; deleting one stage's output
  * recomputes only that stage.
  */
class StagesSpec extends SparkSpec {

  test("materializeAll is checkpoint-resumable with per-partition lineage") {
    val root = Files.createTempDirectory("graft_stages").toString
    val first = Stages.materializeAll(spark, "/root/testdata/sf0.001", root)
    assert(first.forall(!_.skipped))
    assert(first.map(_.stage) == Seq("transcripts", "mentions", "edges",
      "triples", "nodes", "crf_mentions", "scored"))

    // outputs exist and are non-empty
    first.foreach { r =>
      assert(spark.read.parquet(r.outputPath).count() > 0, r.stage)
    }

    // lineage: per-partition rows for every executed stage, row counts
    // consistent with the materialized outputs
    val lineage = spark.read.parquet(s"$root/_lineage")
    val byStage = lineage.groupBy("stage").sum("output_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    first.foreach { r =>
      assert(byStage(r.stage) == spark.read.parquet(r.outputPath).count(), r.stage)
    }

    // resume: everything skips
    val second = Stages.materializeAll(spark, "/root/testdata/sf0.001", root)
    assert(second.forall(_.skipped))

    // partial resume: drop 'edges' → edges and downstream run, upstream skip.
    // (Stages below the deleted one are re-read, their outputs still exist.)
    def delete(p: String): Unit = {
      val dir = new java.io.File(p)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
    delete(s"$root/edges")
    delete(s"$root/triples")
    val third = Stages.materializeAll(spark, "/root/testdata/sf0.001", root)
    val skippedMap = third.map(r => r.stage -> r.skipped).toMap
    assert(skippedMap("transcripts") && skippedMap("mentions") && skippedMap("nodes"))
    assert(!skippedMap("edges") && !skippedMap("triples"))
    assert(skippedMap("crf_mentions") && skippedMap("scored"))

    // ML-route resume: killing a scoring run restarts at 'scored' only
    delete(s"$root/scored")
    val fourth = Stages.materializeAll(spark, "/root/testdata/sf0.001", root)
    val skipped4 = fourth.map(r => r.stage -> r.skipped).toMap
    assert(!skipped4("scored"))
    assert(fourth.filter(_.stage != "scored").forall(_.skipped))

    // crf_mentions stage parity with the declarative CRF query route
    val fromCrf = spark.read.parquet(s"$root/crf_mentions")
      .select("conv_id", "turn_idx", "begin", "end").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    val declCrf = graft.SparkEntry.queries("kg_crf_mentions")(spark, "/root/testdata/sf0.001")
      .select("conv_id", "turn_idx", "begin", "end").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(fromCrf == declCrf)

    // triples parity with the declarative query route
    val fromStages = spark.read.parquet(s"$root/triples")
      .select("conv_id", "key").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val declarative = graft.SparkEntry.queries("kg_triples")(spark, "/root/testdata/sf0.001")
      .select("conv_id", "key").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fromStages == declarative)
  }

  test("materializeMentionEval: durable resumable evaluation, parity with the driver query") {
    val root = Files.createTempDirectory("graft_eval_stages").toString
    val first = Stages.materializeMentionEval(spark, "/root/testdata/sf0.001", root)
    assert(first.map(_.stage) == Seq("transcripts", "eval_tokens", "eval_gold",
      "eval_pred", "mention_eval"))
    assert(first.forall(!_.skipped))
    // the materialized report equals the in-session driver query row
    val durable = spark.read.parquet(s"$root/mention_eval").collect()
    val inSession = graft.SparkEntry.queries("kg_mention_eval")(
      spark, "/root/testdata/sf0.001").collect()
    assert(durable.length == 1 && inSession.length == 1)
    assert(durable.head.toSeq == inSession.head.toSeq)
    // killed-run resume: losing pred tagging + the report restarts there
    // only — tokenization and gold tagging are read back, not re-run
    def delete(p: String): Unit = {
      val dir = new java.io.File(p)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
    delete(s"$root/eval_pred")
    delete(s"$root/mention_eval")
    val second = Stages.materializeMentionEval(spark, "/root/testdata/sf0.001", root)
    val skipped = second.map(r => r.stage -> r.skipped).toMap
    assert(skipped("transcripts") && skipped("eval_tokens") && skipped("eval_gold"))
    assert(!skipped("eval_pred") && !skipped("mention_eval"))
    assert(spark.read.parquet(s"$root/mention_eval").collect().head.toSeq ==
      durable.head.toSeq)
  }

  test("materializeSubclassEval: durable per-label breakdown, shares stages, parity with driver query") {
    val root = Files.createTempDirectory("graft_subcls_stages").toString
    // run the TOTAL route first: the subclass route must RESUME through
    // its shared front (transcripts/eval_tokens/eval_gold/eval_pred all
    // skipped) and add only its two route-specific stages
    Stages.materializeMentionEval(spark, "/root/testdata/sf0.001", root)
    val first = Stages.materializeSubclassEval(spark, "/root/testdata/sf0.001", root)
    assert(first.map(_.stage) == Seq("transcripts", "eval_tokens", "eval_gold",
      "eval_pred", "eval_gold_subclass", "subclass_eval"))
    val skipped0 = first.map(r => r.stage -> r.skipped).toMap
    assert(skipped0("transcripts") && skipped0("eval_tokens") &&
      skipped0("eval_gold") && skipped0("eval_pred"))
    assert(!skipped0("eval_gold_subclass") && !skipped0("subclass_eval"))
    // parity with the in-session kg_subclass_eval driver query
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val durable = rows(spark.read.parquet(s"$root/subclass_eval")
      .select("label", "tp", "fp", "fn", "fp_ov", "fn_ov"))
    val inSession = rows(graft.SparkEntry.queries("kg_subclass_eval")(
        spark, "/root/testdata/sf0.001")
      .select("label", "tp", "fp", "fn", "fp_ov", "fn_ov"))
    assert(durable == inSession && durable.nonEmpty)
    // killed-run resume of the breakdown itself
    def delete(p: String): Unit = {
      val dir = new java.io.File(p)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
    delete(s"$root/subclass_eval")
    val second = Stages.materializeSubclassEval(spark, "/root/testdata/sf0.001", root)
    val skipped = second.map(r => r.stage -> r.skipped).toMap
    assert(skipped("eval_gold_subclass") && !skipped("subclass_eval"))
    assert(rows(spark.read.parquet(s"$root/subclass_eval")
      .select("label", "tp", "fp", "fn", "fp_ov", "fn_ov")) == durable)
  }

  test("materializeCuration: durable dedup/split chain, parity with driver queries") {
    val root = Files.createTempDirectory("graft_cur_stages").toString
    val sf = "/root/testdata/sf0.001"
    val first = Stages.materializeCuration(spark, sf, root)
    assert(first.map(_.stage) ==
      Seq("dup_pairs", "dup_clusters", "splits", "curation"))
    assert(first.forall(!_.skipped))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // stage parity with the in-session driver queries
    assert(rows(spark.read.parquet(s"$root/dup_clusters")) ==
      rows(graft.SparkEntry.queries("dd_cluster")(spark, sf)))
    val durableSplits = rows(spark.read.parquet(s"$root/splits"))
    assert(durableSplits == rows(graft.SparkEntry.queries("txt_split")(spark, sf)))
    assert(rows(spark.read.parquet(s"$root/curation")) ==
      rows(graft.SparkEntry.queries("txt_curation")(spark, sf)))
    // killed-run resume: losing splits + curation must NOT re-run the
    // pair generation or the components closure
    def delete(p: String): Unit = {
      val dir = new java.io.File(p)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
    delete(s"$root/splits")
    delete(s"$root/curation")
    val second = Stages.materializeCuration(spark, sf, root)
    val skipped = second.map(r => r.stage -> r.skipped).toMap
    assert(skipped("dup_pairs") && skipped("dup_clusters"))
    assert(!skipped("splits") && !skipped("curation"))
    assert(rows(spark.read.parquet(s"$root/splits")) == durableSplits)
  }

  test("graft.Materialize without <sfDir> <outputRoot> fails with its usage line") {
    for (args <- Seq(Array.empty[String], Array("sf"), Array("--with-eval", "sf", "out"))) {
      val e = intercept[IllegalArgumentException](graft.Materialize.main(args))
      assert(e.getMessage.contains("usage: graft.Materialize <sfDir> <outputRoot>"),
        e.getMessage)
    }
  }
}
