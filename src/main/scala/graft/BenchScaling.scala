package graft

/** Scaling-efficiency evidence for the north_rule criterion
  * (throughput scaling ≥ 0.8 from N to 4N executors), using the sandbox
  * proxy: the SAME job at local[cores/4] vs local[cores] (all of this
  * machine's cores) on identical input.
  *
  * Input: seeded synthetic transcripts (no external data), large enough
  * that fixed plan/JVM overhead is amortized. The job is the fused
  * one-shuffle extraction pipeline (KgPipeline.triples, stub scoring) —
  * the same operator the turns/sec headline measures.
  *
  * Usage: `runMain graft.BenchScaling [nConvs] [turnsPerConv] [cpuList] [reps]`
  * Prints one JSON line; paste/record into BENCH.md.
  */
object BenchScaling {

  private val subjGaz = Map(
    "svc_auth" -> "e_svc", "svc_billing" -> "e_svc", "svc_search" -> "e_svc",
    "job_etl" -> "e_svc", "agent_planner" -> "e_svc",
    "db_users" -> "e_res", "db_orders" -> "e_res", "idx_docs" -> "e_res",
    "topic_events" -> "e_res", "cache_main" -> "e_res")

  /** This machine's cores, read before any pin narrows the JVM's mask. */
  private val cores = Runtime.getRuntime.availableProcessors

  /** Pin ALL threads of this JVM to the first `cpus` cores — makes
    * local[N] behave like an N-core machine (GC and memory pressure
    * included) instead of an N-task-slot slice of the whole box, while
    * keeping one warm JIT across measurements.
    */
  private def pin(cpus: Int): Unit = {
    val pid = ProcessHandle.current().pid()
    val range = s"0-${cpus - 1}"
    new ProcessBuilder("taskset", "-a", "-p", "-c", range, pid.toString)
      .redirectErrorStream(true).start().waitFor()
  }

  def run(cpus: Int, nConvs: Int, turns: Int): (Long, Double) = {
    pin(cpus)
    val spark = Session.get(cpus)
    // KgPipeline.triples sizes its one shuffle from this value
    spark.conf.set("spark.sql.shuffle.partitions", cpus * 2)
    // input materialized to parquet once (see main): the measured job is
    // scan → pipeline, like production — generation cost excluded
    import spark.implicits._
    val turnsDs = spark.read.parquet(inputPath(nConvs, turns))
      .as[graft.model.Turn]
    val cfg = ops.KgPipeline.Config("r_uses", "e_svc", "e_res",
      window = 1, tokenizer = "generic")
    // full workload: edge features + broadcast linear scoring (an
    // all-positive model — every candidate pays the real feature cost)
    val scorer = Some(ops.RelationScoring.LinearModel(
      new Array[Double](ops.RelationScoring.Dims), b = 1.0))
    def once(): Double = {
      val t0 = System.nanoTime()
      ops.KgPipeline.triples(turnsDs, cfg, None, subjGaz, scorer).count()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    val t = math.min(once(), once())
    val total = nConvs.toLong * turns
    spark.stop()
    pin(cores)
    (total, total / t)
  }

  private def inputPath(nConvs: Int, turns: Int): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_scaling_${nConvs}_$turns"

  private def materializeInput(nConvs: Int, turns: Int): Unit = {
    val spark = Session.get(cores)
    val path = inputPath(nConvs, turns)
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      ops.Transcripts.synthetic(spark, nConvs, turns)
        .repartition(64).write.mode("overwrite").parquet(path)
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nConvs = if (args.length > 0) args(0).toInt else 20000
    val turns = if (args.length > 1) args(1).toInt else 5
    materializeInput(nConvs, turns)
    materializeInput(math.max(nConvs / 10, 1000), turns) // warmup input
    // interleaved repetitions inside ONE warm JVM: JIT state is shared,
    // order bias cancels, best-per-level is the achievable throughput
    val cpuList = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
      else Seq(math.max(1, cores / 4), cores)
    val reps = if (args.length > 3) args(3).toInt else 3
    run(cores, math.max(nConvs / 10, 1000), turns) // global JIT/codegen warmup, unmeasured
    var n = 0L
    val best = scala.collection.mutable.Map.empty[Int, Double]
    (1 to reps).foreach { _ =>
      cpuList.foreach { c =>
        val (nn, tps) = run(c, nConvs, turns)
        n = nn
        if (tps > best.getOrElse(c, 0.0)) best(c) = tps
      }
    }
    val tpsByCpu = cpuList.distinct.sorted
      .map(c => s""""$c":${best(c)}""").mkString("{", ",", "}")
    val lo = cpuList.min; val hi = cpuList.max
    val eff = (best(hi) / best(lo)) / (hi.toDouble / lo)
    println(s"""{"metric":"scaling_efficiency","turns":$n,"turns_per_sec":$tpsByCpu,"efficiency":$eff}""")
  }
}
