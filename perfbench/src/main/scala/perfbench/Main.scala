package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` builds it, generates the inputs
  * and calls it; see run.py for the contract.
  *
  *   run --workload W --cores N --seconds S --trace 0|1 --input P --warm P
  *       --oracle DIR --work DIR --out FILE [--replay-convs K]
  *       [--gen-seed S --gen-convs N --gen-warm-convs N]
  *   dump-sql FILE
  *   selftest --work DIR --docs DIR
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        argv.headOption match {
          case Some("run") => run(opts(argv.tail))
          case Some("dump-sql") => dumpSql(argv(1))
          case Some("selftest") => SelfTest.run(opts(argv.tail))
          case _ => System.err.println("usage: run|dump-sql|selftest ..."); 2
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          3
      }
    System.exit(code)
  }

  def opts(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  private def dumpSql(path: String): Int = {
    val sql = graft.SparkEntry.oracleSql
    val body = Seq("kg_scored", "kg_triples")
      .map(k => s"${jsonStr(k)}: ${jsonStr(sql(k))}").mkString("{", ", ", "}\n")
    java.nio.file.Files.writeString(new File(path).toPath, body)
    0
  }

  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3

  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  /** Measured run of one workload; writes its result JSON to --out. */
  private def run(o: Map[String, String]): Int = {
    val cores = o("cores").toInt
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val wl = Workloads.byName(o("workload"))
    def envOf(s: SparkSession) = Env(s, work, o("input"), o("warm"), o.getOrElse("oracle", ""))

    // set-up, several times: session start, model broadcast and a warm-up
    // rep over the small input, until the first timed rep. The seeded chat
    // input is generated (once per seed and size) inside the first
    // session, outside the set-up time.
    var spark: SparkSession = null
    var counters: Counters = null
    val setups = (1 to SetupReps).map { k =>
      if (spark != null) stop(spark)
      val (_, start) = Workloads.timed {
        spark = session(cores, work)
        counters = new Counters(spark.sparkContext)
      }
      if (k == 1) o.get("gen-seed").foreach { seed =>
        Workloads.generateChat(spark, o("input"), o("gen-convs").toInt, seed.toLong)
        Workloads.generateChat(spark, o("warm"), o("gen-warm-convs").toInt, seed.toLong)
        phase("inputs ready")
      }
      start + Workloads.timed(wl.warmup(envOf(spark)))._2
    }
    phase(s"set-up x$SetupReps: ${setups.map(x => f"$x%.2f").mkString(" ")}")
    val env = envOf(spark)
    wl.prepare(env)
    phase("expected outputs ready")

    // Reps run back to back for `seconds`. Those starting in the first
    // half are burn-in: under CPU contention the JIT keeps speeding reps
    // up for 10-15 s after set-up. They are checked, not reported.
    final case class Rep(out: RepOut, snap: Counters.Snap, steady: Boolean)
    val reps = mutable.ArrayBuffer.empty[Rep]
    val start = System.nanoTime()
    val steadyFrom = start + (seconds * 0.5e9).toLong
    val deadline = start + (seconds * 1e9).toLong
    while (!reps.exists(_.steady) || System.nanoTime() < deadline) {
      val steady = System.nanoTime() >= steadyFrom
      counters.reset()
      val out = wl.rep(env, reps.length)
      val snap = counters.snapshot(out.wallS, cores)
      val fails = out.failures ++
        (if (snap.failedTasks > 0) Seq(s"${snap.failedTasks} failed tasks") else Nil)
      reps += Rep(out.copy(failures = fails), snap, steady)
    }
    phase(s"reps (burn-in | steady): ${reps.map(r => f"${r.out.wallS}%.2f" +
      (if (r.steady) "" else "*")).mkString(" ")}")
    val good = reps.filter(r => r.steady && r.out.failures.isEmpty).toSeq
    reps.foreach(r => r.out.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f")))
    val turns = wl.turns.toDouble

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(f: Rep => Double): Double = if (good.isEmpty) 0.0 else Stats.median(good.map(f))
    if (!traced) {
      metrics("turns_per_s") = (if (good.isEmpty) 0.0 else turns / med(_.out.wallS), "turns/s")
      metrics("cpu_s_per_kturn") = (med(_.snap.cpuS) / (turns / 1000), "s/kturn")
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("peak_rss_mb") = (vmHwmMb(), "MB")
      metrics("batch_p50_s") = (if (good.isEmpty) 0.0 else Stats.median(good.flatMap(_.out.batchS)), "s")
    } else {
      metrics("bench.reps") = (good.length.toDouble, "count")
      metrics("bench.burnin_reps") = (reps.count(!_.steady).toDouble, "count")
      metrics("bench.batch_samples") = (good.map(_.out.batchS.length).sum.toDouble, "count")
      metrics("bench.rep_turns_per_s") = (if (good.isEmpty) 0.0 else turns / med(_.out.wallS), "turns/s")
      metrics("spark.jobs") = (med(_.snap.jobs.toDouble), "count")
      metrics("spark.stages") = (med(_.snap.stages.toDouble), "count")
      metrics("spark.tasks") = (med(_.snap.tasks.toDouble), "count")
      metrics("spark.shuffle_write_mb") = (med(_.snap.shuffleWriteMb), "MB")
      metrics("spark.shuffle_read_mb") = (med(_.snap.shuffleReadMb), "MB")
      metrics("spark.spill_mb") = (med(_.snap.spillMb), "MB")
      metrics("spark.gc_s") = (med(_.snap.gcS), "s")
      metrics("spark.run_s") = (med(_.snap.runS), "s")
      metrics("spark.cpu_s") = (med(_.snap.cpuS), "s")
      metrics("spark.task_skew") = (med(_.snap.taskSkew), "ratio")
      metrics("spark.slot_util") = (med(_.snap.slotUtil), "ratio")
      val extra = wl.tracedExtra(env).toSeq
      phase("traced extra ready")
      val layerKeys = good.flatMap(_.out.layer.keys).toSet
      (PerLayer.StageKeys ++ PerLayer.StreamKeys).foreach { k =>
        val v =
          if (layerKeys(k)) med(_.out.layer(k))
          else extra.flatMap(_.layer.get(k)).headOption.getOrElse(0.0)
        metrics(k) = (v, PerLayer.unitOf(k))
      }
      val (replayMetrics, replayFailures) =
        PerLayer.replay(env, wl, o.getOrElse("replay-convs", "200").toInt,
          s"${o("out")}.spans.json", (good.map(_.out) ++ extra).map(_.spans))
      metrics ++= replayMetrics
      val extraFailures = replayFailures ++ extra.flatMap(_.failures)
      extraFailures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
      if (extraFailures.nonEmpty) reps += Rep(RepOut(0, Nil, extraFailures), reps.head.snap, steady = false)
    }
    phase("per-layer numbers ready")
    stop(spark)
    phase("stopped")

    val failed = reps.count(_.out.failures.nonEmpty)
    val body = metrics.map { case (k, (v, u)) =>
      s"${jsonStr(k)}: {\"value\": ${num(v)}, \"unit\": ${jsonStr(u)}}"
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": ${failed == 0}, "attempted": ${reps.length}, "failed": $failed, "metrics": $body}"""
    java.nio.file.Files.writeString(new File(o("out")).toPath, result + "\n")
    if (failed == 0) 0 else 1
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Per-layer names and the traced replay. */
object PerLayer {
  val ReplayRounds = 3
  val StageKeys: Seq[String] =
    Workloads.StageNames.flatMap(s => Seq(s"stages.${s}_s", s"stages.${s}_rows",
      s"stages.${s}_parts", s"stages.${s}_write_mb")) :+ "stages.lineage_skew"
  val StreamKeys: Seq[String] = Seq("streaming.last_batch_s", "streaming.state_rows",
    "streaming.state_mb", "streaming.state_commit_s", "streaming.turns_reextracted",
    "streaming.batch_rows_per_s")

  def unitOf(k: String): String =
    if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_per_s")) "1/s"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_skew")) "ratio"
    else "count"

  /** Replays the first `convs` conversations of the workload's input on
    * one thread outside Spark, untraced then traced, and turns the spans into per-layer
    * self times. The traced keys must equal `processConversation`'s.
    */
  def replay(env: Env, wl: Workload, convs: Int, spansPath: String,
      repSpans: Seq[Seq[(String, Long, Long)]])
  : (Seq[(String, (Double, String))], Seq[String]) = {
    val (cfg, gaz, scorer) = wl.replayConfig
    val sample = wl.replayInput(env, convs)
    val nTurns = sample.map(_._2.length).sum.toDouble

    // untraced and traced passes alternate, so JIT warm-up favours
    // neither; the last traced pass keeps its spans and counters
    def offPass(): (Replay, Double) = {
      val r = new Replay(cfg, gaz, scorer)
      (r, Workloads.timed(sample.foreach { case (id, ts) => r.conversation(id, ts, Tracer.Off) })._2)
    }
    def onPass(): (Replay, Recorder, Seq[Set[String]], Double) = {
      val r = new Replay(cfg, gaz, scorer)
      val rec = new Recorder
      val (keys, s) = Workloads.timed(sample.zipWithIndex.map { case ((id, ts), i) =>
        rec.trace(i)
        rec.span("conv")(r.conversation(id, ts, rec))
      })
      (r, rec, keys, s)
    }
    val passes = (1 to ReplayRounds).map(_ => (offPass(), onPass()))
    val off = passes.last._1._1
    val offS = Stats.median(passes.map(_._1._2))
    val (on, rec, keys, onS) = passes.last._2
    val onMedS = Stats.median(passes.map(_._2._4))
    // stage boundaries of the measured reps: one trace per rep, the first
    // span of each is the whole chain and parents the rest
    repSpans.zipWithIndex.foreach { case (spans, r) =>
      rec.trace(-1 - r)
      var chain = -1
      spans.foreach { case (n, a, b) =>
        val id = rec.add(n, a, b, chain)
        if (chain < 0) chain = id
      }
    }
    rec.writeJson(spansPath, s""""workload": "${wl.name}", "conversations": ${sample.length}""")

    val tagger: IndexedSeq[graft.model.Tok] => Seq[(String, Int, Int)] =
      toks => toks.flatMap(t => gaz.get(t.word.toLowerCase).map(cls => (cls, t.begin, t.end)))
    val failures = sample.zip(keys).flatMap { case ((id, ts), got) =>
      val want = graft.ops.KgPipeline.processConversation(id, ts, cfg, tagger, scorer)
        .map(_.key).toSet
      if (got == want) None else Some(s"replay keys of $id differ from processConversation")
    }.take(3)

    val self = rec.selfSeconds
    val c = on.counts
    val seg = self("textops.segment")
    val parse = self("depgraph.parse")
    val kg = self("kgpipeline.foreachCandidate") + self("kgpipeline.emit") +
      self("kgpipeline.skipKey") + self("kgpipeline.cross_ctx")
    val layers = seg + self("tagger.tag") + parse + kg + self("relationscoring.scoreEdge")
    val other = math.max(onS - layers, 0.0)
    val pairs = c("kgpipeline.pairs").toDouble
    val convMs = off.convMs.toSeq
    val out = Seq(
      "textops.segment_s" -> (seg, "s"),
      "textops.sentences" -> (c("textops.sentences").toDouble, "count"),
      "textops.tokens" -> (c("textops.tokens").toDouble, "count"),
      "tagger.tag_s" -> (self("tagger.tag"), "s"),
      "tagger.mentions" -> (c("tagger.mentions").toDouble, "count"),
      "depgraph.parse_s" -> (parse, "s"),
      "depgraph.sentences" -> (c("depgraph.sentences").toDouble, "count"),
      "kgpipeline.self_s" -> (kg, "s"),
      "kgpipeline.net_self_s" -> (math.max(kg - seg - parse, 0.0), "s"),
      "kgpipeline.pairs" -> (pairs, "count"),
      "kgpipeline.pairs_skipped" -> (c("kgpipeline.pairs_skipped").toDouble, "count"),
      "kgpipeline.useful_ratio" -> (if (pairs == 0) 0.0 else c("kgpipeline.keys") / pairs, "ratio"),
      "kgpipeline.cross_ctx" -> (c("kgpipeline.cross_ctx").toDouble, "count"),
      "kgpipeline.conv_p50_ms" -> (if (convMs.isEmpty) 0.0 else Stats.median(convMs), "ms"),
      "kgpipeline.conv_max_ms" -> (if (convMs.isEmpty) 0.0 else convMs.max, "ms"),
      "relationscoring.score_s" -> (self("relationscoring.scoreEdge"), "s"),
      "relationscoring.edges_scored" -> (c("relationscoring.edges_scored").toDouble, "count"),
      "trace.wall_s" -> (onS, "s"),
      "trace.other_s" -> (other, "s"),
      "trace.coverage" -> (if (onS == 0) 0.0 else layers / onS, "ratio"),
      "trace.spans" -> (rec.size.toDouble, "count"),
      "trace.turns_per_s" -> (nTurns / onMedS, "turns/s"),
      "trace.untraced_turns_per_s" -> (nTurns / offS, "turns/s"),
      "trace.overhead_ratio" -> (onMedS / offS, "ratio"))
    (out, failures)
  }
}
