package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, struct, xxhash64}

/** What a SparkEntry query did and where its time went, in one warm JVM:
  *
  *   sbt -batch "runMain graft.Profile <query|q1,q2|all> <sfDir> [reps] [--plan <dir>]"
  *
  * With `--plan`, writes each query's `explain("formatted")` to `<dir>/<query>.txt`;
  * then runs `reps` timed reps (default 3, 0 = plans only) and prints one JSON
  * line per query (see [[Report]]). Exits 1 naming every unknown or failed query.
  */
object Profile {
  type Query = (SparkSession, String) => DataFrame
  /** Named counters; the `_s` values are held in nanoseconds. */
  type Counts = Map[String, Long]
  /** Per-rep counters: `job_wall_s`, the time covered by the union of the
    * rep's job intervals (`wall_s - job_wall_s` ran on the driver alone),
    * then sums over the tasks of the rep's jobs.
    */
  val Fields: Vector[String] = Vector("job_wall_s", "jobs", "stages", "tasks", "run_s", "cpu_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
  private val zero: Counts = Fields.map(_ -> 0L).toMap
  private def plus(a: Counts, b: Counts): Counts =
    Fields.map(f => f -> (a.getOrElse(f, 0L) + b.getOrElse(f, 0L))).toMap
  private def json(c: Counts, keys: Seq[String]): String = keys.map { k =>
    if (k.endsWith("_s")) f""""$k":${c(k) / 1e9}%.3f""" else s""""$k":${c(k)}"""
  }.mkString(",")

  /** Per rep: `rows`, `checksum` (bit_xor of the rows' xxhash64), `wall_s`
    * and the [[Fields]]; the 10 slowest stages as rep-tagged JSON.
    */
  final case class Report(query: String, reps: Seq[Counts], slowest: Seq[String]) {
    def total: Counts = reps.foldLeft(zero)(plus)
    def json(sfDir: String): String = {
      val rs = reps.map(r => s"{${Profile.json(r, "rows" +: "checksum" +: "wall_s" +: Fields)}}")
      s"""{"query":"$query","sf":"$sfDir","reps":[${rs.mkString(",")}],""" +
        s"""${Profile.json(total, Fields)},"slowest_stages":[${slowest.mkString(",")}]}"""
    }
  }

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    val p = args.indexOf("--plan")
    val pos = if (p >= 0) args.patch(p, Nil, 2) else args
    require(pos.length >= 2 && (p < 0 || p + 1 < args.length),
      "usage: graft.Profile <query|q1,q2|all> <sfDir> [reps] [--plan <dir>]")
    val names = if (pos(0) == "all") SparkEntry.queries.keys.toSeq.sorted else pos(0).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) return failed("unknown", unknown)
    val sfDir = pos(1)
    val spark = Session.get()
    ops.Transcripts.documents(spark, sfDir).count() // warm-up
    val bad = measure(spark, names.map(n => n -> SparkEntry.queries(n)), sfDir,
        pos.lift(2).fold(3)(_.toInt), Option.when(p >= 0)(args(p + 1)))
      .flatMap(_.fold(Option(_), r => { println(r.json(sfDir)); None })).toList
    spark.stop()
    if (bad.isEmpty) 0 else failed("failed", bad)
  }

  private def failed(what: String, names: Seq[String]): Int = {
    System.err.println(s"[profile] $what: ${names.mkString(", ")}")
    1
  }

  /** Profiles each query in turn, lazily; one that throws comes back as
    * `Left(name)`. A rep is `fn(spark, sfDir)` plus a checksum of every
    * output column: a bare `.count()` lets Catalyst prune projections and
    * whole Window nodes out of the measured plan. Reps are told apart by
    * job group, so other work on the same session is not counted.
    */
  def measure(spark: SparkSession, queries: Seq[(String, Query)], sfDir: String,
              reps: Int, planDir: Option[String]): Iterator[Either[String, Report]] =
    queries.iterator.map { case (name, fn) =>
      val sc = spark.sparkContext
      val probe = new Probe(s"graft.Profile/$name/", reps)
      sc.addSparkListener(probe)
      try {
        planDir.foreach(d => Files.write(Files.createDirectories(Paths.get(d)).resolve(s"$name.txt"),
          fn(spark, sfDir).queryExecution.explainString(FormattedMode).getBytes(UTF_8)))
        val timed = (0 until reps).map { r =>
          sc.setJobGroup(probe.prefix + r, name)
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val row = df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
            .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).first()
          Map("rows" -> row.getLong(0), "checksum" -> row.getLong(1),
            "wall_s" -> (System.nanoTime() - t0))
        }
        // the listener bus hands one listener its events in post order, so
        // once the sentinel job's end arrives every rep's task ends have too
        sc.setJobGroup(probe.prefix + "drain", name)
        sc.parallelize(Seq(0), 1).count()
        if (!probe.drained.await(5, TimeUnit.MINUTES))
          throw new IllegalStateException("listener bus did not drain")
        Right(Report(name, timed.zip(probe.perRep).map { case (t, c) => t ++ c },
          probe.stages.sortBy(-_._1).take(10).map(_._2).toSeq))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[profile] $name FAILED: $e")
          Left(name)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(probe)
        SparkEntry.clearCaches()
      }
    }

  /** Maps each stage to the rep whose job group submitted it first and sums
    * that rep's task metrics. Events come on one listener thread; `drained`
    * publishes the fields to the caller.
    */
  private final class Probe(val prefix: String, reps: Int) extends SparkListener {
    val perRep: Array[Counts] = Array.fill(reps)(zero)
    val stages = mutable.ArrayBuffer.empty[(Long, String)] // (ms, JSON)
    val drained = new CountDownLatch(1)
    private val repOf = mutable.Map.empty[Int, Int]
    private val jobStart = mutable.Map.empty[Int, (Int, Long)] // job -> (rep, ms)
    private val jobSpans = Array.fill(reps)(mutable.ArrayBuffer.empty[(Long, Long)])
    private var drainJob = -1

    private def bump(r: Int, c: (String, Long)*): Unit = perRep(r) = plus(perRep(r), c.toMap)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).foreach {
          case "drain" => drainJob = e.jobId
          case r =>
            bump(r.toInt, "jobs" -> 1L)
            jobStart(e.jobId) = (r.toInt, e.time)
            e.stageIds.foreach(repOf.getOrElseUpdate(_, r.toInt))
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) {
        jobSpans.indices.foreach(r => bump(r, "job_wall_s" -> covered(jobSpans(r)) * 1000000L))
        drained.countDown()
      } else jobStart.remove(e.jobId).foreach { case (r, t0) => jobSpans(r) += t0 -> e.time }

    /** Milliseconds covered by the union of the [start, end] spans. */
    private def covered(spans: collection.Seq[(Long, Long)]): Long =
      spans.sorted.foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        (sum + math.max(0L, b - math.max(a, reach)), math.max(reach, b))
      }._1

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      repOf.get(i.stageId).foreach { r =>
        bump(r, "stages" -> 1L)
        val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        stages += ms -> (s"""{"stage":${i.stageId},"rep":$r,"ms":$ms,"tasks":${i.numTasks},""" +
          s""""name":"${i.name.take(60).replace("\"", "'")}"}""")
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (r <- repOf.get(e.stageId); m <- Option(e.taskMetrics))
        bump(r, "tasks" -> 1L, "run_s" -> m.executorRunTime * 1000000L, "cpu_s" -> m.executorCpuTime,
          "gc_s" -> m.jvmGCTime * 1000000L, "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}
