package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.{col, struct, sum, xxhash64}

/** graft.Profile over synthetic in-memory queries (the sfDir argument is
  * never read), plus the one-session-builder guard.
  */
class ProfileSpec extends SparkSpec {

  private val grouped: Profile.Query = (s, _) =>
    s.range(0, 1000).selectExpr("id % 7 AS k", "id").groupBy("k").agg(sum("id").as("s"))
  private val boom: Profile.Query = (_, _) => throw new IllegalStateException("boom")

  private def measure(reps: Int, planDir: Option[String], qs: (String, Profile.Query)*) =
    Profile.measure(spark, qs, "unused", reps, planDir).toList

  test("a rep's rows and checksum equal a direct computation; shuffle bytes are counted") {
    val Seq(Right(r)) = measure(1, None, "grouped" -> grouped)
    val df = grouped(spark, "unused")
    val hashes = df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))
      .collect().map(_.getLong(0))
    assert(r.reps.map(_("rows")) == Seq(7L))
    val (jobWall, wall) = (r.reps.head("job_wall_s"), r.reps.head("wall_s"))
    assert(0 < jobWall && jobWall <= wall, s"job_wall_s $jobWall ns, wall_s $wall ns")
    assert(r.reps.head("checksum") == hashes.foldLeft(0L)(_ ^ _))
    assert(r.total("shuffle_write_bytes") > 0 && r.total("shuffle_read_bytes") > 0)
    assert(r.json("unused").startsWith("""{"query":"grouped","sf":"unused","reps":[{"rows":7,"""))
  }

  test("reps are attributed by job group: equal per rep, summing to what the session ran") {
    val jobs, tasks, written = new AtomicLong
    val all = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        tasks.incrementAndGet()
        written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(all)
    val r = try measure(2, None, "grouped" -> grouped).head.toOption.get
    finally spark.sparkContext.removeSparkListener(all)
    val Seq(a, b) = r.reps
    assert(a("tasks") > 0 && a("tasks") == b("tasks") && a("jobs") == b("jobs"))
    assert(Profile.Fields.forall(f => r.total(f) == a(f) + b(f)))
    // everything the session ran but the one-task drain job is attributed
    assert(r.total("jobs") + 1 == jobs.get)
    assert(r.total("tasks") + 1 == tasks.get)
    assert(r.total("shuffle_write_bytes") == written.get)
    assert(Seq(0, 1).forall(rep => r.slowest.exists(_.contains(s""""rep":$rep,"""))))
  }

  test("a throwing query and an unknown name are named failures; the others still report") {
    val out = measure(1, None, "a" -> grouped, "boom" -> boom, "b" -> grouped)
    assert(out.collect { case Left(n) => n } == Seq("boom"))
    assert(out.collect { case Right(r) => r.query } == Seq("a", "b"))
    assert(Profile.run(Array("kg_triples,no_such_query", "unused")) == 1)
  }

  test("reps = 0 with a plan dir only writes the formatted plan") {
    val dir = Files.createTempDirectory("profile-plans")
    val Seq(Right(r)) = measure(0, Some(dir.toString), "grouped" -> grouped)
    val plan = new String(Files.readAllBytes(dir.resolve("grouped.txt")), "UTF-8")
    assert(plan.contains("== Physical Plan ==") && plan.contains("HashAggregate"))
    assert(r.reps.isEmpty && r.total("tasks") == 0 && r.total("jobs") == 0)
  }

  test("only Session, Bench and Verify build a SparkSession in src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSet
    assert(builders == Set("Session.scala", "Bench.scala", "Verify.scala"))
  }
}
