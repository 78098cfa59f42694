package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Plan-evidence tool (r6): dump `explain("formatted")` for every declared
  * query (or a comma-separated subset) into a directory in ONE warm JVM —
  * the per-round `plans/rNN/<query>_{before,after}.txt` artifacts the
  * optimization rounds commit as evidence.
  *
  *   sbt -batch "runMain graft.PlanDump <outDir> <suffix> [queries] [sfDir]"
  *
  * Exits 1, naming the failed queries, when any plan dump threw.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1) // "before" | "after"
    val only: Option[Set[String]] =
      if (args.length > 2 && args(2) != "all") Some(args(2).split(",").toSet) else None
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val failed = names.filterNot { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
        println(s"[plandump] $name -> $p (${plan.length} chars)")
        true
      } catch {
        case NonFatal(e) =>
          println(s"[plandump] $name FAILED: $e")
          false
      }
    }
    SparkEntry.clearCaches()
    spark.stop()
    // a partial evidence set must not pass for a complete one
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} of ${names.size} " +
        s"plan dumps FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
