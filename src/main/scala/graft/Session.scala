package graft

import org.apache.spark.sql.SparkSession

/** The one `SparkSession` factory for graft's tools and test suites:
  * master `local[cpus]` (or the `SPARK_MASTER` deployment address, for
  * spark-submit entries such as [[Materialize]]), `cpus` shuffle
  * partitions, UTC session time, no UI, WARN logging. AQE is left at
  * Spark's default (on). Idempotent: a live session is returned with its
  * shuffle partitions and time zone re-set to these values.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, or every core of this machine when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def get(cpus: Int = Session.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
