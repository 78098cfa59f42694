package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for Spark-backed suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs that `body` starts, counted by job group once a later sentinel
    * job's end shows every earlier event has reached the listener bus.
    * With `outsideQueries` only jobs without a SQL execution id count (no
    * query runs them: a schema-inferring read does).
    */
  def jobsStartedBy(body: => Unit, outsideQueries: Boolean = false): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    var sentinel = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          p.getProperty("spark.jobGroup.id") match {
            case `group` if !outsideQueries || p.getProperty("spark.sql.execution.id") == null =>
              jobs.incrementAndGet()
            case g if g == group + "/sentinel" => sentinel = e.jobId
            case _ =>
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) drained.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job count")
      body
      sc.setJobGroup(group + "/sentinel", "job count")
      sc.parallelize(Seq(0), 1).count()
      assert(drained.await(2, TimeUnit.MINUTES), "listener bus did not drain")
      jobs.get
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.get(4)
}
