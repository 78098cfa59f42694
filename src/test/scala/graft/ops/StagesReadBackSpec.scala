package graft.ops

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec

/** A stage that runs reads its output back with the schema it just wrote:
  * that schema equals what Parquet inference reads from the files, and
  * building the read-back starts no job.
  */
class StagesReadBackSpec extends SparkSpec {

  /** Jobs that `body` starts outside any SQL execution (no query runs
    * them: a schema-inferring read does).
    */
  private def inferenceJobsStartedBy(body: => Unit): Int =
    jobsStartedBy(body, outsideQueries = true)

  test("every materializeAll stage reads back with the schema it wrote, starting no job") {
    val root = Files.createTempDirectory("graft_stages_read_back").toString
    // the schema each stage's write was given, by output directory
    val written = new ConcurrentHashMap[String, StructType]
    val ql = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case c: InsertIntoHadoopFsRelationCommand =>
            written.put(c.outputPath.toUri.getPath, c.query.schema)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    val reports =
      try {
        var rs = Seq.empty[Stages.RunReport]
        // the run branch builds each read-back in this call
        assert(inferenceJobsStartedBy {
          rs = Stages.materializeAll(spark, "/root/testdata/sf0.001", root)
        } == 0)
        rs
      } finally spark.listenerManager.unregister(ql)
    assert(reports.map(_.stage) == Seq("transcripts", "mentions", "edges",
      "triples", "nodes", "crf_mentions", "scored"))
    assert(reports.forall(!_.skipped))
    // the check below bites: some stage writes a non-nullable column
    assert(reports.exists(r => written.get(new org.apache.hadoop.fs.Path(r.outputPath)
      .toUri.getPath).fields.exists(!_.nullable)))
    reports.foreach { r =>
      val out = new org.apache.hadoop.fs.Path(r.outputPath).toUri.getPath
      val schema = written.get(out)
      assert(schema != null, r.stage)
      var readBack: org.apache.spark.sql.DataFrame = null
      assert(inferenceJobsStartedBy {
        readBack = Stages.TableIO.readWritten(spark, r.outputPath, schema)
      } == 0, r.stage)
      val inferred = spark.read.parquet(r.outputPath).schema
      assert(readBack.schema == inferred, r.stage)
      assert(readBack.count() == spark.read.parquet(r.outputPath).count(), r.stage)
    }
    // the resume branch reads the files' own schema: one inference job
    assert(inferenceJobsStartedBy(Stages.TableIO.read(spark, reports.head.outputPath)) == 1)
  }
}
