package graft.ops

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.Row
import graft.SparkSpec

/** The declared documents schema: it equals what Parquet inference reads
  * from a documents file, reads the same rows, spares the inference job,
  * and stays the only way the engine reads `documents.parquet`.
  */
class DocumentsSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val rows = (0L until 23L).map(i =>
    (i, s"w$i spark table", Seq("en", "de")(i.toInt % 2), s"src${i % 4}", 14L + i.toString.length))

  /** A documents dir whose file has the generators' column types. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("documents-schema").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("the declared schema is what inference reads; kg_transcripts is equal under both reads") {
    val inferred = spark.read.parquet(s"$dir/documents.parquet")
    assert(inferred.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq ==
      Transcripts.DocumentsSchema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
    assert(inferred.schema == Transcripts.DocumentsSchema)
    val declared = Transcripts.fromDocuments(spark, dir)
    val viaInference = Transcripts.fromDocuments(inferred)
    assert(declared.schema == viaInference.schema)
    def sorted(rs: Array[Row]) = rs.map(_.toSeq.mkString("\u0001")).sorted.toSeq
    assert(sorted(declared.collect()) == sorted(viaInference.collect()))
    assert(declared.count() == rows.length)
  }

  test("building the docs turns and the fused pipeline starts no job; an inferred read does") {
    val cfg = KgPipeline.Config("uses", GazetteerTagger.OpClass, GazetteerTagger.ObjClass)
    assert(jobsStartedBy {
      KgPipeline.triples(Segmentation.turns(Transcripts.fromDocuments(spark, dir)), cfg,
        None, GazetteerTagger.gazetteer, None)
    } == 0)
    assert(jobsStartedBy(spark.read.parquet(s"$dir/documents.parquet")) == 1)
  }

  test("a documents file with an INT32 doc_id reads the same rows, widened") {
    val d = Files.createTempDirectory("documents-int32").toString
    rows.map { case (i, t, l, s, n) => (i.toInt, t, l, s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.parquet(s"$d/documents.parquet")
    val got = Try(Transcripts.documents(spark, d).orderBy("doc_id")
      .as[(Long, String, String, String, Long)].collect().toSeq)
    // the pinned outcome: Spark widens INT32 to BIGINT; never silent nulls
    assert(got.toOption.contains(rows), got)
  }

  test("only Bench.scala reads documents.parquet with an inferred schema in src/main/scala") {
    val bare = """read\s*\.\s*parquet\s*\([^)]*documents\.parquet""".r
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val readers = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => bare.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).nonEmpty)
      .map(_.getFileName.toString).toSet
    assert(readers == Set("Bench.scala"))
  }
}
