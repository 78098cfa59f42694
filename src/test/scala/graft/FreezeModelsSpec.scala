package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import graft.ops.{Crf, RelationScoring}

/** FreezeModels.write must leave an unchanged artifact's files alone (the
  * committed part-file names and bytes), and rewrite only the artifact
  * whose model changed.
  */
class FreezeModelsSpec extends SparkSpec {

  /** relative path → bytes of every file under `dir` */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap

  test("write leaves unchanged artifacts' file names and bytes as they were") {
    val dir = Files.createTempDirectory("freeze_models")
    val crf = Crf.dictionaryModel(Map("merge" -> "op", "table" -> "obj"))
    val linear = RelationScoring.LinearModel(Array(0.0, 0.5, 0.0, -1.25), b = 0.1)
    val out = dir.toString
    assert(FreezeModels.write(spark, crf, linear, out) ==
      Seq(s"$out/frozen_crf", s"$out/frozen_linear"))
    val first = snapshot(dir)
    assert(first.keys.exists(_.startsWith("frozen_crf/emissions/part-")))

    assert(FreezeModels.write(spark, crf, linear, out).isEmpty)
    assert(snapshot(dir) == first)

    val retrained = linear.copy(w = Array(0.0, 0.5, 0.0, -1.0))
    assert(FreezeModels.write(spark, crf, retrained, out) == Seq(s"$out/frozen_linear"))
    val second = snapshot(dir)
    def under(snap: Map[String, Seq[Byte]], prefix: String) =
      snap.filter(_._1.startsWith(prefix))
    assert(under(second, "frozen_crf/") == under(first, "frozen_crf/"))
    assert(under(second, "frozen_linear/weights/part-").keySet !=
      under(first, "frozen_linear/weights/part-").keySet)
  }
}
