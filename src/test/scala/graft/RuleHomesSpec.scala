package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Rules that batch and streaming operators, or both learners, share have
  * one definition under src/main/scala: a second copy fails here.
  */
class RuleHomesSpec extends AnyFunSuite {

  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap
  }

  /** Matches of `re` per source file, files without a match left out. */
  private def matches(re: Regex): Map[String, Int] =
    sources.map { case (f, s) => f -> re.findAllMatchIn(s).size }.filter(_._2 > 0)

  test("only Dedup.scala computes a SimHash or a MinHash signature") {
    assert(matches("""Hashes\.(simhash|minhash)\(""".r) ==
      Map("graft/ops/Dedup.scala" -> 2))
  }

  test("the SimHash block keys and the shingle-set Jaccard are written once, in Dedup.scala") {
    assert(matches("""0xffffL""".r) == Map("graft/ops/Dedup.scala" -> 1))
    assert(matches("""\.intersect\(""".r) == Map("graft/ops/Dedup.scala" -> 1))
  }

  test("the ANN top-k tail is written once, in Similarity.scala") {
    assert(matches("""round\(col\("sim"\), 6\)""".r) == Map("graft/ops/Similarity.scala" -> 1))
  }

  test("only the mixing helper broadcasts a model per training round") {
    val roundSeed = """seed \^ \(round\S* << 20\)""".r
    val roundBroadcast = """(?s)while \(\w+ < rounds\)[^}]*broadcast\(""".r
    assert(matches(roundSeed).keySet ++ matches(roundBroadcast).keySet ==
      Set("graft/ops/ParameterMixing.scala"))
  }
}
