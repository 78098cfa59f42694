package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** Reader/writer contracts: PubTator round-trip, blank-line part split,
  * TSV, gold JSON with offset validation side-output.
  */
class FormatsSpec extends SparkSpec {

  test("PubTator: write then read round-trips docs and annotations") {
    import spark.implicits._
    val docs = Seq(("d1", "alpha beta gamma"), ("d2", "delta epsilon")).toDF("doc_id", "text")
    val anns = Seq(("d1", 0, 5, "alpha", "e_x"), ("d2", 6, 13, "epsilon", "e_y"))
      .toDF("doc_id", "begin", "end", "text", "class_id")
    val dir = Files.createTempDirectory("pubtator").toString
    Formats.toPubTator(docs, anns).select("value")
      .coalesce(1).write.mode("overwrite").text(dir)
    val (gotDocs, gotAnns) = Formats.fromPubTator(spark, dir)
    assert(gotDocs.select("doc_id", "text").as[(String, String)].collect().toSet ==
      Set(("d1", "alpha beta gamma"), ("d2", "delta epsilon")))
    assert(gotAnns.as[(String, Int, Int, String, String)].collect().toSet ==
      Set(("d1", 0, 5, "alpha", "e_x"), ("d2", 6, 13, "epsilon", "e_y")))
  }

  test("reference stub.pubtator parses: title+abstract docs, offset-valid anns") {
    import spark.implicits._
    // hand-made stub in the reference demo stub's shape (committed under
    // src/test/resources so the suite needs nothing outside the repo)
    val (docs, anns) = Formats.fromPubTator(spark,
      getClass.getResource("/corpora/demo/stub.pubtator").getPath)
    val d = docs.as[(String, String)].collect().toMap
    assert(d.contains("darkunit123"))
    assert(d("darkunit123").startsWith("I like trains"))
    // every annotation's span must match the document text (the shared
    // title+' '+abstract coordinate space of the reference reader)
    val bad = anns.as[(String, Int, Int, String, String)].collect().filter {
      case (id, b, e, t, _) =>
        !d.contains(id) || d(id).length < e || d(id).substring(b, e) != t
    }
    assert(bad.isEmpty, bad.take(3).mkString(", "))
    // the demo stub carries no annotation rows — the parse must simply
    // be empty, not fail
    assert(anns.count() == 0)
  }

  test("text-files reader: blank-line paragraphs become parts") {
    val dir = Files.createTempDirectory("txt")
    Files.writeString(dir.resolve("doc1.txt"), "para one here\n\npara two here")
    import spark.implicits._
    val got = Formats.fromTextFiles(spark, dir.toString)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("doc1", "p1", "para one here"), ("doc1", "p2", "para two here")))
  }

  test("gold JSON reader validates offsets and side-outputs violations") {
    val dir = Files.createTempDirectory("gold")
    Files.writeString(dir.resolve("g.json"),
      """{"doc_id":"d1","anncomplete":true,"text":"alpha beta","entities":[
        |{"class_id":"e_x","offset":0,"text":"alpha"},
        |{"class_id":"e_x","offset":6,"text":"WRONG"}]}""".stripMargin.replace("\n", ""))
    import spark.implicits._
    val (valid, violations) = Formats.goldFromJson(spark, dir.toString)
    assert(valid.select("doc_id", "class_id", "begin", "text")
      .as[(String, String, Int, String)].collect().toSet ==
      Set(("d1", "e_x", 0, "alpha")))
    assert(violations.count() == 1)
  }

  test("Medline XML reader: title + optional abstract parts per citation") {
    import spark.implicits._
    val dir = Files.createTempDirectory("medline")
    Files.writeString(dir.resolve("medline.test.xml"),
      """<?xml version="1.0"?>
        |<MedlineCitationSet>
        |  <MedlineCitation>
        |    <PMID>11111</PMID>
        |    <Article>
        |      <ArticleTitle>First title here</ArticleTitle>
        |      <Abstract><AbstractText>The abstract body.</AbstractText></Abstract>
        |    </Article>
        |  </MedlineCitation>
        |  <MedlineCitation>
        |    <PMID>22222</PMID>
        |    <Article>
        |      <ArticleTitle>Second title no abstract</ArticleTitle>
        |    </Article>
        |  </MedlineCitation>
        |</MedlineCitationSet>""".stripMargin)
    val got = Formats.fromMedline(spark, s"$dir/medline*xml")
      .as[(String, String, String, Boolean)].collect().toSet
    assert(got == Set(
      ("11111", "title", "First title here", false),
      ("11111", "abstract", "The abstract body.", true),
      ("22222", "title", "Second title no abstract", false)))
  }

  test("Verspoor reader: paragraph parts + window-cumsum offset re-basing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("verspoor")
    // raw coords: 18 (ignore line) + "First paragraph here." [18,39)
    //             + "\n\n" → "Second part text." starts at raw 41
    Files.writeString(dir.resolve("777-1-Body.txt"),
      "** IGNORE LINE **\nFirst paragraph here.\n\nSecond part text.\n\n")
    Files.writeString(dir.resolve("777-1-Body.ann"),
      "T1\tgene 48 52\tpart\n" +       // 'part' in p2 → begin 7
      "T2\tmutation 18 23\tFirst\n" +  // 'First' in p1 → begin 0
      "T3\tgene 18 23\tWrong\n")       // offset violation
    val (docs, anns, violations) = Formats.fromVerspoor(spark, dir.toString)
    val gotDocs = docs.as[(String, String, String, Boolean)].collect().toSet
    assert(gotDocs == Set(
      ("777", "1-Body-p1", "First paragraph here.", false),
      ("777", "1-Body-p2", "Second part text.", false)))
    val gotAnns = anns.as[(String, String, String, Int, String)].collect().toSet
    assert(gotAnns == Set(
      ("777", "1-Body-p2", "e_gene", 7, "part"),
      ("777", "1-Body-p1", "e_mut", 0, "First")))
    val v = violations.collect()
    assert(v.length == 1 && v.head.getAs[String]("observed") == "First"
      && v.head.getAs[String]("expected") == "Wrong")
  }

  test("Verspoor reader: Abstract parts flagged, last-part fallback for tail anns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("verspoor2")
    // no ignore line: p1 at raw 0 (len 5), p2 'tail text' at raw 7
    Files.writeString(dir.resolve("9-2-Abstract.txt"), "intro\n\ntail text")
    Files.writeString(dir.resolve("9-2-Abstract.ann"),
      "T1\tgene 12 16\ttext\n")  // beyond every successor offset → last part
    val (docs, anns, _) = Formats.fromVerspoor(spark, dir.toString)
    assert(docs.filter($"is_abstract").count() == 2)
    val got = anns.as[(String, String, String, Int, String)].collect().toSet
    assert(got == Set(("9", "2-Abstract-p2", "e_gene", 5, "text")))
  }

  test("ProteinResidue TSV: one part per entity, class mapping, other types dropped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("protres")
    Files.writeString(dir.resolve("corpus.tsv"),
      "9724744\tMutation\t38556\t38564\tAsp\t483\tAla\tD483A\n" +
      "9724744\tAminoacidResidue\t30956\t30960\tAsp\t450\tNULL\tD450\n" +
      "9724744\tGene\t100\t104\tx\ty\tz\tskipme\n")
    val (docs, anns) = Formats.fromProteinResidueTsv(spark, s"$dir/corpus.tsv")
    assert(docs.as[(String, String, String)].collect().toSet == Set(
      ("9724744", "Mutation|38556|38564", "D483A"),
      ("9724744", "AminoacidResidue|30956|30960", "D450")))
    assert(anns.as[(String, String, String, Int, String)].collect().toSet == Set(
      ("9724744", "Mutation|38556|38564", "e_mut", 38556, "D483A"),
      ("9724744", "AminoacidResidue|30956|30960", "e_res", 30956, "D450")))
  }

  test("mergeAnnotators: union + shortest resolves overlaps") {
    import spark.implicits._
    val a = Seq(("d1", "e_x", 0, "alpha beta"), ("d1", "e_x", 20, "gamma"))
      .toDF("doc_id", "class_id", "begin", "text")
    val b = Seq(("d1", "e_x", 0, "alpha"), ("d1", "e_y", 40, "delta"))
      .toDF("doc_id", "class_id", "begin", "text")
    val union = Formats.mergeAnnotators(a, b, "union", "shortest")
      .as[(String, String, Int, String)].collect().toSet
    // overlap (alpha beta ~ alpha) -> shortest wins; rest unioned
    assert(union == Set(
      ("d1", "e_x", 0, "alpha"), ("d1", "e_x", 20, "gamma"), ("d1", "e_y", 40, "delta")))
    val inter = Formats.mergeAnnotators(a, b, "intersection", "longest")
      .as[(String, String, Int, String)].collect().toSet
    assert(inter == Set(("d1", "e_x", 0, "alpha beta")))
    val prio = Formats.mergeAnnotators(a, b, "intersection", "priority")
      .as[(String, String, Int, String)].collect().toSet
    assert(prio == Set(("d1", "e_x", 0, "alpha beta"))) // left annotator wins
  }

  test("mergeAnnotators: different classes never merge") {
    import spark.implicits._
    val a = Seq(("d1", "e_x", 0, "alpha")).toDF("doc_id", "class_id", "begin", "text")
    val b = Seq(("d1", "e_y", 0, "alpha")).toDF("doc_id", "class_id", "begin", "text")
    assert(Formats.mergeAnnotators(a, b, "union", "shortest").count() == 2)
    assert(Formats.mergeAnnotators(a, b, "intersection", "shortest").count() == 0)
  }
}
