package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-format readers/writers (SURVEY §2.1/§2.2) re-expressed as
  * DataFrame scans/sinks. The reference's readers build the in-memory
  * object tree one file at a time (`nalaf/utils/readers.py`); here every
  * format lands in the same flat `docs(doc_id, part_id, text)` /
  * `anns(doc_id, part_id, class_id, begin, text)` shape so the whole
  * pipeline downstream is format-agnostic.
  */
object Formats {

  // ---------------------------------------------------------------------
  // Readers
  // ---------------------------------------------------------------------

  /** `TextFilesReader` (`readers.py:147-189`): text files → one doc per
    * file, blank-line-separated paragraphs → parts. `wholetext` scan +
    * split + posexplode; doc id = file basename like the reference
    * (basename sans extension).
    */
  def fromTextFiles(spark: SparkSession, dir: String): DataFrame = {
    spark.read.option("wholetext", "true").text(dir)
      .select(input_file_name().as("path"), col("value"))
      .select(
        regexp_replace(element_at(split(col("path"), "/"), -1), "\\.txt$", "").as("doc_id"),
        posexplode(split(col("value"), "\n\\s*\n")))
      .select(col("doc_id"),
        concat(lit("p"), (col("pos") + 1).cast("string")).as("part_id"),
        col("col").as("text"))
  }

  /** PubTator reader (`TmVarReader`, `readers.py:440-509`): line blocks
    * `pid|t|title`, `pid|a|abstract`, and annotation rows
    * `pid \t begin \t end \t text \t class`. Abstract entity offsets are
    * title-relative after `len(title)+1` like the reference's split.
    * Returns (docs, anns).
    */
  def fromPubTator(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val lines = spark.read.text(path).filter(length(col("value")) > 0)
    val tit = lines.filter(col("value").rlike("^[^\\t|]+\\|t\\|"))
      .select(split(col("value"), "\\|", 3).as("p"))
      .select(col("p").getItem(0).as("doc_id"), col("p").getItem(2).as("title"))
    val abs = lines.filter(col("value").rlike("^[^\\t|]+\\|a\\|"))
      .select(split(col("value"), "\\|", 3).as("p"))
      .select(col("p").getItem(0).as("doc_id"), col("p").getItem(2).as("abstract"))
    val docs = tit.join(abs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", col("title"), col("abstract")).as("text"),
        length(col("title")).as("title_len"))
    val anns = lines.filter(col("value").contains("\t"))
      .select(split(col("value"), "\t").as("p"))
      .filter(size(col("p")) >= 5)
      .select(col("p").getItem(0).as("doc_id"),
        col("p").getItem(1).cast("int").as("begin"),
        col("p").getItem(2).cast("int").as("end"),
        col("p").getItem(3).as("text"),
        col("p").getItem(4).as("class_id"))
    (docs.drop("title_len"), anns)
  }

  /** `ProteinResidueCorpusPartialReader` (`readers.py:722-793`):
    * annotation-only 8-column TSV. The corpus carries no document text,
    * so — exactly like the reference — each entity becomes its own part
    * spanning the entity text, part id `type|start|end`, with one
    * annotation at the (document-global) start offset. Rows with other
    * entity types are dropped. Returns (docs, anns).
    */
  def fromProteinResidueTsv(spark: SparkSession, path: String,
                            mutClassId: String = "e_mut",
                            residueClassId: String = "e_res"): (DataFrame, DataFrame) = {
    val raw = spark.read.option("sep", "\t").csv(path)
      .toDF("doc_id", "typ", "start", "end", "c4", "c5", "c6", "entity_text")
      .filter(col("typ").isin("Mutation", "AminoacidResidue"))
      .select(col("doc_id"),
        concat_ws("|", col("typ"), col("start"), col("end")).as("part_id"),
        when(col("typ") === "Mutation", mutClassId)
          .otherwise(residueClassId).as("class_id"),
        col("start").cast("int").as("begin"),
        col("entity_text").as("text"))
    (raw.select("doc_id", "part_id", "text"),
      raw.select("doc_id", "part_id", "class_id", "begin", "text"))
  }

  /** `MedlineReader` (`readers.py:215-251`): Medline citation XML →
    * one doc per citation, parts `title` (is_abstract=false) and
    * optional `abstract` (is_abstract=true, the reference's Part
    * default). Whole-file scan + JDK DOM parse per file — no external
    * XML datasource needed; pass a glob like `dir/medline*xml` to mirror
    * the reference's filename filter.
    */
  def fromMedline(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(col("value")).as[String]
      .mapPartitions { files =>
        val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        factory.setNamespaceAware(false)
        val builder = factory.newDocumentBuilder()
        files.flatMap { xml =>
          val doc = builder.parse(new org.xml.sax.InputSource(
            new java.io.StringReader(xml)))
          val root = doc.getDocumentElement
          val kids = root.getChildNodes
          (0 until kids.getLength).iterator
            .map(kids.item)
            .collect { case e: org.w3c.dom.Element => e }
            .flatMap { cit =>
              // first descendant by tag, like the reference's child.iter()
              def first(tag: String): Option[String] = {
                val ns = cit.getElementsByTagName(tag)
                if (ns.getLength > 0) Option(ns.item(0).getTextContent) else None
              }
              (first("PMID"), first("ArticleTitle")) match {
                case (Some(pmid), Some(title)) =>
                  Seq((pmid, "title", title, false)) ++
                    first("AbstractText").map(a => (pmid, "abstract", a, true))
                case _ => Nil
              }
            }
        }
      }.toDF("doc_id", "part_id", "text", "is_abstract")
  }

  /** `VerspoorReader` (`readers.py:323-437`): paragraph `.txt` files named
    * `{docid}-{partid_prefix}.txt` plus brat-ish `.ann` TSVs with
    * document-global offsets. Paragraphs (blank-line split) become parts
    * `{prefix}-p{i+1}`; annotation offsets are re-based into their part
    * with a WINDOW-CUMSUM of preceding part lengths (+2 per `\n\n`
    * separator, + 18 per stripped `** IGNORE LINE **` header) — the
    * reference's running `tot_offset` re-expressed as
    * `sum(len+2) OVER (PARTITION BY file ORDER BY pos)`. Part selection
    * mirrors the reference exactly: first part whose successor offset
    * exceeds the annotation start, else the last part. Offset validation
    * (`calc_ann_text != text` print at `readers.py:425-427`) becomes a
    * violations side-output. Returns (docs, anns, violations).
    */
  def fromVerspoor(spark: SparkSession, dir: String,
                   mutClassId: String = "e_mut",
                   geneClassId: String = "e_gene"): (DataFrame, DataFrame, DataFrame) = {
    val ignoreLine = "\\*\\* IGNORE LINE \\*\\*\n"
    val files = spark.read.option("wholetext", "true").text(s"$dir/*.txt")
      .select(input_file_name().as("path"), col("value"))
      .select(
        regexp_replace(element_at(split(col("path"), "/"), -1), "\\.txt$", "").as("stem"),
        (length(col("value")) - length(regexp_replace(col("value"), ignoreLine, "")))
          .divide(18).cast("int").as("n_ignored"),
        regexp_replace(col("value"), ignoreLine, "").as("text"))
      .select(
        element_at(split(col("stem"), "-", 2), 1).as("doc_id"),
        element_at(split(col("stem"), "-", 2), 2).as("prefix"),
        col("stem"), (col("n_ignored") * 18).as("init_offset"),
        posexplode(split(col("text"), "\n\n")))
      .filter(length(col("col")) > 0)
      .select(col("doc_id"), col("prefix"), col("stem"), col("init_offset"),
        col("pos"), col("col").as("text"),
        concat(col("prefix"), lit("-p"), (col("pos") + 1).cast("string")).as("part_id"),
        col("prefix").contains("Abstract").as("is_abstract"))
    // window-cumsum: raw-coordinate start of each (non-empty) part
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stem").orderBy("pos")
    val parts = files
      .withColumn("offset_start",
        col("init_offset") + coalesce(sum(length(col("text")) + 2).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0)))
      .withColumn("next_offset",
        lead(col("offset_start"), 1, Long.MaxValue).over(w))
      .withColumn("part_rank", row_number().over(w))
    val docs = parts.select(col("doc_id"), col("part_id"), col("text"),
      col("is_abstract"))
    val rawAnns = spark.read.option("sep", "\t").csv(s"$dir/*.ann")
      .toDF("tid", "spec", "ann_text")
      .withColumn("stem",
        regexp_replace(element_at(split(input_file_name(), "/"), -1), "\\.ann$", ""))
      .filter(col("tid").startsWith("T"))
      .select(col("stem"), col("ann_text"),
        element_at(split(col("spec"), " "), 1).as("entity_type"),
        element_at(split(col("spec"), " "), 2).cast("long").as("start"),
        element_at(split(col("spec"), " "), 3).cast("long").as("end"))
      .filter(col("entity_type").isin("mutation", "gene"))
    // part pick: FIRST part whose successor's offset exceeds start, else
    // the last part (`readers.py:404-411`) — ascending offsets make that
    // the minimum qualifying part_rank
    val joined = rawAnns.join(parts.select(col("stem").as("stem_p"), col("part_id"),
        col("doc_id"), col("text").as("part_text"), col("offset_start"),
        col("next_offset"), col("part_rank")),
        col("stem") === col("stem_p") && col("next_offset") > col("start"))
    val pickW = org.apache.spark.sql.expressions.Window
      .partitionBy("stem", "start", "end", "ann_text", "entity_type")
      .orderBy("part_rank")
    val placed = joined.withColumn("rn", row_number().over(pickW))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("part_id"),
        when(col("entity_type") === "mutation", mutClassId)
          .otherwise(geneClassId).as("class_id"),
        (col("start") - col("offset_start")).cast("int").as("begin"),
        col("ann_text"),
        expr("substring(part_text, cast(start - offset_start + 1 as int), " +
          "cast(end - start as int))").as("observed"))
    val anns = placed.filter(col("observed") === col("ann_text"))
      .select(col("doc_id"), col("part_id"), col("class_id"), col("begin"),
        col("ann_text").as("text"))
    val violations = placed.filter(col("observed") =!= col("ann_text"))
      .select(col("doc_id"), col("part_id"), col("class_id"), col("begin"),
        col("ann_text").as("expected"), col("observed"))
    (docs, anns, violations)
  }

  /** Gold-annotation reader equivalent to `AnnJsonAnnotationReader`
    * (`utils/annotation_readers.py:35-205`): JSON docs with an entities
    * array; drops documents not marked complete; VALIDATES offsets
    * (entity text must equal the document substring,
    * `data.py:297-309`) — violations are side-output, not mutated away.
    * Returns (valid annotations, violations).
    */
  def goldFromJson(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val raw = spark.read.json(path)
    val exploded = raw.filter(col("anncomplete"))
      .select(col("doc_id"), col("text"), explode(col("entities")).as("e"))
      .select(col("doc_id"), col("text"),
        col("e.class_id").as("class_id"),
        col("e.offset").cast("int").as("begin"),
        col("e.text").as("ann_text"))
      .withColumn("observed",
        expr("substring(text, begin + 1, length(ann_text))"))
    val valid = exploded.filter(col("observed") === col("ann_text"))
      .select(col("doc_id"), col("class_id"), col("begin"), col("ann_text").as("text"))
    val violations = exploded.filter(col("observed") =!= col("ann_text"))
      .select(col("doc_id"), col("class_id"), col("begin"),
        col("ann_text").as("expected"), col("observed"))
    (valid, violations)
  }

  /** Multi-annotator merge (`AnnJsonMergerAnnotationReader`,
    * `utils/annotation_readers.py:208-330`) re-expressed relationally:
    * overlap-join the two annotators' mention sets (same doc + class,
    * char ranges intersect — Entity 'exact_or_overlapping' equality,
    * `data.py:1923-1941`), resolve each overlap by strategy
    * ('shortest' | 'longest' | 'priority' = left annotator wins), then
    *  - intersection: resolved overlaps only,
    *  - union: resolved overlaps + both sides' non-overlapping rest.
    * Ties and the reference's greedy index bookkeeping are replaced by
    * deterministic ranking (first overlap by begin); the reference
    * itself flags this reader as not thoroughly tested.
    * Mention schema: (doc_id, class_id, begin, text).
    */
  def mergeAnnotators(a: DataFrame, b: DataFrame, strategy: String = "union",
                      entityStrategy: String = "shortest"): DataFrame = {
    require(Set("union", "intersection")(strategy))
    require(Set("shortest", "longest", "priority")(entityStrategy))
    val keyCols = Seq("doc_id", "class_id", "begin", "text")
    val l = a.select(keyCols.map(col): _*)
      .withColumn("end", col("begin") + length(col("text")))
    val r = b.select(keyCols.map(col): _*).toDF(keyCols.map(_ + "_r"): _*)
      .withColumn("end_r", col("begin_r") + length(col("text_r")))
    val overlapped = l.join(r,
      col("doc_id") === col("doc_id_r") && col("class_id") === col("class_id_r") &&
        col("begin") < col("end_r") && col("end") > col("begin_r"))
    // one resolution per left mention: its first overlapping partner
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "class_id", "begin", "text")
      .orderBy(col("begin_r"), col("text_r"))
    val resolved = overlapped.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("pick_left", entityStrategy match {
        case "priority" => lit(true)
        case "shortest" => length(col("text")) <= length(col("text_r"))
        case "longest"  => length(col("text")) >= length(col("text_r"))
      })
      .select(col("doc_id"), col("class_id"),
        when(col("pick_left"), col("begin")).otherwise(col("begin_r")).as("begin"),
        when(col("pick_left"), col("text")).otherwise(col("text_r")).as("text"))
      .distinct()
    if (strategy == "intersection") resolved
    else {
      val lOnly = l.join(r,
        col("doc_id") === col("doc_id_r") && col("class_id") === col("class_id_r") &&
          col("begin") < col("end_r") && col("end") > col("begin_r"), "left_anti")
        .select(keyCols.map(col): _*)
      val rOnly = r.join(l,
        col("doc_id") === col("doc_id_r") && col("class_id") === col("class_id_r") &&
          col("begin") < col("end_r") && col("end") > col("begin_r"), "left_anti")
        .select(col("doc_id_r").as("doc_id"), col("class_id_r").as("class_id"),
          col("begin_r").as("begin"), col("text_r").as("text"))
      resolved.unionByName(lOnly).unionByName(rOnly).distinct()
    }
  }

  // ---------------------------------------------------------------------
  // Writers
  // ---------------------------------------------------------------------

  /** `PubTatorFormat` writer (`utils/writers.py:203-224`): docs + anns →
    * PubTator text blocks (one string per doc, ready for write.text).
    */
  def toPubTator(docs: DataFrame, anns: DataFrame): DataFrame = {
    val annLines = anns.select(col("doc_id"),
        concat_ws("\t", col("doc_id"), col("begin"), col("end"),
          col("text"), col("class_id")).as("line"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("line"))).as("ann_lines"))
    docs.join(annLines, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat(
          col("doc_id"), lit("|t|"), col("text"), lit("\n"),
          when(col("ann_lines").isNotNull, concat_ws("\n", col("ann_lines")))
            .otherwise(lit(""))).as("value"))
  }
}
