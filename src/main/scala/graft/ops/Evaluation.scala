package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.TokenizedSentence

/** Distributed evaluators — nalaf's `learning/evaluators.py` re-expressed
  * as joins + aggregations. Match mode is an explicit parameter, never the
  * reference's global `Entity.equality_operator` (`data.py:1901-1941`).
  */
object Evaluation {

  final case class Counts(tp: Long, fp: Long, fn: Long, fpOv: Long, fnOv: Long)
  final case class PRF(precision: Double, recall: Double, fMeasure: Double)

  /** P/R/F under 'exact' / 'overlapping' / 'half_overlapping' counting —
    * exact arithmetic of `Evaluation.compute` (`evaluators.py:28-66`).
    */
  def compute(c: Counts, strictness: String): PRF = {
    def safeDiv(n: Double, d: Double) = if (d == 0) 0.0 else n / d
    val (p, r) = strictness match {
      case "exact" =>
        (safeDiv(c.tp.toDouble, (c.tp + c.fp).toDouble),
         safeDiv(c.tp.toDouble, (c.tp + c.fn).toDouble))
      case "overlapping" =>
        val fp = c.fp - c.fpOv; val fn = c.fn - c.fnOv
        val tp = c.tp + c.fpOv + c.fnOv
        (safeDiv(tp.toDouble, (tp + fp).toDouble),
         safeDiv(tp.toDouble, (tp + fn).toDouble))
      case "half_overlapping" =>
        val fp = c.fp - c.fpOv; val fn = c.fn - c.fnOv
        val num = c.tp + (c.fpOv + c.fnOv) / 2.0
        val den = (c.tp + c.fpOv + c.fnOv).toDouble
        (safeDiv(num, den + fp), safeDiv(num, den + fn))
      case other =>
        throw new IllegalArgumentException(s"unknown strictness $other")
    }
    PRF(p, r, 2 * safeDiv(p * r, p + r))
  }

  /** Mention-level evaluation (`MentionLevelEvaluator.evaluate`,
    * `evaluators.py:372-497`): set-membership counting per document.
    * gold/pred schemas: (conv_id, class_id, begin, text). Entity equality:
    * exact = same (class, begin, text); overlap = same class, char ranges
    * intersect, NOT exact (`data.py:1923-1941`).
    *
    * Plan shape: both sides collapse to ONE array row per
    * (conv_id, class_id) group, meet in ONE full-outer sort-merge join,
    * and all five counts come from codegen'd higher-order array
    * functions (`filter`/`exists`) over the two span arrays — group
    * sizes are bounded by mentions-per-document-per-class, so the
    * nested scan is cheap and the whole evaluation is 3 shuffles. (The
    * first formulation — five semi/anti/theta-join branches unioned —
    * was 13 exchanges + 6 broadcast builds and ~10× slower on the
    * barrier-latency-dominated sandbox.) Exact-match counts are
    * symmetric (both sides are distinct sets, matching is a bijection),
    * so tp is computed once from the pred side and reused for fn.
    */
  /** The matching predicates shared by the TOTAL counting and the
    * subclass breakdown — one definition so a boundary change can never
    * diverge the two (the breakdown's per-label rows must always
    * decompose the TOTAL counts, asserted in EvaluationSpec).
    */
  private def exactEq(x: Column, y: Column): Column =
    x("begin") === y("begin") && x("text") === y("text")
  private def overlapsNotExact(x: Column, y: Column): Column =
    x("begin") < y("end") && x("end") > y("begin") && !exactEq(x, y)

  def mentionCountsByDoc(gold: DataFrame, pred: DataFrame): DataFrame = {
    def spans(df: DataFrame, out: String): DataFrame = df
      .select(col("conv_id"), col("class_id"), col("begin"), col("text"),
        (col("begin") + length(col("text"))).as("end")).distinct()
      .groupBy("conv_id", "class_id")
      .agg(collect_list(struct(col("begin"), col("end"), col("text"))).as(out))
    val ga = col("ga"); val pa = col("pa")
    val tpC = coalesce(size(filter(pa,
      x => exists(ga, y => exactEq(x, y)))), lit(0))
    val fpOvC = coalesce(size(filter(pa,
      x => !exists(ga, y => exactEq(x, y)) &&
        exists(ga, y => overlapsNotExact(x, y)))), lit(0))
    val fnOvC = coalesce(size(filter(ga,
      y => !exists(pa, x => exactEq(x, y)) &&
        exists(pa, x => overlapsNotExact(y, x)))), lit(0))
    spans(gold, "ga")
      .join(spans(pred, "pa"), Seq("conv_id", "class_id"), "full_outer")
      .select(col("conv_id"),
        tpC.as("tp"),
        (coalesce(size(pa), lit(0)) - tpC).as("fp"),
        (coalesce(size(ga), lit(0)) - tpC).as("fn"),
        fpOvC.as("fp_ov"), fnOvC.as("fn_ov"))
      .groupBy("conv_id")
      .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"),
        sum("fp_ov").as("fp_ov"), sum("fn_ov").as("fn_ov"))
  }

  /** (gold, pred) of the mention evaluations: gazetteer tokens vs the
    * dictionary CRF's runs (no confidence: same spans), keyed conv#turn.
    */
  def mentionEvalTables(toks: Dataset[TokenizedSentence]): (DataFrame, DataFrame) = {
    def byTurn(df: DataFrame): DataFrame = df.select(
      concat(col("conv_id"), lit("#"), col("turn_idx")).as("conv_id"),
      col("class_id"), col("begin"), col("text"))
    (byTurn(GazetteerTagger.tag(toks).toDF()),
      byTurn(Crf.tag(toks, Crf.dictionaryModel(GazetteerTagger.gazetteer),
        withConfidence = false).toDF()))
  }

  /** One-row mention-level evaluation report: the five corpus-wide counts
    * plus P/R/F under all three strictnesses — `Evaluation.compute`
    * (`evaluators.py:28-66`) re-stated as Column arithmetic so the whole
    * report (counting joins AND the strictness algebra) is ONE declarative
    * plan, and hence DuckDB-oracle-able end to end. F1 is computed from
    * the UNROUNDED precision/recall (matching [[compute]]); all doubles
    * are rounded to 6dp at the output boundary.
    */
  def mentionPrfReport(gold: DataFrame, pred: DataFrame): DataFrame = {
    def safeDiv(n: Column, d: Column): Column =
      when(d === 0.0, lit(0.0)).otherwise(n / d)
    def f1(p: Column, r: Column): Column =
      round(lit(2.0) * safeDiv(p * r, p + r), 6)
    // coalesce: empty inputs aggregate to NULL sums — the report must
    // still be one well-formed all-zero row
    val c = mentionCountsByDoc(gold, pred).agg(
      coalesce(sum("tp"), lit(0L)).as("tp"),
      coalesce(sum("fp"), lit(0L)).as("fp"),
      coalesce(sum("fn"), lit(0L)).as("fn"),
      coalesce(sum("fp_ov"), lit(0L)).as("fp_ov"),
      coalesce(sum("fn_ov"), lit(0L)).as("fn_ov"))
    // exact: tp / (tp+fp), tp / (tp+fn)
    val pE = safeDiv(col("tp").cast("double"), (col("tp") + col("fp")).cast("double"))
    val rE = safeDiv(col("tp").cast("double"), (col("tp") + col("fn")).cast("double"))
    // overlapping: overlap-matched fp/fn move into tp
    val tpO = col("tp") + col("fp_ov") + col("fn_ov")
    val fpO = col("fp") - col("fp_ov")
    val fnO = col("fn") - col("fn_ov")
    val pO = safeDiv(tpO.cast("double"), (tpO + fpO).cast("double"))
    val rO = safeDiv(tpO.cast("double"), (tpO + fnO).cast("double"))
    // half_overlapping: overlap matches count half
    val num = col("tp").cast("double") +
      (col("fp_ov") + col("fn_ov")).cast("double") / 2.0
    val den = (col("tp") + col("fp_ov") + col("fn_ov")).cast("double")
    val pH = safeDiv(num, den + fpO.cast("double"))
    val rH = safeDiv(num, den + fnO.cast("double"))
    c.select(
      col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
      col("fn").cast("long").as("fn"),
      col("fp_ov").cast("long").as("fp_ov"),
      col("fn_ov").cast("long").as("fn_ov"),
      round(pE, 6).as("exact_p"), round(rE, 6).as("exact_r"), f1(pE, rE).as("exact_f"),
      round(pO, 6).as("ov_p"), round(rO, 6).as("ov_r"), f1(pO, rO).as("ov_f"),
      round(pH, 6).as("half_p"), round(rH, 6).as("half_r"), f1(pH, rH).as("half_f"))
  }

  /** Per-SUBCLASS mention-level breakdown —
    * `MentionLevelEvaluator(subclass_analysis=True)`
    * (`evaluators.py:413-489`). Matching ignores the subclass (same
    * class+span semantics as the TOTAL counts); only the ATTRIBUTION of
    * each count to a label differs:
    *
    *  - label = str(subclass) unless 'None'/'False' → class_id
    *    (`labelize`, `evaluators.py:414-421`; subclass "0" stays "0" —
    *    the reference explicitly dodges the 0-vs-False trap).
    *  - a PREDICTED entity overlapping gold of a different label is
    *    re-attributed to the gold's label — the reference literally
    *    mutates `ann_b.subclass = ann_a.subclass` during the overlap
    *    pass (`evaluators.py:451-456`) and counts with the repaired
    *    label afterwards. Our deterministic equivalent: the effective
    *    label is the LAST overlapping gold in document (begin) order,
    *    matching the reference's iteration-order last-write-wins.
    *    NOTE the reference's "last" follows `part.annotations` LIST
    *    order, not offsets — the two coincide only when gold annotation
    *    lists arrive offset-sorted, which holds for every in-engine
    *    producer (tokenizers emit left-to-right); externally-loaded gold
    *    with out-of-order lists is normalized to offset order here.
    *  - GOLD entities always count under their own label.
    *
    * Output: (conv_id, label, tp, fp, fn, fp_ov, fn_ov) — one row per
    * document × label; the TOTAL row of the reference is
    * [[mentionCountsByDoc]]. Input `subclass` column is optional and
    * nullable. Same single-join array plan shape as the TOTAL counts.
    */
  def mentionCountsBySubclassByDoc(gold: DataFrame, pred: DataFrame): DataFrame = {
    def withLabel(df: DataFrame): DataFrame = {
      val sub = if (!df.columns.contains("subclass"))
        lit(null).cast("string")
      else df.schema("subclass").dataType match {
        // BooleanType: Spark casts false to "false", not Python's
        // str(False) == "False" — normalize so labelize's fallback fires
        case org.apache.spark.sql.types.BooleanType =>
          when(col("subclass") === false, lit(null).cast("string"))
            .otherwise(lit("True"))
        case _ => col("subclass").cast("string")
      }
      df.withColumn("label",
        when(sub.isNull || sub.isin("None", "False"), col("class_id"))
          .otherwise(sub))
    }
    // dedup on the SPAN key only (min label wins): a span duplicated with
    // two conflicting subclass values must count ONCE, exactly as it does
    // in the label-free TOTAL counts — else the breakdown's per-label rows
    // would not decompose the TOTAL (the invariant EvaluationSpec pins)
    def spans(df: DataFrame, out: String): DataFrame = withLabel(df)
      .select(col("conv_id"), col("class_id"), col("begin"), col("text"),
        (col("begin") + length(col("text"))).as("end"), col("label"))
      .groupBy("conv_id", "class_id", "begin", "text", "end")
      .agg(min(col("label")).as("label"))
      .groupBy("conv_id", "class_id")
      .agg(sort_array(collect_list(
        struct(col("begin"), col("end"), col("text"), col("label")))).as(out))
    val ga = col("ga"); val pa = col("pa")
    def kindStruct(label: Column, tp: Column, fp: Column, fpOv: Column,
                   fn: Column, fnOv: Column): Column =
      struct(label.as("label"), tp.as("tp"), fp.as("fp"), fpOv.as("fp_ov"),
        fn.as("fn"), fnOv.as("fn_ov"))
    val predKinds = transform(pa, x => {
      val isExact = exists(ga, y => exactEq(x, y))
      val ovs = filter(ga, y => overlapsNotExact(x, y))
      // arrays are sorted by (begin, ...): element_at(-1) = the last
      // overlapping gold in document order = the reference's final
      // repaired subclass
      val eff = when(size(ovs) > 0, element_at(ovs, -1)("label"))
        .otherwise(x("label"))
      kindStruct(eff,
        when(isExact, 1).otherwise(0),
        when(isExact, 0).otherwise(1),
        when(!isExact && size(ovs) > 0, 1).otherwise(0),
        lit(0), lit(0))
    })
    val goldKinds = transform(ga, y => {
      val isExact = exists(pa, x => exactEq(x, y))
      val ov = exists(pa, x => overlapsNotExact(y, x))
      kindStruct(y("label"), lit(0), lit(0), lit(0),
        when(isExact, 0).otherwise(1),
        when(!isExact && ov, 1).otherwise(0))
    })
    // the reference's label universe is computed from PRE-mutation
    // subclasses (`evaluators.py:426-429`), so a label that appears only
    // on re-attributed predictions still gets a zero-count evaluation
    // row (dict.fromkeys, `:434`) — emit a zero struct under every
    // pred's ORIGINAL label to preserve those rows
    val predZeros = transform(pa, x =>
      kindStruct(x("label"), lit(0), lit(0), lit(0), lit(0), lit(0)))
    spans(gold, "ga")
      .join(spans(pred, "pa"), Seq("conv_id", "class_id"), "full_outer")
      .select(col("conv_id"),
        explode(coalesce(
          concat(predKinds, predZeros, goldKinds),
          concat(predKinds, predZeros), goldKinds)).as("k"))
      .groupBy(col("conv_id"), col("k.label").as("label"))
      .agg(sum(col("k.tp")).as("tp"), sum(col("k.fp")).as("fp"),
        sum(col("k.fn")).as("fn"), sum(col("k.fp_ov")).as("fp_ov"),
        sum(col("k.fn_ov")).as("fn_ov"))
  }

  /** Per-label P/R/F under one strictness over the subclass breakdown —
    * the reference returns an `Evaluations` of per-label evaluations
    * (`evaluators.py:483-489`); this is that surface as a DataFrame-in,
    * Map-out composition: corpus-wide per-label counts from
    * [[mentionCountsBySubclassByDoc]], each put through [[compute]].
    */
  def mentionPrfBySubclass(gold: DataFrame, pred: DataFrame,
                           strictness: String = "exact"): Map[String, (Counts, PRF)] =
    mentionCountsBySubclassByDoc(gold, pred)
      .groupBy("label")
      .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"),
        sum("fp_ov").as("fp_ov"), sum("fn_ov").as("fn_ov"))
      .collect()
      .map { r =>
        val c = Counts(r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
        r.getString(0) -> ((c, compute(c, strictness)))
      }.toMap

  /** Scalar form: single agg action over [[mentionCountsByDoc]]. */
  def mentionCounts(gold: DataFrame, pred: DataFrame): Counts =
    totals(mentionCountsByDoc(gold, pred), "tp", "fp", "fn", "fp_ov", "fn_ov")

  /** The scalar form of a per-doc counts frame: the sums of `cols`, in
    * [[Counts]] field order, from ONE agg action (separate count() jobs
    * would each re-execute both inputs); a sum over no rows is 0, and
    * fields past `cols` are 0.
    */
  private def totals(byDoc: DataFrame, cols: String*): Counts = {
    val r = byDoc.agg(sum(cols.head), cols.tail.map(c => sum(c)): _*).first()
    val v = cols.indices.map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).padTo(5, 0L)
    Counts(v(0), v(1), v(2), v(3), v(4))
  }

  /** Document-level relation evaluation
    * (`DocumentLevelRelationEvaluator.evaluate`, `evaluators.py:732-787`):
    * gold and predicted triples are reduced to their canonical key sets
    * per document; tp counts gold keys with a matching prediction, fp
    * predicted keys with no gold match, fn gold keys with no prediction.
    * Inputs: DataFrames with (conv_id, key).
    */
  def relationCounts(gold: DataFrame, pred: DataFrame): Counts =
    totals(relationCountsByDoc(gold, pred), "tp", "fp", "fn")

  /** EntityEvaluator (`evaluators.py:500-673`): set-based evaluation over
    * MAPPED entity strings `class|begin,end|normdb|normvalue` with the
    * UNKNOWN-normalization penalization modes of `_normalized_fun`
    * (`evaluators.py:635-673`):
    *
    *  - "hard":     missing norm → UNKNOWN:<unique> (never matches; the
    *                reference uses a random uuid "to have no dummy
    *                clashes" — we use a deterministic unique string,
    *                side+conv+span, same semantics without seedless RNG)
    *  - "soft":     UNKNOWN:<lowercased text>
    *  - "softest":  UNKNOWN:
    *  - "agnostic": empty value, no UNKNOWN marker
    *  - "no":       entity dropped from the evaluation altogether
    *
    * Counting mirrors `evaluate` (`evaluators.py:563-629`): tp = gold
    * keys accepted by some prediction; fn = unaccepted gold keys EXCEPT
    * those carrying "UNKNOWN:" (passed); fp = predictions accepted by no
    * gold. `accept` ∈ {"equality" (full mapped string, the default
    * `str.__eq__`), "exact" (class+span), "overlapping" (class + range
    * intersection)} — `COMMON_ENTITY_ACCEPT_FUNS`.
    *
    * Inputs: (conv_id, class_id, begin, end, text, norm) with norm
    * nullable; `normDb` is the per-class norm database id (`n_7`-style).
    */
  def entityCountsByDoc(gold: DataFrame, pred: DataFrame,
                        penalizeUnknown: String = "soft",
                        accept: String = "equality",
                        normDb: String = "n"): DataFrame = {
    require(Set("hard", "soft", "softest", "agnostic", "no")(penalizeUnknown))
    require(Set("equality", "exact", "overlapping")(accept))
    def mapped(df: DataFrame, side: String): DataFrame = {
      val normValue = penalizeUnknown match {
        case "hard" => concat(lit("UNKNOWN:"), lit(side), lit("#"),
          col("conv_id"), lit("#"), col("begin"), lit("#"), col("end"))
        case "soft" => concat(lit("UNKNOWN:"), lower(col("text")))
        case "softest" => lit("UNKNOWN:")
        case "agnostic" => lit("")
        case "no" => lit(null).cast("string")
      }
      df.select(col("conv_id"), col("class_id"),
          col("begin").cast("long").as("begin"), col("end").cast("long").as("end"),
          coalesce(col("norm"), normValue).as("norm_value"))
        .filter(col("norm_value").isNotNull)
        .withColumn("key", concat_ws("|", col("class_id"),
          concat_ws(",", col("begin"), col("end")),
          lit(normDb), col("norm_value")))
        .dropDuplicates("conv_id", "key")
    }
    val g = mapped(gold, "g")
    val p = mapped(pred, "p")
    val p2 = p.select(col("conv_id").as("conv_id2"), col("class_id").as("class_id2"),
      col("begin").as("begin2"), col("end").as("end2"), col("key").as("key2"))
    val acceptCond = accept match {
      case "equality" =>
        col("conv_id") === col("conv_id2") && col("key") === col("key2")
      case "exact" =>
        col("conv_id") === col("conv_id2") && col("class_id") === col("class_id2") &&
          col("begin") === col("begin2") && col("end") === col("end2")
      case "overlapping" =>
        col("conv_id") === col("conv_id2") && col("class_id") === col("class_id2") &&
          col("begin") < col("end2") && col("end") > col("begin2")
    }
    val tpSet = g.join(p2, acceptCond, "left_semi")
    val fnSet = g.join(p2, acceptCond, "left_anti")
      .filter(!col("key").contains("UNKNOWN:")) // pass unknown gold norms
    val g2 = g.select(col("conv_id").as("conv_id2"), col("class_id").as("class_id2"),
      col("begin").as("begin2"), col("end").as("end2"), col("key").as("key2"))
    // the accept predicate is symmetric in (gold, pred) up to the side
    // suffix, so the pred-side anti join reuses it against renamed gold
    val fpSet = p.join(g2, acceptCond, "left_anti")
    tpSet.select(col("conv_id"), lit("tp").as("kind"))
      .unionByName(fpSet.select(col("conv_id"), lit("fp").as("kind")))
      .unionByName(fnSet.select(col("conv_id"), lit("fn").as("kind")))
      .groupBy("conv_id")
      .agg(
        sum(when(col("kind") === "tp", 1).otherwise(0)).as("tp"),
        sum(when(col("kind") === "fp", 1).otherwise(0)).as("fp"),
        sum(when(col("kind") === "fn", 1).otherwise(0)).as("fn"))
  }

  /** Scalar form of [[entityCountsByDoc]]: one agg action. */
  def entityCounts(gold: DataFrame, pred: DataFrame,
                   penalizeUnknown: String = "soft",
                   accept: String = "equality",
                   normDb: String = "n"): Counts =
    totals(entityCountsByDoc(gold, pred, penalizeUnknown, accept, normDb), "tp", "fp", "fn")

  /** Bootstrap standard errors over per-document counts —
    * `EvaluationWithStandardError` (`evaluators.py:104-172`): n resamples
    * of round(p·|docs|) document keys WITHOUT replacement, SE =
    * sqrt(Σ(x-mean)²/(n-1))/sqrt(n), small values ×4
    * (`evaluators.py:137-143`). The reference samples seedlessly; we fix
    * the seed (SURVEY §4: determinism fixed).
    *
    * Per-doc counts are tiny relative to the corpus (one row per
    * conversation), so this runs on collected counts like the reference.
    */
  def bootstrapSE(perDoc: Map[String, Counts], strictness: String,
                  n: Int = 1000, p: Double = 0.15, seed: Long = 2727L): (PRF, PRF) = {
    def get(keys: Iterable[String]): Counts = {
      var tp = 0L; var fp = 0L; var fn = 0L; var fpo = 0L; var fno = 0L
      keys.foreach { k =>
        perDoc.get(k).foreach { c =>
          tp += c.tp; fp += c.fp; fn += c.fn; fpo += c.fpOv; fno += c.fnOv
        }
      }
      Counts(tp, fp, fn, fpo, fno)
    }
    val mean = compute(get(perDoc.keys), strictness)
    val keys = perDoc.keys.toVector.sorted
    val m = math.round(keys.length * p).toInt
    val rng = new scala.util.Random(seed)
    val samples = (1 to n).map { _ =>
      val shuffled = rng.shuffle(keys)
      compute(get(shuffled.take(m)), strictness)
    }
    def se(meanV: Double, xs: Seq[Double]): Double = {
      val clean = xs.filterNot(_.isNaN)
      val nn = clean.length
      val s = if (nn <= 1) 0.0
      else math.sqrt(clean.map(x => (x - meanV) * (x - meanV)).sum / (nn - 1)) / math.sqrt(nn)
      if (s <= 0.00001) s * 4 else s
    }
    (mean, PRF(
      se(mean.precision, samples.map(_.precision)),
      se(mean.recall, samples.map(_.recall)),
      se(mean.fMeasure, samples.map(_.fMeasure))))
  }

  /** Per-document relation counts as a DataFrame (the distributed form —
    * the scalar Counts variant above collects only final sums).
    */
  def relationCountsByDoc(gold: DataFrame, pred: DataFrame): DataFrame = {
    val g = gold.select("conv_id", "key").distinct().withColumn("g", lit(1))
    val p = pred.select("conv_id", "key").distinct().withColumn("p", lit(1))
    g.join(p, Seq("conv_id", "key"), "full_outer")
      .groupBy("conv_id")
      .agg(
        sum(when(col("g").isNotNull && col("p").isNotNull, 1).otherwise(0)).as("tp"),
        sum(when(col("g").isNull && col("p").isNotNull, 1).otherwise(0)).as("fp"),
        sum(when(col("g").isNotNull && col("p").isNull, 1).otherwise(0)).as("fn"))
  }
}
