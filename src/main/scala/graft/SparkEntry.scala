package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — one entry per implemented operator (SURVEY.md §2),
  * each paired with a DuckDB oracle over the same parquet tables where the
  * semantics are SQL-expressible. Non-SQL-expressible operators (MinHash,
  * SimHash, LSH, CRF training, language-ID) are covered by ScalaTest
  * goldens instead and get rows-only driver checks.
  */
object SparkEntry {

  import GazetteerTagger.{OpClass, ObjClass}
  private val Rel = "r_op_obj"

  /** Flagship: full KG slice (transcripts → segment → tag → edges →
    * triples) on sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    kgTriples(spark, "/root/testdata/sf0.001")

  // ---- shared pipeline pieces -----------------------------------------

  /** Scan-width note: the driver's sf parquet tables are single
    * one-row-group files — UNSPLITTABLE, so narrow pipelines scanning
    * them run their maps as ONE task regardless of core count. We do NOT
    * blanket-repartition here: measured on this steal-bound sandbox, a
    * 32-wide rebalance made the tiny per-stage workloads SLOWER (32×
    * scheduler/steal exposure per stage dwarfs ~2 s of parallelizable
    * CPU — dd_ngram best 2.75 s narrow vs 8.3 s rebalanced). A real lake
    * table arrives in many splits and never needs it. The one query
    * whose serial CPU is large enough to win from explicit width
    * (kg_mention_eval's double tagging) repartitions locally.
    */
  private def turnsOf(spark: SparkSession, dir: String) =
    Segmentation.turns(Transcripts.fromDocuments(spark, dir))

  private def tokenizedOf(spark: SparkSession, dir: String) =
    Segmentation.tokenized(turnsOf(spark, dir))

  private def mentionsOf(spark: SparkSession, dir: String) =
    GazetteerTagger.tag(tokenizedOf(spark, dir))

  /** Grouped mentions feed BOTH sides of every edge self-join; without a
    * persist the whole segment+tag subtree executes once per side
    * (verified via explain — Catalyst pushes the per-class filters below
    * the aggregate, defeating ReusedExchange). One cached copy per
    * (session, dir) makes the join sides and the eval query share a
    * single tokenization pass — the in-session analogue of the
    * materialized `mentions` stage boundary in graft.ops.Stages.
    */
  private val groupedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def groupedOf(spark: SparkSession, dir: String): DataFrame =
    groupedCache.getOrElseUpdate((spark, dir), {
      val df = GazetteerTagger.grouped(mentionsOf(spark, dir)).persist()
      df.count() // populate eagerly: both join sides then read the cache
      df
    })

  /** One bigram LM per (session, dir) for txt_ppl: perplexity() persists
    * the model table and leaves unpersist to the caller — without this
    * registry every (re)run of the query would persist a fresh copy that
    * nothing ever releases (Bench re-runs outlier queries).
    */
  private val lmCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def lmOf(spark: SparkSession, dir: String): DataFrame =
    lmCache.getOrElseUpdate((spark, dir),
      ops.TextAnalysis.bigramLm(docs(spark, dir)))

  /** Target-domain (lang='en') bigram LM for txt_dsir — same registry
    * and lifecycle as [[lmOf]]; the "#target" key suffix cannot collide
    * with a filesystem dir.
    */
  private def targetLmOf(spark: SparkSession, dir: String): DataFrame =
    lmCache.getOrElseUpdate((spark, dir + "#target"),
      ops.TextAnalysis.bigramLm(
        docs(spark, dir).where(col("lang") === "en")))

  /** Evict the per-(session, dir) grouped-mentions and LM caches.
    * Long-lived sessions (notebooks, streaming drivers) call this between
    * corpora to release executor storage; Verify and Bench call it on
    * shutdown.
    */
  def clearCaches(): Unit = {
    groupedCache.values.foreach(_.unpersist(false))
    groupedCache.clear()
    lmCache.values.foreach(_.unpersist(false))
    lmCache.clear()
  }

  private def kgEdges(spark: SparkSession, dir: String): DataFrame =
    EdgeGen.turnWindow(groupedOf(spark, dir), OpClass, ObjClass, Rel, window = 1)

  private def kgTriples(spark: SparkSession, dir: String): DataFrame =
    Triples.fromTurnEdges(kgEdges(spark, dir), Rel, OpClass, ObjClass)

  /** Canonical triple key of a turn-window edge row (word1 op, word2 obj). */
  private def edgeKey: Column = Triples.keyCol(Rel,
    OpClass, Triples.entityCol(OpClass, col("word1")),
    ObjClass, Triples.entityCol(ObjClass, col("word2")))

  /** [[Evaluation.mentionEvalTables]] for kg_mention_eval and
    * kg_subclass_eval, gold passed through `goldCols`. Both tables are
    * localCheckpointed (small: one row per tagged token/run): the
    * counting join references BOTH inputs on both array sides, and
    * without materialization each reference re-executes the
    * tokenize+Viterbi subtree (measured 32 s vs <1 s at sf0.001). The raw
    * turns are repartitioned so the CPU-heavy tagging runs at full width
    * (16.3 s single-task → 3.8 s best at sf0.1/32c), and the tokenized
    * sentences are checkpointed so BOTH taggers share one tokenization
    * pass. r4 barrier budget: toks stays EAGER (it feeds both tag
    * subtrees, which the report job runs CONCURRENTLY — an eager
    * checkpoint guarantees one tokenization instead of a cache race),
    * while gold/pred are LAZY (each is referenced once; local
    * checkpointing is cache-based, so the report job materializes them
    * and cuts lineage in ITS OWN barrier). Two barriers total instead of
    * four — per-barrier host steal made the eager form the most
    * steal-sensitive query in the suite (31 s outlier reps vs a 1.3 s
    * min).
    */
  private def mentionEvalInputs(s: SparkSession, dir: String,
                                goldCols: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val toks = Segmentation.tokenized(
      turnsOf(s, dir).repartition(s.sparkContext.defaultParallelism))
      .localCheckpoint(true)
    val (gold, pred) = Evaluation.mentionEvalTables(toks)
    (goldCols(gold).localCheckpoint(false), pred.localCheckpoint(false))
  }

  // ---- queries ---------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kg_transcripts" -> ((s, dir) => Transcripts.fromDocuments(s, dir)),
    "kg_sentences" -> ((s, dir) => {
      import s.implicits._
      Segmentation.sentences(turnsOf(s, dir)).toDF()
    }),
    "kg_tokens" -> ((s, dir) => Segmentation.tokens(tokenizedOf(s, dir))),
    "kg_mentions" -> ((s, dir) => mentionsOf(s, dir).toDF()),
    "kg_edges" -> ((s, dir) => kgEdges(s, dir)),
    "kg_triples" -> ((s, dir) => kgTriples(s, dir)),
    "kg_nodes" -> ((s, dir) => {
      Linking.nodeStatsExact(mentionsOf(s, dir))
        .select(col("class_id"), col("norm").as("canonical"),
          col("n_mentions"), col("n_convs"))
    }),
    "kg_eval" -> ((s, dir) => kgEval(s, dir)),
    // the doc-level feature aggregations of sentence.py:140-171 as
    // first-class distributed operators (salted two-phase groupBy /
    // distinct-sentence pair counts — the north_rule shapes)
    "kg_doc_counts" -> ((s, dir) =>
      RelationScoring.docEntityCounts(mentionsOf(s, dir))),
    "kg_pair_sents" -> ((s, dir) =>
      RelationScoring.pairSentenceCounts(mentionsOf(s, dir), OpClass, ObjClass)),
    "kg_cc" -> ((s, dir) => kgCc(s, dir)),
    // compute_stats_relations_distances (`data.py:125-167`): histogram of
    // the minimum turn distance at which each unique relation key occurs
    "kg_dist_hist" -> ((s, dir) => {
      val e = kgEdges(s, dir).select(col("conv_id"), edgeKey.as("key"),
        col("turn_dist").as("dist"))
      DatasetOps.relationDistanceHistogram(e)
        .select(col("min_dist"), col("count").cast("long").as("n_keys"))
    }),
    // StatsWriter-style per-class corpus summary (`utils/writers.py`)
    "kg_stats" -> ((s, dir) =>
      DatasetOps.mentionStats(mentionsOf(s, dir).toDF())
        .select(col("class_id"), col("n_mentions"), col("n_convs"),
          col("n_surfaces"), round(col("avg_len"), 6).as("avg_len"))),
    // information gain of deterministic edge features against the gold
    // rule — calculateInformationGain (`relations/__init__.py:173-263`)
    // as a pure two-level aggregation, oracle-checked end to end (ig
    // rounded to 6dp on both sides; the entropy arithmetic mirrors the
    // Scala expression order so the doubles agree pre-rounding)
    "kg_infogain" -> ((s, dir) => {
      val gold = GoldPairs.map { case (a, b) =>
        col("word1") === a && col("word2") === b
      }.reduce(_ || _)
      val labeled = kgEdges(s, dir).select(
        when(gold, 1).otherwise(-1).as("target"),
        map(
          concat(lit("w1="), col("word1")), lit(1.0),
          concat(lit("w2="), col("word2")), lit(1.0),
          concat(lit("dist="), col("turn_dist")), lit(1.0)).as("features"))
      InfoGain.compute(labeled)
        .withColumn("ig", round(col("ig"), 6))
        .select("feature", "ig")
    }),
    // MentionLevelEvaluator (`evaluators.py:372-497`) + the strictness
    // algebra of Evaluation.compute (`evaluators.py:28-66`) as ONE
    // declarative plan: gold = per-token gazetteer mentions, pred = the
    // CRF route's BIO-decoded mentions (adjacent gazetteer tokens merge
    // into one span — data.py:236-273), so merged runs naturally produce
    // exact tp (single-token runs), fp+fp_ov (merged spans overlap gold
    // but aren't exact) and fn+fn_ov (the swallowed gold tokens). The
    // "document" key is conv#turn — offsets are turn-relative.
    "kg_mention_eval" -> ((s, dir) => {
      val (gold, pred) = mentionEvalInputs(s, dir, identity)
      Evaluation.mentionPrfReport(gold, pred)
    }),
    // Per-SUBCLASS mention-eval breakdown
    // (`MentionLevelEvaluator(subclass_analysis=True)`,
    // `evaluators.py:413-489`): gold = gazetteer tokens with subclass =
    // the surface word (so labelize keeps it), pred = BIO-decoded CRF
    // runs with NO subclass (labelize falls back to class_id). Merged
    // runs overlap same-class gold tokens of a different label and are
    // re-attributed to the LAST overlapping gold in offset order — the
    // deterministic form of the reference's subclass mutation
    // (`evaluators.py:451-456`). Output: corpus-wide counts per label.
    "kg_subclass_eval" -> ((s, dir) => {
      val (gold, pred) =
        mentionEvalInputs(s, dir, _.withColumn("subclass", col("text")))
      Evaluation.mentionCountsBySubclassByDoc(gold, pred)
        .groupBy("label")
        .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"),
          sum("fp_ov").as("fp_ov"), sum("fn_ov").as("fn_ov"))
    }),
    "kg_pipeline" -> ((s, dir) => kgPipelineFused(s, dir)),
    "kg_crf_mentions" -> ((s, dir) => {
      // CRF route: broadcast-weights Viterbi with the dictionary-exact
      // model — must reproduce gazetteer tagging bit-for-bit (minus the
      // marginal-based confidence, excluded from the oracle compare).
      // r6: raw turns repartitioned to full width (the kg_mention_eval
      // precedent) — tokenize + features + Viterbi otherwise run as ONE
      // task over the unsplittable single-row-group parquet
      Crf.tag(Segmentation.tokenized(
          turnsOf(s, dir).repartition(s.sparkContext.defaultParallelism)),
          Crf.dictionaryModel(GazetteerTagger.gazetteer),
          withConfidence = false)
        .toDF().drop("confidence")
    }),
    "kg_crf_table" -> ((s, dir) => {
      // the PAST-BROADCAST-SIZE CRF route: identical dictionary model, but
      // emission weights consumed as a TABLE via the feature-key join
      // (Crf.tagWithTable, the ModelIO.saveCrf layout) — shares the
      // kg_crf_mentions oracle, so the distributed scoring path is
      // DuckDB-checked end-to-end, not just spec-level bit-equality.
      // The __bias__ row is present in the table and must be folded into
      // the broadcast, never the join (r5).
      import s.implicits._
      val model = Crf.dictionaryModel(GazetteerTagger.gazetteer)
      val emissions = model.emissions.toSeq.map { case (f, w) => (f, w.toSeq) }
        .toDF("feature", "weights")
      // r6: the raw turns are repartitioned to full width (the
      // kg_mention_eval precedent) — the unsplittable single-row-group
      // parquet otherwise runs tokenize + feature explosion + the
      // map side of the first aggregate as ONE task (measured 1.3-1.7 s
      // single-task stage per rep at sf0.1/32c)
      Crf.tagWithTable(Segmentation.tokenized(
          turnsOf(s, dir).repartition(s.sparkContext.defaultParallelism)),
          emissions, model,
          withConfidence = false, eager = true)
        .toDF().drop("confidence")
    }),
    "kg_scored" -> ((s, dir) => {
      // SVM-style route: fused pipeline with broadcast linear scoring
      // (all-positive model — full feature computation under the oracle)
      val turns = Segmentation.turns(Transcripts.fromDocuments(s, dir))
      KgPipeline.triples(turns,
        KgPipeline.Config(Rel, OpClass, ObjClass, window = 0, tokenizer = "tmvar"),
        crfModel = None, gaz = GazetteerTagger.gazetteer,
        scorer = Some(RelationScoring.LinearModel(
          new Array[Double](RelationScoring.Dims), b = 1.0)))
        .select(col("conv_id"), col("turn_idx"), col("pred"), col("subj"),
          col("obj"), col("key"))
    }),

    // ---- training-data pipeline operators ----------------------------
    "dd_exact" -> ((s, dir) => Dedup.exact(docs(s, dir))),
    "dd_ngram" -> ((s, dir) => Dedup.ngramJaccard(docs(s, dir), n = 5, threshold = 0.1)),
    "dd_decontam" -> ((s, dir) => {
      // benchmark decontamination: the deterministic doc_id % 17 == 3
      // slice stands in for a held-out eval set (both engines compute the
      // identical slice); contaminated = ≥ 2 distinct shared 5-gram
      // shingles with ANY benchmark doc. Benchmark members are trivially
      // contaminated via self-overlap — expected; the oracle mirrors it.
      val d = docs(s, dir)
      Dedup.decontaminate(d, d.filter(col("doc_id") % 17 === 3),
        n = 5, minHits = 2)
    }),
    // bands=32 (rows=2): per-band collision j², miss over 32 bands
    // (1-j²)³² — at the corpus's lowest qualifying Jaccard (0.8 at sf0.1)
    // that is ~6e-15, so the banded-LSH output equals the exact-Jaccard
    // set and the DuckDB all-pairs oracle below checks it bit-for-bit.
    // Dedup.oracleLshPairs is the ONE definition of these params, shared
    // with dd_cluster/txt_split and the durable Stages chain.
    "dd_minhash" -> ((s, dir) => Dedup.oracleLshPairs(docs(s, dir))),
    "dd_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),
    // cluster resolution over the dd_minhash pair graph (same provably-
    // exact LSH params), transitively closed by connected components:
    // one kept representative per duplicate cluster, every unpaired doc
    // keeps itself. DuckDB mirrors the closure with a recursive CTE.
    "dd_cluster" -> ((s, dir) => Dedup.resolveClusters(docs(s, dir),
      Dedup.oracleLshPairs(docs(s, dir)))),
    // per-doc cross-document duplication mass: fraction of a doc's
    // distinct 5-gram shingles occurring in >= 1 other doc (the Lee et
    // al. 2022 train-set overlap diagnostic); hashed-gram index, df
    // aggregate + join-back — no self-join, cost linear in corpus grams
    "dd_dupmass" -> ((s, dir) => Dedup.duplicationMass(docs(s, dir), n = 5)),
    // leakage-safe split over the dd_cluster pair graph (same provably-
    // exact LSH params): the split decision hashes the CLUSTER id, so a
    // duplicate cluster moves whole and no near-dup pair straddles
    // train/test; 90/5/5 by integer millionth thresholds
    "txt_split" -> ((s, dir) => Dedup.leakSafeSplit(docs(s, dir),
      Dedup.oracleLshPairs(docs(s, dir)))),
    "ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
    }),
    // LSH at params with MEASURED recall 1.0 on this corpus family (swept
    // at sf0.001/0.01/0.1: nBits=2, tables=16 reproduces bruteForceTopK
    // bit-for-bit on all three; isotropic random embeddings are LSH's
    // worst case, hence the short signatures) — so the exact ann_topk
    // oracle below applies. The honest lossy-params recall contract
    // (nBits=4, tables=8, recall >= 0.5) stays in CurationSpec.
    "ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nBits = 2, tables = 16)
    }),
    // IVF at full probe (nProbe == nlist): every cell is scanned, so the
    // output PROVABLY equals bruteForceTopK (CurationSpec pins the
    // equality) and the exact ann_topk oracle applies. The honest
    // partial-probe recall contract (nProbe=nlist/2) stays in CurationSpec.
    "ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
        nlist = 16, nProbe = 16)
    }),
    "dd_embed" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(
        s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.4)),
    // SemDeDup-style semantic dedup (Abbas et al. 2023): the dd_embed
    // cosine near-dup pair graph transitively closed into clusters with
    // one kept representative each — resolveClusters over embedding
    // pairs instead of shingle pairs, the same closure the oracle
    // re-states as a recursive CTE
    "dd_semdedup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Dedup.resolveClusters(emb.select(col("vec_id").as("doc_id")),
        Similarity.embeddingNearDupPairs(emb, threshold = 0.4))
    }),
    "txt_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),
    "txt_langid" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),
    "txt_tokens" -> ((s, dir) => TextAnalysis.tokenStats(docs(s, dir))),
    "txt_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir))),
    // sequence packing via distributed prefix sum — chunkSize 64 makes
    // even the sf0.001 corpus span multiple chunks, so the per-chunk
    // offsets path is what the oracle actually checks. seq_id is cast to
    // double at the QUERY boundary (the operator keeps BIGINT): the frozen
    // oracle's `sum(BIGINT) // 512` is HUGEINT in DuckDB, which the
    // driver's typed-value hash reads as float64 — r5 shipped hash_match
    // false on identical values (CORRECTNESS_r05.json; VERDICT r5 §What's
    // wrong #1) because BIGINT 0 hashes differently from float64 0.0.
    "txt_pack" -> ((s, dir) =>
      TextAnalysis.pack(docs(s, dir), budget = 512, chunkSize = 64)
        .withColumn("seq_id", col("seq_id").cast("double"))),
    // Gopher-style repetition mass (top-bigram + duplicated-5-gram
    // character fractions) — the standard boilerplate/loop-text filter
    // signals for pre-training corpora
    "txt_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(docs(s, dir))),
    // the composed C4/Gopher-style keep/drop decision over the oracled
    // quality + repetition signals (reasons in fixed order, comma-joined)
    "txt_curation" -> ((s, dir) => TextAnalysis.curationFilter(docs(s, dir))),
    // PII scrub over deterministically planted PII (the corpus is
    // digit-free lowercase words, so the plants are the only matches —
    // asserted impossible to collide): doc_id%4 selects e-mail / IPv4 /
    // phone / nothing; the oracle plants identically and re-states the
    // RE2-safe patterns verbatim
    "txt_pii" -> ((s, dir) => TextAnalysis.piiScan(
      docs(s, dir).withColumn("text", concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" contact bob@mail.example.com now"))
          .when(col("doc_id") % 4 === 1, lit(" server at 192.168.10.42 port"))
          .when(col("doc_id") % 4 === 2, lit(" call +1 415 555 0100 today"))
          .otherwise(lit("")))))),
    // deterministic domain-mix sampling at the MixRates mixture — the
    // keep decision is integer-exact (fingerprint bucket vs millionth
    // thresholds), so the oracle restates the same arithmetic
    "txt_mix" -> ((s, dir) => TextAnalysis.domainSample(docs(s, dir), MixRates)),
    // per-domain unigram KL drift vs the corpus distribution — exact
    // (domain support ⊆ corpus support, no smoothing), same p·log₂ ratio
    // arithmetic in DuckDB
    "txt_kl" -> ((s, dir) => TextAnalysis.domainKl(docs(s, dir))),
    // per-domain TF-IDF top-5 term signatures (which terms drive a
    // domain's drift); ranked on the ROUNDED score with word-asc
    // tie-break so both engines order identically
    "txt_tfidf" -> ((s, dir) => TextAnalysis.domainSignatures(docs(s, dir), k = 5)),
    // CCNet-style perplexity filter with the LM trained on the corpus
    // itself (the self-scoring configuration): bigram add-one model as a
    // table, scored by join-back, cross-entropy mirrored in DuckDB
    "txt_ppl" -> ((s, dir) =>
      TextAnalysis.perplexity(docs(s, dir), lmOf(s, dir))),
    // DSIR-style importance weighting: per-doc log-likelihood ratio in
    // bits between the lang='en' target-domain bigram LM and the raw
    // corpus LM (both engine-trained tables); smoothing + llr arithmetic
    // mirrored in DuckDB
    "txt_dsir" -> ((s, dir) =>
      TextAnalysis.importanceWeights(docs(s, dir), targetLmOf(s, dir),
        lmOf(s, dir))),
    // CCNet head/middle/tail banding: per-language EXACT perplexity
    // tertiles (integer cum*3 >= n arithmetic over the value histogram,
    // the pack() prefix-sum idiom — no per-language single-task sort)
    "txt_band" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.perplexityBands(
        TextAnalysis.perplexity(d, lmOf(s, dir))
          .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("xent_bits")))
    }),
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(Multimodal.withPayload(docs(s, dir)))
        .select("doc_id", "media_type", "n_bytes", "width", "height", "n_frames")),

    // ---- event-stream analytics (events table) -----------------------
    // gap-based sessionization: integer-microsecond boundary arithmetic
    // (strict >30min gap starts a session), one per-user window
    "ev_sessions" -> ((s, dir) =>
      Events.sessionize(s.read.parquet(s"$dir/events.parquet"),
        gapMinutes = 30)),
    // tumbling hourly aggregation per event type: counts, 6dp-rounded
    // value sums, distinct users — map-side-combined keyed agg
    "ev_windows" -> ((s, dir) =>
      Events.windowAgg(s.read.parquet(s"$dir/events.parquet"))),
    // funnel depth through signup -> view -> click -> purchase: greedy
    // prefix matching in (ts, event_id) order; non-step events filtered
    // before the user-keyed shuffle
    "ev_funnel" -> ((s, dir) =>
      Events.funnel(s.read.parquet(s"$dir/events.parquet"),
        Seq("signup", "view", "click", "purchase"))),
    // cohort retention matrix: first-seen-hour cohorts x whole-hour
    // offsets, exact distinct users (integral `div` on micros — both
    // sides hour-truncated)
    "ev_retention" -> ((s, dir) =>
      Events.retention(s.read.parquet(s"$dir/events.parquet")))
  )

  /** Domain mixture for txt_mix: rates over the 20 synthetic sources in
    * exact quarters (0, .25, .5, .75, 1 cycling by source index) — the
    * thresholds quantize to exact millionths, so the keep decision is
    * integer arithmetic in BOTH engines.
    */
  val MixRates: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (i % 5) * 0.25).toMap

  private def docs(s: SparkSession, dir: String): DataFrame = Transcripts.documents(s, dir)

  /** The fused one-shuffle extraction pipeline (KgPipeline.triples) run
    * in stub mode over the documents-derived transcripts: provably
    * equivalent to the declarative kg_triples route (tested), so it
    * shares that oracle. This is the operator the BASELINE throughput
    * metric (turns/sec) is measured on.
    */
  def kgPipelineFused(s: SparkSession, dir: String): DataFrame = {
    val turns = Segmentation.turns(Transcripts.fromDocuments(s, dir))
    KgPipeline.triples(turns,
      KgPipeline.Config(Rel, OpClass, ObjClass, window = 0, tokenizer = "tmvar"),
      crfModel = None, gaz = GazetteerTagger.gazetteer, scorer = None)
      .select(col("conv_id"), col("turn_idx"), col("pred"), col("subj"),
        col("obj"), col("key"))
  }

  /** Deterministic "gold" rule for the evaluation query: these op→obj
    * pairs are true relations when they co-occur within a 2-turn window.
    */
  private val GoldPairs = Seq(
    ("merge", "table"), ("filter", "stream"), ("scan", "batch"),
    ("sort", "vector"))

  /** DocumentLevelRelationEvaluator semantics (`evaluators.py:732-787`)
    * over stub-extracted triples vs the deterministic gold rule: per-conv
    * canonical-key sets full-outer joined, counts aggregated, P/R/F with
    * safe division — one output row.
    */
  private def kgEval(s: SparkSession, dir: String): DataFrame = {
    val grouped = groupedOf(s, dir)
    // Pre-filter the join INPUT to the gold vocabulary: the exact gold
    // rule is an OR-of-ANDs across both join sides, which Catalyst can
    // only apply post-join — but its weaker per-side projections
    // (word ∈ gold-op-words / word ∈ gold-obj-words) push onto each side
    // BEFORE the turn-window join. On a real corpus gold pairs are
    // sparse, so this shrinks the join input by orders of magnitude; the
    // post-join OR-of-ANDs then restores the exact pair semantics.
    val goldInput = grouped.filter(
      (col("class_id") === OpClass && col("word").isin(GoldPairs.map(_._1): _*)) ||
        (col("class_id") === ObjClass && col("word").isin(GoldPairs.map(_._2): _*)))
    val goldEdges = EdgeGen.turnWindow(goldInput, OpClass, ObjClass, Rel, window = 2)
      .filter(GoldPairs.map { case (a, b) =>
        col("word1") === a && col("word2") === b
      }.reduce(_ || _))
    val gold = goldEdges.select(col("conv_id"), edgeKey.as("key"))
    val pred = kgTriples(s, dir).select(col("conv_id"), col("key"))
    Evaluation.relationCountsByDoc(gold, pred)
      .agg(sum(col("tp")).cast("long").as("tp"),
        sum(col("fp")).cast("long").as("fp"),
        sum(col("fn")).cast("long").as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
  }

  /** Connected components over a deterministic events-derived graph:
    * nodes = distinct user_ids, undirected edges (u, u-1) when u%10 != 0
    * and u-1 exists — chains of consecutive ids, multi-hop merges.
    * Output (node, comp = min reachable id), isolated nodes map to
    * themselves.
    */
  private def kgCc(s: SparkSession, dir: String): DataFrame = {
    val users = s.read.parquet(s"$dir/events.parquet")
      .select(col("user_id").cast("long").as("uid")).distinct()
    val u2 = users.select(col("uid").as("uid2"))
    val edges = users
      .filter(pmod(col("uid"), lit(10)) =!= 0)
      .join(u2, col("uid2") === col("uid") - 1, "left_semi")
      .select(col("uid").as("src"), (col("uid") - 1).as("dst"))
    val comp = Linking.connectedComponents(edges)
    users.join(comp, users("uid") === comp("node"), "left")
      .select(col("uid").as("node"),
        coalesce(col("comp"), col("uid")).as("comp"))
  }

  // ---- DuckDB oracles ---------------------------------------------------

  private val T = Transcripts.duckdbCte

  /** Exact cosine top-k — shared by ann_topk, ann_lsh (params with
    * measured recall 1.0) and ann_ivf (full probe, provably exact).
    */
  private val annTopkOracle =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |  FROM embeddings WHERE vec_id < 10
      |),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_dot_product(q.qe, e.embedding::DOUBLE[]) /
      |      (sqrt(list_dot_product(q.qe, q.qe)) *
      |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
      |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      |),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(sim, 6) AS sim
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** words CTE: tokenization of the documents-derived transcripts in pure
    * SQL. Valid because the corpus is single-space-separated lowercase
    * words (verified; the Scala tokenizer's regex cascade is the general
    * path, golden-tested in ScalaTest).
    */
  /** Blank-text contract: the Scala splitter emits no sentence (hence no
    * token) for empty/whitespace-only turn text, so the oracle CTEs filter
    * those rows explicitly — the contract is symmetric by construction,
    * not by the testdata happening to contain no blanks.
    */
  private val W =
    s"""transcripts AS ($T),
       |words AS (
       |  SELECT conv_id, turn_idx,
       |         unnest(string_split(text, ' ')) AS word,
       |         generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM transcripts
       |  WHERE length(trim(text)) > 0
       |)""".stripMargin

  private val gazCase =
    s"""CASE WHEN word IN ('merge','filter','scan','sort') THEN '$OpClass'
       |     WHEN word IN ('table','vector','stream','batch') THEN '$ObjClass'
       |END""".stripMargin

  private val M =
    s"""$W,
       |toks AS (
       |  SELECT conv_id, turn_idx, word, pos,
       |    CAST(coalesce(sum(length(word)+1) OVER (
       |      PARTITION BY conv_id, turn_idx ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS b
       |  FROM words
       |),
       |mentions AS (
       |  SELECT conv_id, turn_idx, CAST(0 AS INT) AS sent_idx,
       |         $gazCase AS class_id,
       |         b AS "begin", CAST(b + length(word) AS INT) AS "end",
       |         word AS text, CAST(1.0 AS DOUBLE) AS confidence, word AS norm
       |  FROM toks
       |  WHERE word IN ('merge','filter','scan','sort','table','vector','stream','batch')
       |),
       |grouped AS (
       |  SELECT conv_id, turn_idx, class_id, text AS word,
       |         min("begin") AS "begin", count(*) AS n_occ
       |  FROM mentions GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  def oracleSql: Map[String, String] = {
    val base = Map(
    "kg_transcripts" -> T,

    "kg_sentences" ->
      s"""WITH transcripts AS ($T)
         |SELECT conv_id, turn_idx, CAST(0 AS INT) AS sent_idx,
         |       text AS sent_text, CAST(0 AS INT) AS sent_start
         |FROM transcripts
         |WHERE length(trim(text)) > 0""".stripMargin,

    "kg_tokens" ->
      s"""WITH $W
         |SELECT conv_id, turn_idx, CAST(0 AS INT) AS sent_idx,
         |  CAST(pos - 1 AS INT) AS tid, word,
         |  CAST(coalesce(sum(length(word)+1) OVER (
         |    PARTITION BY conv_id, turn_idx ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS "begin",
         |  CAST(coalesce(sum(length(word)+1) OVER (
         |    PARTITION BY conv_id, turn_idx ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(word) AS INT) AS "end"
         |FROM words""".stripMargin,

    "kg_mentions" ->
      s"""WITH $M
         |SELECT conv_id, turn_idx, sent_idx, class_id, "begin", "end",
         |       text, confidence, norm
         |FROM mentions""".stripMargin,

    "kg_edges" ->
      s"""WITH $M
         |SELECT m1.conv_id, '$Rel' AS rel_type,
         |       m1.turn_idx AS turn1, m2.turn_idx AS turn2,
         |       m1.word AS word1, m2.word AS word2,
         |       m1."begin" AS begin1, m2."begin" AS begin2,
         |       CAST(m2.turn_idx - m1.turn_idx AS INT) AS turn_dist,
         |       CAST(m1.n_occ * m2.n_occ AS BIGINT) AS n_pairs
         |FROM grouped m1 JOIN grouped m2
         |  ON m1.conv_id = m2.conv_id
         | AND m2.turn_idx BETWEEN m1.turn_idx AND m1.turn_idx + 1
         | AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'""".stripMargin,

    "kg_triples" ->
      s"""WITH $M,
         |pairs AS (
         |  SELECT m1.conv_id, m1.word AS w1, m2.word AS w2,
         |         min(m1.turn_idx) AS turn_idx
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id AND m1.turn_idx = m2.turn_idx
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |  GROUP BY 1, 2, 3
         |)
         |SELECT conv_id, turn_idx, '$Rel' AS pred,
         |       '$OpClass|' || w1 AS subj, '$ObjClass|' || w2 AS obj,
         |       '$Rel|$ObjClass|' || w2 || '|$OpClass|' || w1 AS key
         |FROM pairs""".stripMargin,

    // salted two-phase doc-level entity counts == plain grouped counts
    "kg_doc_counts" ->
      s"""WITH $M
         |SELECT conv_id, class_id, norm,
         |       CAST(count(*) AS BIGINT) AS n_doc
         |FROM mentions GROUP BY 1, 2, 3""".stripMargin,

    // distinct sentences where a class-ordered norm pair co-occurs
    // ('e_obj' < 'e_op', so the key is obj-norm|op-norm)
    "kg_pair_sents" ->
      s"""WITH $M,
         |pairs AS (
         |  SELECT DISTINCT m1.conv_id,
         |         m2.norm || '|' || m1.norm AS pair_key,
         |         m1.turn_idx, m1.sent_idx
         |  FROM mentions m1 JOIN mentions m2
         |    ON m1.conv_id = m2.conv_id AND m1.turn_idx = m2.turn_idx
         |   AND m1.sent_idx = m2.sent_idx
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |)
         |SELECT conv_id, pair_key,
         |       CAST(count(*) AS BIGINT) AS n_sents_together
         |FROM pairs GROUP BY 1, 2""".stripMargin,

    "kg_nodes" ->
      s"""WITH $M
         |SELECT class_id, norm AS canonical,
         |       CAST(count(*) AS BIGINT) AS n_mentions,
         |       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
         |FROM mentions GROUP BY 1, 2""".stripMargin,

    "kg_eval" -> {
      val goldIn = GoldPairs.map { case (a, b) => s"('$a','$b')" }.mkString(", ")
      s"""WITH $M,
         |predk AS (
         |  SELECT DISTINCT m1.conv_id,
         |    '$Rel|$ObjClass|' || m2.word || '|$OpClass|' || m1.word AS key
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id AND m1.turn_idx = m2.turn_idx
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |),
         |goldk AS (
         |  SELECT DISTINCT m1.conv_id,
         |    '$Rel|$ObjClass|' || m2.word || '|$OpClass|' || m1.word AS key
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id
         |   AND m2.turn_idx BETWEEN m1.turn_idx AND m1.turn_idx + 2
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |   AND (m1.word, m2.word) IN ($goldIn)
         |),
         |c AS (
         |  SELECT
         |    CAST((SELECT count(*) FROM goldk g JOIN predk p
         |          ON g.conv_id = p.conv_id AND g.key = p.key) AS BIGINT) AS tp,
         |    CAST((SELECT count(*) FROM predk p WHERE NOT EXISTS (
         |          SELECT 1 FROM goldk g WHERE g.conv_id = p.conv_id AND g.key = p.key)) AS BIGINT) AS fp,
         |    CAST((SELECT count(*) FROM goldk g WHERE NOT EXISTS (
         |          SELECT 1 FROM predk p WHERE g.conv_id = p.conv_id AND g.key = p.key)) AS BIGINT) AS fn
         |)
         |SELECT tp, fp, fn,
         |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
         |  CASE WHEN (CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END)
         |          + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END) = 0.0
         |       THEN 0.0
         |       ELSE 2.0 * (CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END)
         |                * (CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END)
         |            / ((CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END)
         |             + (CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END))
         |  END AS f1
         |FROM c""".stripMargin
    },

    // BIO-decode semantics (data.py:236-273): a mention is a maximal run
    // of consecutive non-O-labeled tokens — ADJACENT gazetteer tokens
    // merge into one span, class taken from the run's first token.
    // Gaps-and-islands over token ids reproduces the decode in SQL.
    "kg_crf_mentions" ->
      s"""WITH $M,
         |runs AS (
         |  SELECT conv_id, turn_idx, pos, word, b,
         |         $gazCase AS class_id,
         |         pos - row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS grp
         |  FROM toks
         |  WHERE word IN ('merge','filter','scan','sort','table','vector','stream','batch')
         |)
         |SELECT conv_id, turn_idx, CAST(0 AS INT) AS sent_idx,
         |       arg_min(class_id, pos) AS class_id,
         |       CAST(min(b) AS INT) AS "begin",
         |       CAST(max(b + length(word)) AS INT) AS "end",
         |       string_agg(word, ' ' ORDER BY pos) AS text,
         |       string_agg(word, ' ' ORDER BY pos) AS norm
         |FROM runs GROUP BY conv_id, turn_idx, grp""".stripMargin,

    // MentionLevelEvaluator + strictness algebra in pure SQL: gold =
    // per-token mentions, pred = BIO-decoded runs (the kg_crf_mentions
    // CTE), then exact/overlap set counting via EXISTS predicates and the
    // Evaluation.compute arithmetic in the same expression order (f1 from
    // UNROUNDED p/r; 2.0*x is an exact double scaling, so association
    // with the p*r product cannot change the value; 6dp at the boundary).
    "kg_mention_eval" ->
      s"""WITH $M,
         |runs AS (
         |  SELECT conv_id, turn_idx, pos, word, b,
         |         $gazCase AS class_id,
         |         pos - row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS grp
         |  FROM toks
         |  WHERE word IN ('merge','filter','scan','sort','table','vector','stream','batch')
         |),
         |g AS (
         |  SELECT conv_id || '#' || turn_idx AS doc, class_id, "begin", text,
         |         "begin" + length(text) AS e
         |  FROM mentions
         |),
         |p AS (
         |  SELECT conv_id || '#' || turn_idx AS doc,
         |         arg_min(class_id, pos) AS class_id,
         |         CAST(min(b) AS INT) AS "begin",
         |         string_agg(word, ' ' ORDER BY pos) AS text,
         |         CAST(min(b) + length(string_agg(word, ' ' ORDER BY pos)) AS INT) AS e
         |  FROM runs GROUP BY conv_id, turn_idx, grp
         |),
         |fpset AS (SELECT * FROM p f WHERE NOT EXISTS (
         |  SELECT 1 FROM g WHERE g.doc = f.doc AND g.class_id = f.class_id
         |    AND g."begin" = f."begin" AND g.text = f.text)),
         |fnset AS (SELECT * FROM g f WHERE NOT EXISTS (
         |  SELECT 1 FROM p WHERE p.doc = f.doc AND p.class_id = f.class_id
         |    AND p."begin" = f."begin" AND p.text = f.text)),
         |c AS (SELECT
         |  CAST((SELECT count(*) FROM p WHERE EXISTS (
         |    SELECT 1 FROM g WHERE g.doc = p.doc AND g.class_id = p.class_id
         |      AND g."begin" = p."begin" AND g.text = p.text)) AS BIGINT) AS tp,
         |  CAST((SELECT count(*) FROM fpset) AS BIGINT) AS fp,
         |  CAST((SELECT count(*) FROM fnset) AS BIGINT) AS fn,
         |  CAST((SELECT count(*) FROM fpset f WHERE EXISTS (
         |    SELECT 1 FROM g WHERE g.doc = f.doc AND g.class_id = f.class_id
         |      AND f."begin" < g.e AND f.e > g."begin"
         |      AND NOT (f."begin" = g."begin" AND f.text = g.text))) AS BIGINT) AS fp_ov,
         |  CAST((SELECT count(*) FROM fnset f WHERE EXISTS (
         |    SELECT 1 FROM p WHERE p.doc = f.doc AND p.class_id = f.class_id
         |      AND f."begin" < p.e AND f.e > p."begin"
         |      AND NOT (f."begin" = p."begin" AND f.text = p.text))) AS BIGINT) AS fn_ov),
         |m AS (SELECT tp, fp, fn, fp_ov, fn_ov,
         |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS pe,
         |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS re,
         |  CASE WHEN (tp + fp_ov + fn_ov) + (fp - fp_ov) = 0 THEN 0.0
         |       ELSE CAST(tp + fp_ov + fn_ov AS DOUBLE) / ((tp + fp_ov + fn_ov) + (fp - fp_ov)) END AS po,
         |  CASE WHEN (tp + fp_ov + fn_ov) + (fn - fn_ov) = 0 THEN 0.0
         |       ELSE CAST(tp + fp_ov + fn_ov AS DOUBLE) / ((tp + fp_ov + fn_ov) + (fn - fn_ov)) END AS ro,
         |  CASE WHEN CAST(tp + fp_ov + fn_ov AS DOUBLE) + (fp - fp_ov) = 0.0 THEN 0.0
         |       ELSE (CAST(tp AS DOUBLE) + CAST(fp_ov + fn_ov AS DOUBLE) / 2.0)
         |            / (CAST(tp + fp_ov + fn_ov AS DOUBLE) + (fp - fp_ov)) END AS ph,
         |  CASE WHEN CAST(tp + fp_ov + fn_ov AS DOUBLE) + (fn - fn_ov) = 0.0 THEN 0.0
         |       ELSE (CAST(tp AS DOUBLE) + CAST(fp_ov + fn_ov AS DOUBLE) / 2.0)
         |            / (CAST(tp + fp_ov + fn_ov AS DOUBLE) + (fn - fn_ov)) END AS rh
         |  FROM c)
         |SELECT tp, fp, fn, fp_ov, fn_ov,
         |  round(pe, 6) AS exact_p, round(re, 6) AS exact_r,
         |  round(CASE WHEN pe + re = 0.0 THEN 0.0 ELSE 2.0 * ((pe * re) / (pe + re)) END, 6) AS exact_f,
         |  round(po, 6) AS ov_p, round(ro, 6) AS ov_r,
         |  round(CASE WHEN po + ro = 0.0 THEN 0.0 ELSE 2.0 * ((po * ro) / (po + ro)) END, 6) AS ov_f,
         |  round(ph, 6) AS half_p, round(rh, 6) AS half_r,
         |  round(CASE WHEN ph + rh = 0.0 THEN 0.0 ELSE 2.0 * ((ph * rh) / (ph + rh)) END, 6) AS half_f
         |FROM m""".stripMargin,

    // Subclass breakdown in pure SQL: gold tokens labeled by surface word,
    // BIO-decoded runs labeled by class; EXISTS predicates for the exact /
    // overlap tests and arg_max(label, "begin") for the last-overlap
    // re-attribution (`evaluators.py:445-456` as a deterministic rule).
    // The zero-row branch preserves the reference's pre-mutation label
    // universe (`evaluators.py:426-434`).
    "kg_subclass_eval" ->
      s"""WITH $M,
         |runs AS (
         |  SELECT conv_id, turn_idx, pos, word, b,
         |         $gazCase AS class_id,
         |         pos - row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) AS grp
         |  FROM toks
         |  WHERE word IN ('merge','filter','scan','sort','table','vector','stream','batch')
         |),
         |g AS (
         |  SELECT conv_id || '#' || turn_idx AS doc, class_id, "begin", text,
         |         "begin" + length(text) AS e, text AS label
         |  FROM mentions
         |),
         |p AS (
         |  SELECT conv_id || '#' || turn_idx AS doc,
         |         arg_min(class_id, pos) AS class_id,
         |         CAST(min(b) AS INT) AS "begin",
         |         string_agg(word, ' ' ORDER BY pos) AS text,
         |         CAST(min(b) + length(string_agg(word, ' ' ORDER BY pos)) AS INT) AS e,
         |         arg_min(class_id, pos) AS own_label
         |  FROM runs GROUP BY conv_id, turn_idx, grp
         |),
         |predatt AS (
         |  SELECT p.doc, p.own_label,
         |    EXISTS (SELECT 1 FROM g WHERE g.doc = p.doc AND g.class_id = p.class_id
         |            AND g."begin" = p."begin" AND g.text = p.text) AS is_exact,
         |    (SELECT count(*) FROM g WHERE g.doc = p.doc AND g.class_id = p.class_id
         |      AND p."begin" < g.e AND p.e > g."begin"
         |      AND NOT (g."begin" = p."begin" AND g.text = p.text)) AS n_ov,
         |    (SELECT arg_max(g.label, g."begin") FROM g
         |      WHERE g.doc = p.doc AND g.class_id = p.class_id
         |      AND p."begin" < g.e AND p.e > g."begin"
         |      AND NOT (g."begin" = p."begin" AND g.text = p.text)) AS ov_label
         |  FROM p
         |),
         |goldatt AS (
         |  SELECT g.label,
         |    EXISTS (SELECT 1 FROM p WHERE p.doc = g.doc AND p.class_id = g.class_id
         |            AND p."begin" = g."begin" AND p.text = g.text) AS is_exact,
         |    EXISTS (SELECT 1 FROM p WHERE p.doc = g.doc AND p.class_id = g.class_id
         |            AND g."begin" < p.e AND g.e > p."begin"
         |            AND NOT (p."begin" = g."begin" AND p.text = g.text)) AS has_ov
         |  FROM g
         |),
         |kinds AS (
         |  SELECT CASE WHEN n_ov > 0 THEN ov_label ELSE own_label END AS label,
         |         CASE WHEN is_exact THEN 1 ELSE 0 END AS tp,
         |         CASE WHEN is_exact THEN 0 ELSE 1 END AS fp,
         |         CASE WHEN NOT is_exact AND n_ov > 0 THEN 1 ELSE 0 END AS fp_ov,
         |         0 AS fn, 0 AS fn_ov
         |  FROM predatt
         |  UNION ALL
         |  SELECT own_label, 0, 0, 0, 0, 0 FROM predatt
         |  UNION ALL
         |  SELECT label, 0, 0, 0,
         |         CASE WHEN is_exact THEN 0 ELSE 1 END,
         |         CASE WHEN NOT is_exact AND has_ov THEN 1 ELSE 0 END
         |  FROM goldatt
         |)
         |SELECT label, CAST(sum(tp) AS BIGINT) AS tp,
         |       CAST(sum(fp) AS BIGINT) AS fp,
         |       CAST(sum(fn) AS BIGINT) AS fn,
         |       CAST(sum(fp_ov) AS BIGINT) AS fp_ov,
         |       CAST(sum(fn_ov) AS BIGINT) AS fn_ov
         |FROM kinds GROUP BY label""".stripMargin,

    "kg_scored" ->
      s"""WITH $M,
         |pairs AS (
         |  SELECT m1.conv_id, m1.word AS w1, m2.word AS w2,
         |         min(m1.turn_idx) AS turn_idx
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id AND m1.turn_idx = m2.turn_idx
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |  GROUP BY 1, 2, 3
         |)
         |SELECT conv_id, turn_idx, '$Rel' AS pred,
         |       '$OpClass|' || w1 AS subj, '$ObjClass|' || w2 AS obj,
         |       '$Rel|$ObjClass|' || w2 || '|$OpClass|' || w1 AS key
         |FROM pairs""".stripMargin,

    "kg_pipeline" ->
      s"""WITH $M,
         |pairs AS (
         |  SELECT m1.conv_id, m1.word AS w1, m2.word AS w2,
         |         min(m1.turn_idx) AS turn_idx
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id AND m1.turn_idx = m2.turn_idx
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |  GROUP BY 1, 2, 3
         |)
         |SELECT conv_id, turn_idx, '$Rel' AS pred,
         |       '$OpClass|' || w1 AS subj, '$ObjClass|' || w2 AS obj,
         |       '$Rel|$ObjClass|' || w2 || '|$OpClass|' || w1 AS key
         |FROM pairs""".stripMargin,

    "kg_cc" ->
      """WITH RECURSIVE users AS (
        |  SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events
        |),
        |e AS (
        |  SELECT u1.uid AS src, u1.uid - 1 AS dst
        |  FROM users u1 JOIN users u2 ON u2.uid = u1.uid - 1
        |  WHERE u1.uid % 10 <> 0
        |),
        |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach(a, b) AS (
        |  SELECT uid, uid FROM users
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src
        |)
        |SELECT a AS node, min(b) AS comp FROM reach GROUP BY a""".stripMargin,

    "kg_dist_hist" ->
      s"""WITH $M,
         |edges AS (
         |  SELECT m1.conv_id,
         |         '$Rel|$ObjClass|' || m2.word || '|$OpClass|' || m1.word AS key,
         |         CAST(m2.turn_idx - m1.turn_idx AS INT) AS dist
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id
         |   AND m2.turn_idx BETWEEN m1.turn_idx AND m1.turn_idx + 1
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |),
         |mins AS (SELECT conv_id, key, min(dist) AS min_dist
         |         FROM edges GROUP BY 1, 2)
         |SELECT min_dist, CAST(count(*) AS BIGINT) AS n_keys
         |FROM mins GROUP BY 1""".stripMargin,

    "kg_stats" ->
      s"""WITH $M
         |SELECT class_id,
         |       CAST(count(*) AS BIGINT) AS n_mentions,
         |       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
         |       CAST(count(DISTINCT lower(text)) AS BIGINT) AS n_surfaces,
         |       round(avg(length(text)), 6) AS avg_len
         |FROM mentions GROUP BY 1""".stripMargin,

    "kg_infogain" -> {
      val goldIn = GoldPairs.map { case (a, b) => s"('$a','$b')" }.mkString(", ")
      // entropy in the EXACT expression order of InfoGain.entropyExpr
      // (−p·ln p / ln2 − (1−p)·ln(1−p) / ln2, ln2 as the same literal)
      def hSql(p: String) =
        s"""CASE WHEN ($p) <= 0.0 OR ($p) >= 1.0 THEN 0.0
           |      ELSE -($p) * ln($p) / 0.6931471805599453
           |           - (1.0 - ($p)) * ln(1.0 - ($p)) / 0.6931471805599453 END""".stripMargin
      s"""WITH $M,
         |edges AS (
         |  SELECT m1.word AS word1, m2.word AS word2,
         |         CAST(m2.turn_idx - m1.turn_idx AS INT) AS turn_dist,
         |         CASE WHEN (m1.word, m2.word) IN ($goldIn) THEN 1 ELSE -1 END AS target
         |  FROM grouped m1 JOIN grouped m2
         |    ON m1.conv_id = m2.conv_id
         |   AND m2.turn_idx BETWEEN m1.turn_idx AND m1.turn_idx + 1
         |   AND m1.class_id = '$OpClass' AND m2.class_id = '$ObjClass'
         |),
         |feat AS (
         |  SELECT 'w1=' || word1 AS feature, target FROM edges
         |  UNION ALL SELECT 'w2=' || word2, target FROM edges
         |  UNION ALL SELECT 'dist=' || CAST(turn_dist AS VARCHAR), target FROM edges
         |),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |               CAST(sum(CASE WHEN target = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n_pos
         |        FROM edges),
         |pres AS (SELECT feature, count(*) AS n_f,
         |                sum(CASE WHEN target = 1 THEN 1 ELSE 0 END) AS n_f_pos
         |         FROM feat GROUP BY 1)
         |SELECT feature,
         |  round((${hSql("n_pos / n")})
         |    - (n_f / n) * (${hSql("CAST(n_f_pos AS DOUBLE) / n_f")})
         |    - ((n - n_f) / n) * (CASE WHEN n - n_f = 0 THEN 0.0
         |           ELSE ${hSql("(n_pos - n_f_pos) / (n - n_f)")} END), 6) AS ig
         |FROM pres, tot""".stripMargin
    },

    "dd_exact" ->
      """SELECT doc_id,
        |       min(doc_id) OVER (PARTITION BY text) AS rep_id,
        |       count(*) OVER (PARTITION BY text) > 1 AS is_dup_group
        |FROM documents""".stripMargin,

    "dd_ngram" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
        |  FROM d, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
        |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a, b,
        |       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.1""".stripMargin,

    // decontamination mirror: word-level 5-gram shingles in SQL (the
    // Scala side hashes them — identical membership absent 64-bit
    // collisions, the same argument the dd_ngram/dd_minhash oracles use)
    "dd_decontam" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
        |  FROM d, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
        |),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 17 = 3),
        |hits AS (
        |  SELECT s.doc_id, count(*) AS hits
        |  FROM sh s JOIN bench b ON s.shingle = b.shingle
        |  GROUP BY 1
        |)
        |SELECT c.doc_id, COALESCE(h.hits, 0) AS hits,
        |       COALESCE(h.hits, 0) >= 2 AS contaminated
        |FROM (SELECT doc_id FROM documents) c
        |LEFT JOIN hits h USING (doc_id)""".stripMargin,

    // dd_minhash emits banded-LSH candidate pairs verified by TRUE shingle
    // Jaccard; with bands=32/rows=2 the candidate set provably (p_miss ~
    // 6e-15 at the corpus's minimum qualifying Jaccard) covers every pair
    // >= 0.5, so the output equals this exact all-pairs 3-gram Jaccard.
    // fnv1a64 hash-set sizes equal string-set sizes absent 64-bit
    // collisions, so the jaccard doubles are the same IEEE divisions.
    "dd_minhash" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM d, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
        |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a, b,
        |       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a
        |JOIN sizes sb ON sb.doc_id = b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5""".stripMargin,

    // cluster resolution: the dd_minhash exact pair set (same provable-
    // coverage argument) transitively closed by a recursive CTE; every
    // corpus doc left-joins the component map, cluster_id = min doc_id
    // reachable, keep = is-own-cluster-minimum
    "dd_cluster" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM d, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
        |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a, b FROM inter
        |  JOIN sizes sa ON sa.doc_id = a
        |  JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        |),
        |sym AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        |nds AS (SELECT DISTINCT src AS nd FROM sym),
        |reach(x, y) AS (
        |  SELECT nd, nd FROM nds
        |  UNION
        |  SELECT r.x, s.dst FROM reach r JOIN sym s ON r.y = s.src
        |),
        |comp AS (SELECT x AS node, min(y) AS c FROM reach GROUP BY 1)
        |SELECT doc.doc_id, COALESCE(comp.c, doc.doc_id) AS cluster_id,
        |       doc.doc_id = COALESCE(comp.c, doc.doc_id) AS keep
        |FROM (SELECT doc_id FROM documents) doc
        |LEFT JOIN comp ON comp.node = doc.doc_id""".stripMargin,

    // duplication mass: word-level 5-gram shingles (the dd_ngram
    // convention — short docs yield one whole-doc shingle), per-gram
    // document frequency, per-doc dup fraction; the Scala side hashes
    // grams to longs — identical membership absent 64-bit collisions,
    // the standing dedup-oracle argument
    "dd_dupmass" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS shingle
        |  FROM d, UNNEST(generate_series(1, greatest(len(w) - 4, 1))) AS t(i)
        |),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT s.doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       round(CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS dup_frac
        |FROM sh s JOIN df ON s.shingle = df.shingle
        |GROUP BY s.doc_id""".stripMargin,

    // leakage-safe split: the dd_cluster closure (same recursive CTE)
    // with the split decision hashing the CLUSTER id via the same
    // fingerprint arithmetic the txt_mix oracle re-states (h*257+byte
    // mod 2^61-1 over the id's decimal string), 90/5/5 integer
    // millionth thresholds
    "txt_split" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
        |  FROM d, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
        |  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        |  GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT a, b FROM inter
        |  JOIN sizes sa ON sa.doc_id = a
        |  JOIN sizes sb ON sb.doc_id = b
        |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        |),
        |sym AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        |nds AS (SELECT DISTINCT src AS nd FROM sym),
        |reach(x, y) AS (
        |  SELECT nd, nd FROM nds
        |  UNION
        |  SELECT r.x, s.dst FROM reach r JOIN sym s ON r.y = s.src
        |),
        |comp AS (SELECT x AS node, min(y) AS c FROM reach GROUP BY 1),
        |cl AS (
        |  SELECT doc.doc_id, COALESCE(comp.c, doc.doc_id) AS cluster_id
        |  FROM (SELECT doc_id FROM documents) doc
        |  LEFT JOIN comp ON comp.node = doc.doc_id
        |),
        |fp AS (
        |  SELECT doc_id, cluster_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |        [CAST(unicode(c) AS HUGEINT)
        |         for c in string_split_regex(CAST(cluster_id AS VARCHAR), '')]),
        |      (h, b) -> ((h * 257 + b) % 2305843009213693951)) AS BIGINT)
        |      % 1000000 AS bucket
        |  FROM cl
        |)
        |SELECT doc_id, cluster_id, bucket,
        |       CASE WHEN bucket < 900000 THEN 'train'
        |            WHEN bucket < 950000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM fp""".stripMargin,

    // graft.nlp.Hashes.simhash re-stated in SQL: fnv1a64 per word via
    // HUGEINT mod-2^64 list_reduce (exact on the ASCII corpus where
    // unicode(c) == the UTF-8 byte), then per-bit +/-1 majority vote.
    "dd_simhash" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |hw AS (SELECT doc_id,
        |  CAST(list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |       [CAST(unicode(c) AS HUGEINT) for c in string_split_regex(word, '')]),
        |     (h, b) -> (CAST(xor(CAST(h AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
        |                * 1099511628211) % 18446744073709551616
        |  ) AS UBIGINT) AS wh
        |  FROM w),
        |bits AS (
        |  SELECT doc_id, b, sum(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM hw, UNNEST(generate_series(0, 63)) AS t(b) GROUP BY 1, 2),
        |sh AS (SELECT doc_id,
        |         sum(CASE WHEN acc > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT)
        |             ELSE 0 END) AS s
        |       FROM bits GROUP BY 1)
        |SELECT doc_id,
        |  CAST(CASE WHEN s >= 9223372036854775808 THEN s - 18446744073709551616
        |       ELSE s END AS BIGINT) AS simhash
        |FROM sh""".stripMargin,

    "ann_topk" -> annTopkOracle,

    // ann_lsh (measured recall 1.0 at its params on this corpus family)
    // and ann_ivf (full probe == brute force, provably) both reproduce
    // the exact top-k, so they share the brute-force oracle.
    "ann_lsh" -> annTopkOracle,
    "ann_ivf" -> annTopkOracle,

    "dd_embed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin,

    // semantic dedup: the dd_embed pair set (same cosine threshold,
    // unrounded comparison) closed by the dd_cluster recursive CTE over
    // the embeddings table's ids
    "dd_semdedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        |),
        |sym AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
        |nds AS (SELECT DISTINCT src AS nd FROM sym),
        |reach(x, y) AS (
        |  SELECT nd, nd FROM nds
        |  UNION
        |  SELECT r.x, s.dst FROM reach r JOIN sym s ON r.y = s.src
        |),
        |comp AS (SELECT x AS node, min(y) AS c FROM reach GROUP BY 1)
        |SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS cluster_id,
        |       d.doc_id = COALESCE(comp.c, d.doc_id) AS keep
        |FROM (SELECT vec_id AS doc_id FROM embeddings) d
        |LEFT JOIN comp ON comp.node = d.doc_id""".stripMargin,

    "txt_quality" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
        |  CAST(list_max(list_transform(words, x -> length(x))) AS BIGINT) AS max_word_len,
        |  CAST(len(list_filter(words, x -> x IN ('the', 'a'))) AS BIGINT) AS stopword_count,
        |  CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
        |FROM w""".stripMargin,

    "txt_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
        |FROM t""".stripMargin,

    // sequence packing: DuckDB states the GLOBAL exclusive prefix sum as
    // one window; the engine computes the identical value as a
    // distributed prefix sum (per-chunk windows + offset rejoin) — the
    // equality across multiple chunks is exactly what this oracle checks
    "txt_pack" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |       COALESCE(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
        |                  OVER (ORDER BY doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                0) // 512 AS seq_id
        |FROM documents""".stripMargin,

    // Gopher repetition mass in SQL: same occurrence-mass definition and
    // the same (count, gram) lexicographic top-bigram tie-break (struct
    // max on both engines).
    "txt_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |                 length(text) AS n_chars FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
        |  FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 2
        |),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |topbg AS (SELECT doc_id, max({'c': c, 'g': g}) AS top FROM bgc GROUP BY 1),
        |fg AS (
        |  SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
        |  FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
        |  WHERE len(ws) >= 5
        |),
        |fgc AS (SELECT doc_id, g, count(*) AS c FROM fg GROUP BY 1, 2),
        |dup AS (SELECT doc_id, sum(c * length(g)) AS dup_chars
        |        FROM fgc WHERE c >= 2 GROUP BY 1)
        |SELECT w.doc_id, CAST(w.n_chars AS BIGINT) AS n_chars,
        |  CAST(coalesce(struct_extract(top, 'c'), 0) AS BIGINT) AS top_bigram_count,
        |  CASE WHEN w.n_chars > 0 THEN round(
        |    CAST(coalesce(struct_extract(top, 'c') * length(struct_extract(top, 'g')), 0) AS DOUBLE)
        |      / w.n_chars, 6) ELSE 0.0 END AS top_bigram_frac,
        |  CASE WHEN w.n_chars > 0 THEN round(
        |    CAST(coalesce(dup_chars, 0) AS DOUBLE) / w.n_chars, 6)
        |  ELSE 0.0 END AS dup_5gram_frac
        |FROM w LEFT JOIN topbg ON w.doc_id = topbg.doc_id
        |LEFT JOIN dup ON w.doc_id = dup.doc_id""".stripMargin,

    // curation decision = the txt_quality + txt_repetition signals put
    // through the same fixed-order rules (concat_ws skips NULL CASE arms
    // identically on both engines; repetition fractions compared at
    // their 6dp-rounded values so the decision is bit-stable)
    "txt_curation" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |                 length(text) AS n_chars FROM documents),
        |q AS (SELECT doc_id, len(ws) AS n_words,
        |       list_max(list_transform(ws, x -> length(x))) AS max_word_len,
        |       CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio
        |      FROM w),
        |bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
        |       FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        |       WHERE len(ws) >= 2),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |topbg AS (SELECT doc_id, max({'c': c, 'g': g}) AS top FROM bgc GROUP BY 1),
        |fg AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS g
        |       FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)
        |       WHERE len(ws) >= 5),
        |fgc AS (SELECT doc_id, g, count(*) AS c FROM fg GROUP BY 1, 2),
        |dup AS (SELECT doc_id, sum(c * length(g)) AS dup_chars
        |        FROM fgc WHERE c >= 2 GROUP BY 1),
        |r AS (SELECT w.doc_id,
        |  CASE WHEN w.n_chars > 0 THEN round(
        |    CAST(coalesce(struct_extract(top, 'c') * length(struct_extract(top, 'g')), 0) AS DOUBLE)
        |      / w.n_chars, 6) ELSE 0.0 END AS tbf,
        |  CASE WHEN w.n_chars > 0 THEN round(
        |    CAST(coalesce(dup_chars, 0) AS DOUBLE) / w.n_chars, 6)
        |  ELSE 0.0 END AS d5f
        |  FROM w LEFT JOIN topbg ON w.doc_id = topbg.doc_id
        |  LEFT JOIN dup ON w.doc_id = dup.doc_id),
        |j AS (SELECT q.doc_id, concat_ws(',',
        |       CASE WHEN q.n_words < 20 THEN 'too_few_words' END,
        |       CASE WHEN q.max_word_len > 25 THEN 'long_word' END,
        |       CASE WHEN q.distinct_ratio < 0.45 THEN 'low_diversity' END,
        |       CASE WHEN r.tbf > 0.06 THEN 'top_bigram_repetition' END,
        |       CASE WHEN r.d5f > 0.1 THEN 'dup_ngram_repetition' END) AS reasons
        |      FROM q JOIN r ON q.doc_id = r.doc_id)
        |SELECT doc_id, reasons = '' AS keep, reasons FROM j""".stripMargin,

    // graft.nlp.Hashes.fingerprint re-stated in SQL: base-257 rolling
    // polynomial mod the Mersenne prime 2^61-1 via HUGEINT list_reduce
    // (exact on the ASCII corpus where unicode(c) == the UTF-8 byte).
    "txt_fingerprint" ->
      """SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      [CAST(unicode(c) AS HUGEINT) for c in string_split_regex(text, '')]),
        |    (h, b) -> ((h * 257 + b) % 2305843009213693951)) AS BIGINT) AS fingerprint
        |FROM documents""".stripMargin,

    // PII scrub mirror: identical plants, identical RE2-safe patterns
    // (DuckDB regexp_* is RE2; 'g' = replace all, matching Spark's
    // regexp_replace), identical email -> ip -> phone redaction order
    "txt_pii" ->
      """WITH s AS (
        |  SELECT doc_id, text || CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN ' contact bob@mail.example.com now'
        |    WHEN 1 THEN ' server at 192.168.10.42 port'
        |    WHEN 2 THEN ' call +1 415 555 0100 today'
        |    ELSE '' END AS text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    COALESCE(text, '') AS t0,
        |    regexp_replace(COALESCE(text, ''),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM s),
        |r2 AS (
        |  SELECT doc_id, t0, t1,
        |    regexp_replace(t1,
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS t2
        |  FROM r)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t0, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |  regexp_replace(t2, '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS redacted
        |FROM r2""".stripMargin,

    // per-domain unigram KL drift: identical ratio arithmetic — DuckDB's
    // `/` on integers yields DOUBLE exactly like Spark's on longs, and
    // both sides round the per-domain sum once at 6dp
    "txt_kl" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |sw AS (SELECT source, word, count(*) AS c_sw FROM w GROUP BY 1, 2),
        |s AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY 1),
        |cw AS (SELECT word, sum(c_sw) AS c_cw FROM sw GROUP BY 1),
        |n AS (SELECT sum(c_sw) AS n_c FROM sw)
        |SELECT sw.source, CAST(s.n_s AS BIGINT) AS n_words,
        |       round(sum((sw.c_sw / s.n_s) *
        |                 (ln((sw.c_sw / s.n_s) / (cw.c_cw / n.n_c))
        |                  / 0.6931471805599453)), 6) AS kl_bits
        |FROM sw JOIN s USING (source) JOIN cw USING (word) CROSS JOIN n
        |GROUP BY 1, 2""".stripMargin,

    // per-domain TF-IDF signatures: same (source, word) count table as
    // txt_kl, idf = ln(#domains / #domains containing the word); both
    // engines rank on the ROUNDED score with word-asc tie-break, so
    // sub-6dp ln ULP differences cannot reorder the top-k
    "txt_tfidf" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT source, word, count(*) AS tf FROM w GROUP BY 1, 2),
        |ns AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS ns FROM tf),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.source, tf.word, tf.tf,
        |         round(tf.tf * ln(ns.ns / df.df), 6) AS score
        |  FROM tf JOIN df USING (word) CROSS JOIN ns
        |),
        |rk AS (
        |  SELECT source, word, tf, score,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY score DESC, word) AS rk
        |  FROM sc
        |)
        |SELECT source, word, tf, score, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 5""".stripMargin,

    // domain-mix sampling: the txt_fingerprint rolling hash re-stated in
    // HUGEINT SQL, bucket = fp % 1e6, keep = bucket under the domain's
    // integer threshold (generated from the SAME MixRates map the Spark
    // query uses — the two sides cannot drift)
    "txt_mix" -> {
      val cases = MixRates.toSeq.sortBy(_._1)
        .map { case (s, r) => s"WHEN '$s' THEN ${math.round(r * 1e6)}" }
        .mkString(" ")
      s"""WITH f AS (
         |  SELECT doc_id, source,
         |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
         |        [CAST(unicode(c) AS HUGEINT) for c in string_split_regex(text, '')]),
         |      (h, b) -> ((h * 257 + b) % 2305843009213693951)) AS BIGINT) % 1000000 AS bucket
         |  FROM documents)
         |SELECT doc_id, source, bucket,
         |       bucket < (CASE source $cases ELSE 1000000 END) AS keep
         |FROM f""".stripMargin
    },

    // perplexity filter: the add-one bigram cross-entropy re-stated in
    // SQL — identical tokenization (single-space words, <s> sentinel),
    // identical smoothing arithmetic (ln / the same ln2 literal, the
    // kg_infogain precedent), identical 6dp rounding
    "txt_ppl" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, len(w) AS n,
        |         CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx, w[i] AS word
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
        |),
        |lm AS (SELECT ctx, word, count(*) AS c FROM bg GROUP BY 1, 2),
        |ctx_tot AS (SELECT ctx, sum(c) AS ct FROM lm GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM lm),
        |grams AS (SELECT doc_id, n, ctx, word, count(*) AS m FROM bg GROUP BY 1, 2, 3, 4),
        |terms AS (
        |  SELECT g.doc_id, g.n,
        |         g.m * (ln((lm.c + 1.0) / (ct.ct + vocab.v)) / 0.6931471805599453) AS term
        |  FROM grams g
        |  JOIN lm ON g.ctx = lm.ctx AND g.word = lm.word
        |  JOIN ctx_tot ct ON ct.ctx = g.ctx
        |  CROSS JOIN vocab
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       round(-sum(term) / n, 6) AS xent_bits
        |FROM terms GROUP BY doc_id, n""".stripMargin,

    // DSIR importance weight: the same add-one bigram arithmetic TWICE
    // (target = lang='en' docs, raw = full corpus), per-gram term =
    // m·(ln p_t − ln p_r)/ln2; LEFT JOIN + COALESCE so grams missing
    // from the target model degrade to the add-one floor exactly as the
    // engine's full-outer-merged model does
    "txt_dsir" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, len(w) AS n,
        |         CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx, w[i] AS word
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
        |),
        |tbg AS (
        |  SELECT CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx, w[i] AS word
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE lang = 'en') s,
        |       UNNEST(generate_series(1, len(w))) AS t(i)
        |),
        |tlm AS (SELECT ctx, word, count(*) AS c FROM tbg GROUP BY 1, 2),
        |rlm AS (SELECT ctx, word, count(*) AS c FROM bg GROUP BY 1, 2),
        |tctx AS (SELECT ctx, sum(c) AS ct FROM tlm GROUP BY 1),
        |rctx AS (SELECT ctx, sum(c) AS ct FROM rlm GROUP BY 1),
        |vocab AS (SELECT (SELECT CAST(count(DISTINCT word) AS BIGINT) FROM tlm) AS v_t,
        |                 (SELECT CAST(count(DISTINCT word) AS BIGINT) FROM rlm) AS v_r),
        |grams AS (SELECT doc_id, n, ctx, word, count(*) AS m FROM bg GROUP BY 1, 2, 3, 4),
        |terms AS (
        |  SELECT g.doc_id, g.n,
        |         g.m * ((ln((COALESCE(t.c, 0) + 1.0) / (COALESCE(tc.ct, 0) + vocab.v_t))
        |               - ln((COALESCE(r.c, 0) + 1.0) / (COALESCE(rc.ct, 0) + vocab.v_r)))
        |               / 0.6931471805599453) AS term
        |  FROM grams g
        |  LEFT JOIN tlm t ON g.ctx = t.ctx AND g.word = t.word
        |  LEFT JOIN tctx tc ON tc.ctx = g.ctx
        |  LEFT JOIN rlm r ON g.ctx = r.ctx AND g.word = r.word
        |  LEFT JOIN rctx rc ON rc.ctx = g.ctx
        |  CROSS JOIN vocab
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       round(sum(term) / n, 6) AS llr_bits
        |FROM terms GROUP BY doc_id, n""".stripMargin,

    // CCNet banding: the txt_ppl cross-entropy joined with lang, then
    // per-language tertile cutoffs from the SAME integer rule the engine
    // uses (c_i = min xent with cum*3 >= i*n over the ascending value
    // histogram); the 6dp-rounded xent values hash-match between engines
    // (txt_ppl), so the <= comparisons are safe
    "txt_band" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id, len(w) AS n,
        |         CASE WHEN i = 1 THEN '<s>' ELSE w[i-1] END AS ctx, w[i] AS word
        |  FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
        |),
        |lm AS (SELECT ctx, word, count(*) AS c FROM bg GROUP BY 1, 2),
        |ctx_tot AS (SELECT ctx, sum(c) AS ct FROM lm GROUP BY 1),
        |vocab AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM lm),
        |grams AS (SELECT doc_id, n, ctx, word, count(*) AS m FROM bg GROUP BY 1, 2, 3, 4),
        |terms AS (
        |  SELECT g.doc_id, g.n,
        |         g.m * (ln((lm.c + 1.0) / (ct.ct + vocab.v)) / 0.6931471805599453) AS term
        |  FROM grams g
        |  JOIN lm ON g.ctx = lm.ctx AND g.word = lm.word
        |  JOIN ctx_tot ct ON ct.ctx = g.ctx
        |  CROSS JOIN vocab
        |),
        |ppl AS (SELECT doc_id, round(-sum(term) / n, 6) AS xent_bits
        |        FROM terms GROUP BY doc_id, n),
        |scored AS (SELECT p.doc_id, d.lang, p.xent_bits
        |           FROM ppl p JOIN documents d USING (doc_id)),
        |cum AS (SELECT lang, xent_bits,
        |          sum(count(*)) OVER (PARTITION BY lang ORDER BY xent_bits) AS cum,
        |          sum(count(*)) OVER (PARTITION BY lang) AS n
        |        FROM scored GROUP BY 1, 2),
        |cuts AS (SELECT lang,
        |           min(CASE WHEN cum * 3 >= n THEN xent_bits END) AS c1,
        |           min(CASE WHEN cum * 3 >= 2 * n THEN xent_bits END) AS c2
        |         FROM cum GROUP BY 1)
        |SELECT s.doc_id, s.lang, s.xent_bits,
        |       CASE WHEN s.xent_bits <= c.c1 THEN 'head'
        |            WHEN s.xent_bits <= c.c2 THEN 'middle'
        |            ELSE 'tail' END AS band
        |FROM scored s JOIN cuts c USING (lang)""".stripMargin,

    // graft.nlp.LangId.detect re-stated in SQL: stopword voting over the
    // four built-in profiles with the deterministic (-score, lang)
    // tie-break (de < en < es < fr). The CJK branch never fires on the
    // ASCII corpus (asserted by the charset check in the generator).
    "txt_langid" -> {
      def inList(ws: Seq[String]) = ws.sorted.map(w => s"'$w'").mkString(", ")
      val de = inList(Seq("der", "die", "das", "und", "ist", "nicht", "ein",
        "eine", "mit", "von", "für", "auf", "sich", "dass", "ich", "zu"))
      val en = inList(Seq("the", "and", "of", "to", "in", "is", "that", "it",
        "was", "for", "with", "his", "this", "not", "are", "you"))
      val es = inList(Seq("el", "la", "los", "las", "que", "de", "en", "un",
        "una", "es", "por", "con", "para", "no", "se", "su"))
      val fr = inList(Seq("le", "la", "les", "et", "est", "une", "des",
        "dans", "que", "pour", "pas", "vous", "avec", "sur", "ce", "je"))
      s"""WITH w AS (
         |  SELECT doc_id,
         |    unnest(list_filter(string_split_regex(lower(text), '[^a-zà-ÿ]+'),
         |                       x -> x <> '')) AS word
         |  FROM documents),
         |s AS (SELECT doc_id,
         |        sum(CASE WHEN word IN ($de) THEN 1 ELSE 0 END) AS de,
         |        sum(CASE WHEN word IN ($en) THEN 1 ELSE 0 END) AS en,
         |        sum(CASE WHEN word IN ($es) THEN 1 ELSE 0 END) AS es,
         |        sum(CASE WHEN word IN ($fr) THEN 1 ELSE 0 END) AS fr
         |      FROM w GROUP BY 1)
         |SELECT d.doc_id, CASE
         |  WHEN s.doc_id IS NULL OR greatest(en, de, fr, es) = 0 THEN 'und'
         |  WHEN de >= en AND de >= es AND de >= fr THEN 'de'
         |  WHEN en >= es AND en >= fr THEN 'en'
         |  WHEN es >= fr THEN 'es'
         |  ELSE 'fr' END AS lang_pred
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin
    },

    "mm_decode" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST(64 + length(text) % 577 AS INT) AS width,
        |  CAST(64 + (length(text) * 31) % 433 AS INT) AS height,
        |  CAST(1 + length(text) % 7 AS INT) AS n_frames
        |FROM documents""".stripMargin,

    // sessionization: identical integer-microsecond gap rule (epoch_us
    // ≡ Spark's unix_micros; strict > 30min = 1.8e9 us), identical
    // (ts, event_id) window order
    "ev_sessions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |),
        |l AS (
        |  SELECT event_id, user_id, ts_us,
        |         lag(ts_us) OVER (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id) AS prev_us
        |  FROM e
        |),
        |f AS (
        |  SELECT event_id, user_id, ts_us,
        |         (prev_us IS NULL OR ts_us - prev_us > 1800000000) AS is_start
        |  FROM l
        |)
        |SELECT event_id, user_id,
        |       CAST(sum(CASE WHEN is_start THEN 1 ELSE 0 END) OVER (
        |         PARTITION BY user_id ORDER BY ts_us, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS session_idx,
        |       is_start
        |FROM f""".stripMargin,

    // tumbling hourly aggregation (both engines truncate in UTC — the
    // Spark session timezone is pinned to UTC)
    "ev_windows" ->
      """SELECT event_type, date_trunc('hour', ts) AS window_start,
        |       count(*) AS n_events, round(sum(value), 6) AS sum_value,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    // funnel: identical greedy fold — step ids in (epoch_us, event_id)
    // order reduced with the same advance-on-next-step rule (list_reduce
    // seeded by the prepended 0, the txt_mix idiom); silent users rejoin
    // with depth 0
    "ev_funnel" ->
      """WITH s AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
        |              WHEN 'click' THEN 3 WHEN 'purchase' THEN 4
        |              ELSE 0 END AS sid
        |  FROM events
        |),
        |u AS (
        |  SELECT user_id, list(sid ORDER BY us, event_id) AS sids
        |  FROM s WHERE sid > 0 AND us IS NOT NULL GROUP BY 1
        |),
        |d AS (
        |  SELECT user_id,
        |    CAST(list_reduce(list_prepend(0, sids),
        |      (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1 ELSE acc END)
        |      AS BIGINT) AS depth
        |  FROM u
        |)
        |SELECT a.user_id, COALESCE(d.depth, 0) AS depth
        |FROM (SELECT DISTINCT user_id FROM events) a
        |LEFT JOIN d USING (user_id)""".stripMargin,

    // retention: identical hour-truncation + integral micros division
    "ev_retention" ->
      """WITH h AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h FROM events
        |),
        |f AS (SELECT user_id, min(h) AS cohort_hour FROM h GROUP BY 1)
        |SELECT f.cohort_hour,
        |       (epoch_us(h.h) - epoch_us(f.cohort_hour)) // 3600000000
        |         AS offset_hours,
        |       CAST(count(DISTINCT h.user_id) AS BIGINT) AS n_users
        |FROM h JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin
    )
    // the table-join CRF route must produce EXACTLY what the broadcast
    // route produces — same oracle SQL, two independent Spark plans
    base + ("kg_crf_table" -> base("kg_crf_mentions"))
  }
}
