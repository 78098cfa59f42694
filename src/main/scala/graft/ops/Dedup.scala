package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.nlp.Hashes

/** Deduplication operators for large-scale training-data curation.
  * All candidate generation is inverted-index/bucket based — never an
  * O(n²) cross join — so each stage scales linearly in corpus size with
  * shuffles keyed on bucket ids.
  */
object Dedup {

  /** Exact dedup: representative id = min doc_id over identical text.
    *
    * Two-phase hash-first (the candidates-then-join-back pattern of
    * [[minhashLsh]] / Similarity.embeddingNearDupPairsLsh): the ONLY
    * corpus-wide shuffle moves (xxhash64(text), doc_id) — 16 bytes/row —
    * to find hash groups with ≥2 members. Texts are then semi-joined
    * back for JUST those groups (a tiny fraction of a mostly-unique
    * corpus) where a window on (h, text) verifies 64-bit collisions and
    * assigns rep_id = min doc_id; every other document is its own
    * representative without its text ever leaving the scan. At 100 TB
    * this dedups the corpus while shuffling only ids + the duplicated
    * slice, instead of the full corpus text (the r3 shape). On a
    * corpus that is MOSTLY duplicates the verified slice is inherently
    * large — but that cost is proportional to the actual dup candidates,
    * never to unique text.
    */
  def exact(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"), xxhash64(col("text")).as("h"))
    // multi-member hash groups: the one corpus-wide aggregate, ids-only.
    // Referenced by both joins below — identical subtrees, so Catalyst's
    // ReusedExchange shares the single (h)-partitioned shuffle.
    val multi = ids.groupBy("h").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h"), col("text"))
    val resolved = docs.select(col("doc_id"), col("text"))
      .withColumn("h", xxhash64(col("text")))
      .join(multi, Seq("h"), "left_semi")
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("rep_id"),
        (col("group_size") > 1).as("is_dup_group"))
    val singles = ids.join(multi, Seq("h"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("rep_id"),
        lit(false).as("is_dup_group"))
    resolved.unionByName(singles)
  }

  /** Word n-gram shingle Jaccard near-dup pairs via inverted index:
    * explode shingles → self-join on shingle (candidate pairs share ≥1
    * shingle) → exact Jaccard on intersection counts. `n` large enough
    * that shingle buckets are selective (5-grams here).
    *
    * Skew guard: a shingle appearing in f documents contributes f(f-1)/2
    * candidate pairs to the self-join — one hot boilerplate shingle is a
    * cartesian bomb on a skewed corpus. Shingles with document frequency
    * above `maxShingleDf` are dropped as stop-shingles BEFORE both the
    * join and the size counts, so Jaccard is consistently computed over
    * the rare-shingle sets (identical results on corpora where no shingle
    * exceeds the cap — the driver testdata maxes at df=4; explosion bound
    * tested in CurationSpec).
    *
    * The operator materializes its result (localCheckpoint) so the
    * persisted shingle index can be released before returning — the
    * inverted index is corpus-sized, the pairs output is not.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 5, threshold: Double = 0.5,
                   maxShingleDf: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Shingles are hashed to 8-byte keys (graft.nlp.Hashes.shingles —
    // the SAME hashed-shingle sets dd_minhash verifies with) BEFORE the
    // inverted index is built: every downstream shuffle (df counts, the
    // candidate self-join) moves longs instead of n-word strings, and
    // because the tight-loop hasher already emits a per-doc SET, the
    // old corpus-wide `.distinct()` exchange disappears entirely —
    // measured 14.5 MB → 2.85 MB total shuffle at sf0.1 (5×), with the
    // per-window string assembly (transform/slice/concat_ws) gone too.
    // Jaccard over hashed-shingle sets equals string-set Jaccard absent
    // 64-bit collisions (p ≈ shingles²·2⁻⁶⁴ per doc — the same argument
    // the dd_minhash oracle already relies on). Window semantics match
    // the SQL oracle: docs shorter than n words yield ONE whole-doc
    // shingle.
    val exploded = docs
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        Hashes.shingles(text.split(" ").toIndexedSeq, n).iterator
          .map(h => (id, h))
      }.toDF("doc_id", "shingle")
      // read twice below (hot-shingle aggregation + the filtered index)
      .persist()
    // stop-shingle filter: the hot set is tiny BY CONSTRUCTION (only
    // shingles with df > cap), so it broadcasts and the filter is a
    // map-side anti-join — no sort over the full index (a window-df
    // formulation pays a per-shingle sort of the whole index)
    val hot = exploded.groupBy("shingle")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxShingleDf)
      .select("shingle")
    val shingled = exploded
      .join(broadcast(hot), Seq("shingle"), "left_anti")
      .select("doc_id", "shingle")
      // both the inverted-index self-join sides and the size lookup read
      // this — persist to shingle once (the checkpointable intermediate
      // at scale)
      .persist()
    val sizes = shingled.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = shingled.select(col("doc_id").as("a"), col("shingle"))
    val b = shingled.select(col("doc_id").as("b"), col("shingle"))
    val inter = a.join(b, Seq("shingle")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
    val pairs = inter
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("sa")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("sb")), Seq("b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sa") + col("sb") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
      .localCheckpoint(true)
    shingled.unpersist(false)
    exploded.unpersist(false)
    pairs
  }

  /** MinHash-LSH pairs at THE parameter set the oracle-checked surface
    * shares — dd_minhash / dd_cluster / txt_split driver queries and
    * `Stages.materializeCuration` all call this one definition. At
    * bands=32 (rows=2) the banded candidate set provably covers every
    * pair at or above the 0.5 Jaccard threshold on the driver corpus
    * family (p_miss ≈ 6e-15 at its lowest qualifying Jaccard), which is
    * exactly what lets DuckDB's all-pairs SQL stand as a bit-for-bit
    * oracle. Retuning these parameters means retuning every mirror SQL
    * and the durable chain's stage-parity tests together — hence one
    * definition, not four literal tuples.
    */
  def oracleLshPairs(docs: DataFrame): DataFrame =
    minhashLsh(docs, shingleN = 3, numPerm = 64, bands = 32, threshold = 0.5)

  /** Hashed shingle set of one document — the tokenization + shingling
    * every minhash consumer (batch AND streaming) goes through, so the
    * candidate arithmetic can never diverge between them.
    */
  private[graft] def docShingles(text: String, shingleN: Int): Array[Long] =
    Hashes.shingles(text.split("\\s+").toIndexedSeq, shingleN).toArray

  /** One band's bucket key from a minhash signature: the band index
    * salted and mix64-folded with that band's `rows` signature slots.
    * Only [[docBuckets]] calls it.
    */
  private def bandBucket(sig: Array[Long], band: Int, rows: Int): Long = {
    var h = Hashes.mix64(band.toLong + 0x9e3779b97f4a7c15L)
    var k = 0
    while (k < rows) { h = Hashes.mix64(h ^ sig(band * rows + k)); k += 1 }
    h
  }

  /** The `bands` bucket keys of one document's hashed shingle set:
    * `Hashes.minhash` signature, then [[bandBucket]] per band — THE
    * per-doc fold shared by [[minhashLsh]], [[bandedBuckets]] and
    * `StreamingKg.minhashCandidatesStream`, so their candidate sets are
    * equal by construction (and tested). `numPerm % bands == 0` is the
    * callers' precondition.
    */
  private[graft] def docBuckets(shingles: Array[Long], numPerm: Int,
                                bands: Int): Array[Long] = {
    val rows = numPerm / bands
    val sig = Hashes.minhash(shingles, numPerm)
    Array.tabulate(bands)(b => bandBucket(sig, b, rows))
  }

  /** Exact-Jaccard verification of candidate pairs: the (a, b) id pairs
    * of `cand` join back to `shingles` (doc_id, shingles — the
    * [[docShingles]] sets) on both sides, each pair pays for its two sets
    * once, and the pairs whose set Jaccard reaches `threshold` come out
    * as (a, b, jaccard). The one check of [[minhashLsh]] and
    * `StreamingKg.minhashDedupStream`.
    */
  private[graft] def verifiedPairs(cand: DataFrame, shingles: DataFrame,
                                   threshold: Double): DataFrame = {
    import cand.sparkSession.implicits._
    cand
      .join(shingles.select(col("doc_id").as("a"), col("shingles").as("sha")), Seq("a"))
      .join(shingles.select(col("doc_id").as("b"), col("shingles").as("shb")), Seq("b"))
      .select(col("a"), col("b"), col("sha"), col("shb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (x, y, sa, sb) =>
        val inter = sa.toSet.intersect(sb.toSet).size
        (x, y, inter.toDouble / (sa.length + sb.length - inter))
      }.toDF("a", "b", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash of one document: `Hashes.simhash` over its
    * whitespace-separated words, each word's fnv1a64 with weight 1 — the
    * per-doc fold of [[simhash]] and `StreamingKg.simhashPairsStream`.
    */
  private[graft] def docSimhash(text: String): Long =
    Hashes.simhash(text.split("\\s+").iterator.filter(_.nonEmpty)
      .map(w => (Hashes.fnv1a64(w), 1)))

  /** The four block keys of a SimHash: block index `b` in the high word,
    * the hash's `b`-th 16-bit block in the low 16 bits. Two hashes within
    * hamming 3 share at least one key (pigeonhole) — the candidate
    * blocking of [[simhashPairs]] and `StreamingKg.simhashPairsStream`.
    */
  private[graft] def simhashBlocks(h: Long): IndexedSeq[Long] =
    (0 until 4).map(b => b.toLong << 32 | ((h >>> (b * 16)) & 0xffffL))

  /** (doc_id, bucket) band rows — and NOTHING else. The bucket packs the
    * band index with a mix64 fold of that band's `rows` signature slots,
    * so equal band slices always collide (a 64-bit bucket collision
    * between unequal slices can only ADD candidates, which exact
    * verification then discards — it can never lose a pair). Keeping the
    * band rows payload-free is the scale contract: the bucket self-join
    * shuffles `bands`× the DOC COUNT, not `bands`× the corpus shingle
    * data (CurationSpec pins the two-column schema).
    */
  private[graft] def bandedBuckets(shingled: DataFrame, numPerm: Int,
                                 bands: Int): DataFrame = {
    val spark = shingled.sparkSession
    import spark.implicits._
    require(numPerm % bands == 0)
    shingled.select(col("doc_id"), col("shingles")).as[(Long, Array[Long])]
      .flatMap { case (id, sh) =>
        docBuckets(sh, numPerm, bands).iterator.map(b => (id, b))
      }.toDF("doc_id", "bucket")
  }

  /** MinHash + banded LSH near-dup candidates, verified by true shingle
    * Jaccard. Deterministic permutations derived from splitmix64 salts
    * (graft.nlp.Hashes.minhash). bands×rows = numPerm; two docs collide
    * when all `rows` signature slots of some band agree.
    *
    * Scale shape: band rows carry (doc_id, bucket) ONLY — the bucket
    * self-join never ships shingle data. Candidate id-pairs are joined
    * BACK to the persisted (doc_id, shingles) table for the exact-Jaccard
    * verification, so each surviving candidate pays for its two shingle
    * sets exactly once (the same candidates-then-join-back pattern as
    * Similarity.embeddingNearDupPairsLsh). The result is materialized
    * (localCheckpoint) so the shingle table's cache can be released
    * before returning.
    */
  def minhashLsh(docs: DataFrame, shingleN: Int = 3, numPerm: Int = 64,
                 bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numPerm % bands == 0)
    // shingles and band buckets are computed once, in the persisted
    // pass; one row-count action fills the cache BEFORE its four consumers
    // (two band sides, two verification sides) launch concurrently and
    // each race to compute it (r6)
    val shingled = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val sh = docShingles(text, shingleN)
        (id, sh, docBuckets(sh, numPerm, bands))
      }
      .toDF("doc_id", "shingles", "buckets")
      .persist()
    shingled.count()
    // band rows stay (doc_id, bucket) ONLY — the r3 shuffle contract
    val banded = shingled.select(col("doc_id"), explode(col("buckets")).as("bucket"))
    val cand = banded
      .join(banded.select(col("doc_id").as("b"), col("bucket")), Seq("bucket"))
      .filter(col("doc_id") < col("b"))
      .select(col("doc_id").as("a"), col("b")).distinct()
    val pairs = verifiedPairs(cand, shingled, threshold).localCheckpoint(true)
    shingled.unpersist(false)
    pairs
  }

  /** 64-bit SimHash per document over word features; near-dup pairs =
    * hamming ≤ `maxHamming` via 4-block LSH (pigeonhole: any pair within
    * hamming 3 of 64 bits shares at least one identical 16-bit block).
    * NOTE `maxHamming` > 3: the 4-block fanout guarantees a shared block
    * only up to hamming 3 — larger values return a candidate SUBSET
    * (pairs that happen to share a block), not every qualifying pair.
    * The streaming form uses the same blocking, so parity holds at any
    * setting.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, docSimhash(text)) }.toDF("doc_id", "simhash")
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = simhash(docs).as[(Long, Long)]
    val blocked = sh.flatMap { case (id, h) => simhashBlocks(h).map(k => (k, id, h)) }
      .toDF("block", "doc_id", "simhash")
    val l = blocked.select(col("block"), col("doc_id").as("a"), col("simhash").as("ha"))
    val r = blocked.select(col("block"), col("doc_id").as("b"), col("simhash").as("hb"))
    l.join(r, Seq("block")).filter(col("a") < col("b"))
      .select("a", "b", "ha", "hb").distinct()
      .as[(Long, Long, Long, Long)]
      .map { case (x, y, ha, hb) => (x, y, Hashes.hamming(ha, hb)) }
      .toDF("a", "b", "hamming")
      .filter(col("hamming") <= maxHamming)
  }

  /** Dedup CLUSTER RESOLUTION — the end-game every near-dup detector
    * feeds. Near-dup PAIRS (from [[minhashLsh]] / [[ngramJaccard]] /
    * [[simhashPairs]], schema (a, b, ...)) are transitively closed into
    * clusters and every corpus document gets a verdict:
    * (doc_id, cluster_id, keep) with cluster_id = min doc_id reachable
    * through the pair graph and keep = (doc_id == cluster_id) — one
    * canonical representative survives per duplicate cluster, every
    * unpaired document keeps itself. Pair detection alone under-deletes:
    * A~B and B~C qualify while A~C falls below threshold, yet the three
    * must still collapse to ONE kept document (the connected-components
    * cluster step of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" §3) — this operator is that step.
    *
    * Scale shape: connected components (Linking.connectedComponents —
    * neighbor-min + path halving, ONE lazy-checkpoint job per round)
    * runs over the PAIR GRAPH ONLY, which is dup-pair-sized — orders of
    * magnitude below the corpus on a mostly-unique corpus; the corpus
    * pays exactly one left join against the component map (clustered
    * docs only, broadcastable in the common case), and document text
    * never enters the operator at all.
    */
  def resolveClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = Linking.connectedComponents(
      pairs.select(col("a").as("src"), col("b").as("dst")))
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** Benchmark DECONTAMINATION — flag corpus documents sharing at least
    * `minHits` distinct n-gram shingles with ANY document of a benchmark
    * set (the n-gram-collision rule training-data pipelines run before
    * training so held-out evaluation data cannot leak into the corpus).
    * Output: one row per corpus doc — (doc_id, hits, contaminated).
    *
    * Scale shape: a benchmark is eval-sized (thousands of docs), so its
    * DISTINCT hashed-shingle set is BROADCAST; the corpus is scanned
    * once, the semi join runs map-side, and the only shuffle carries
    * (doc_id, hit-count) partial aggregates — corpus text never moves.
    * Shingles are the engine-owned hashed sets ([[docShingles]], the same
    * ones dd_ngram/dd_minhash verify with), so membership equals
    * word-level n-gram membership absent 64-bit collisions — the
    * argument the existing dedup oracles already rely on.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    n: Int = 5, minHits: Int = 1): DataFrame = {
    val benchSh = shingleRows(benchmark, n).select("sh").distinct()
    val hits = shingleRows(corpus, n)
      .join(broadcast(benchSh), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("contaminated", col("hits") >= minHits)
  }

  /** Cross-document DUPLICATION MASS — per-document fraction of its
    * distinct word n-gram shingles that also occur in at least one OTHER
    * document. Pair detectors ([[ngramJaccard]]/[[minhashLsh]]) answer
    * "which documents are near-copies of each other"; this answers the
    * complementary corpus-health question "how much of each document is
    * boilerplate shared with the rest of the corpus" — the per-example
    * duplication diagnostic behind exact-substring dedup (Lee et al.
    * 2022 §4 report precisely this train-set n-gram overlap mass), and
    * the standard signal for template/boilerplate-heavy shards that pair
    * Jaccard misses (a doc can be 40% templated yet share <40% with any
    * SINGLE other doc). Output: (doc_id, n_grams, n_dup, dup_frac) with
    * dup_frac = n_dup / n_grams rounded to 6dp; docs shorter than n words
    * contribute one whole-doc shingle (the [[docShingles]] convention).
    *
    * Scale shape: shingles hash to 8-byte keys before anything shuffles
    * (the [[ngramJaccard]] index idiom), so the gram index is (doc_id,
    * gram) longs — 16 B/row. Document frequency is a keyed aggregate
    * with map-side partials (a hot boilerplate gram arrives at its
    * reducer pre-combined, never as f raw rows), and the index joins the
    * vocab-sized df table back on the gram key — a sort-merge join AQE
    * can skew-split, deliberately NOT a window over the gram partition
    * (no per-gram skew escape there). Unlike the pair detectors there is
    * no self-join anywhere: cost is linear in corpus grams, a hot gram
    * costs f rows, never f². The index is persisted for its two readers
    * and released after the doc-keyed result (4 numbers/doc)
    * materializes; for corpora where even that result is too large to
    * pin executor-local, route it through Stages to parquet instead.
    */
  def duplicationMass(docs: DataFrame, n: Int = 5): DataFrame = {
    val (grams, lazyOut) = duplicationMassPlan(docs, n)
    // read twice: the df aggregate and the join-back probe side. The
    // cache manager substitutes the persisted subtree into lazyOut's
    // execution (cache lookup is by logical-plan fragment).
    grams.persist()
    val out = lazyOut.localCheckpoint(true)
    grams.unpersist(false)
    out
  }

  /** (doc_id, hashed n-gram shingle) rows of every document — the ONE
    * shingle-row construction [[decontaminate]] and [[duplicationMass]]
    * share, so their membership semantics can never diverge.
    */
  private[graft] def shingleRows(df: DataFrame, n: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => docShingles(t, n).iterator.map(s => (id, s)) }
      .toDF("doc_id", "sh")
  }

  /** The un-materialized [[duplicationMass]] plan, exposed so the shape
    * contract (no string column in any exchange) can be pinned on the
    * real exchanges — the public method's localCheckpoint hides them.
    * Returns (gram index, result) so the caller owns the persist scope.
    */
  private[graft] def duplicationMassPlan(docs: DataFrame,
                                         n: Int): (DataFrame, DataFrame) = {
    val grams = shingleRows(docs, n)
    val df = grams.groupBy("sh").agg(count(lit(1)).as("df"))
    val out = grams.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 6).as("dup_frac"))
    (grams, out)
  }

  /** Leakage-safe train/val/test SPLIT — deterministic split assignment
    * keyed on the document's dedup CLUSTER, not the document itself.
    * Splitting a corpus uniformly at random leaks: near-duplicates land
    * on both sides of the train/test boundary and evaluation scores on
    * the held-out split are contaminated by training copies (the
    * train-test overlap failure Lee et al. 2022 §6.2 measure). Here
    * every document inherits its cluster representative from
    * [[resolveClusters]] over the supplied near-dup pair graph, the
    * SPLIT decision hashes the cluster id — so an entire duplicate
    * cluster moves as one unit and no near-dup pair can ever straddle a
    * split. The assignment is the [[graft.ops.TextAnalysis.domainSample]]
    * discipline: fingerprint-bucket vs integer millionth thresholds —
    * reproducible across runs, engines, partitionings and shards, no RNG
    * state, new documents joining an existing cluster always follow it.
    * Output: (doc_id, cluster_id, bucket, split) with split ∈
    * {train, val, test} by bucket < trainPpm / < valPpm / else.
    *
    * Scale shape: exactly [[resolveClusters]] (connected components over
    * the dup-pair-sized graph + one id-only corpus join) plus a narrow
    * codegen map (the fingerprint Expression over the cluster id's
    * decimal string) — no additional corpus shuffle at all.
    */
  def leakSafeSplit(docs: DataFrame, pairs: DataFrame,
                    trainPpm: Long = 900000L,
                    valPpm: Long = 950000L): DataFrame = {
    // fail fast: resolveClusters runs the (eager, multi-job) components
    // closure — validate the thresholds before paying for it
    requireSplitPpms(trainPpm, valPpm)
    splitByCluster(resolveClusters(docs, pairs), trainPpm, valPpm)
  }

  /** The [[leakSafeSplit]] assignment rule applied to an ALREADY-resolved
    * (doc_id, cluster_id) table — the form the durable route uses, where
    * the cluster map is a materialized stage and re-deriving it from the
    * pair graph would re-run connected components.
    */
  private def requireSplitPpms(trainPpm: Long, valPpm: Long): Unit =
    require(0L <= trainPpm && trainPpm <= valPpm && valPpm <= 1000000L,
      s"need 0 <= trainPpm <= valPpm <= 1e6, got ($trainPpm, $valPpm)")

  def splitByCluster(clusters: DataFrame,
                     trainPpm: Long = 900000L,
                     valPpm: Long = 950000L): DataFrame = {
    requireSplitPpms(trainPpm, valPpm)
    graft.functions.GraftFunctions.register(clusters.sparkSession)
    clusters
      .select(col("doc_id"), col("cluster_id"),
        pmod(expr("graft_fingerprint(cast(cluster_id as string))"),
          lit(1000000L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPpm, "train")
          .when(col("bucket") < valPpm, "val")
          .otherwise("test"))
  }
}
