package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>) — the similarity-search component of the training-data
  * pipeline.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k of a small broadcast query
  *    set against the full corpus — the correctness baseline. The corpus
  *    side streams (one pass, no shuffle before the per-query top-k
  *    aggregation).
  *  - [[lshTopK]]: random-hyperplane LSH — deterministic seeded
  *    hyperplanes, candidates = bucket collisions in any of L tables,
  *    exact re-rank within candidates. The scale path: candidate
  *    generation is a bucket-id equi-join.
  */
// Serializable: closures calling method-local helpers (e.g. ivfTopK's
// centroid assignment) capture the stateless module instance itself
object Similarity extends Serializable {

  /** Cosine in double precision as a NATIVE codegen expression
    * (graft.functions.CosineSimilarity): one fused loop over both
    * ArrayData buffers inside WholeStageCodegen — bit-identical
    * accumulation order to the previous higher-order-function formula
    * (and therefore to the DuckDB oracles), without the HOF route's
    * intermediate array allocation and three lambda evaluators per row.
    */
  private def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Top-k cosine neighbors for each query vector (query set = rows of
    * `queries`, broadcast), self-matches excluded, ties broken by
    * neighbor id for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    topK(corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("qe"), col("embedding"))), k)
  }

  /** The top-k tail of every search here: each query's scored neighbors
    * ranked by (sim desc, neighbor_id), the first `k` kept, sim rounded
    * HALF_UP to 6 decimals (Spark's and DuckDB's round() agree).
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Exact cosine re-rank of the approximate searches ([[ivfTopK]],
    * [[lshTopK]]): `collisions` holds (query_id, neighbor_id) rows that
    * met in some cell or bucket; self-matches and repeats are dropped,
    * both ids join back to their vectors (queries broadcast), and
    * [[topK]] keeps each query's best `k`.
    */
  private def reRank(collisions: DataFrame, corpus: DataFrame,
                     queries: DataFrame, k: Int): DataFrame = {
    val cand = collisions.filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qe = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val ce = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"))
    topK(cand.join(qe, Seq("query_id")).join(ce, Seq("neighbor_id"))
      .withColumn("sim", cosine(col("qe"), col("embedding"))), k)
  }

  /** HALF_UP 6-decimal rounding — matches round() in both Spark SQL and
    * DuckDB so re-ranked similarities hash-compare bit-for-bit.
    */
  private def round6(x: Double): Double =
    new java.math.BigDecimal(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var k = 0
    val n = math.min(a.length, b.length)
    while (k < n) { d += a(k).toDouble * b(k).toDouble; k += 1 }
    d
  }

  /** Embedding-cosine near-duplicate pairs — EXACT, fully distributed
    * blocked all-pairs (block-pair cogroup / "triangle join"):
    *
    *   - every vector is hash-assigned one of `blocks` block ids and
    *     replicated to the `blocks` block-PAIR groups it participates in,
    *   - one task per unordered block pair (i ≤ j) — B(B+1)/2 tasks —
    *     runs the tight-loop cosine over its two block slices only.
    *
    * No `collect()` and no broadcast of the corpus: driver memory is
    * O(1), each task holds 2·n/B rows, compute parallelism is B(B+1)/2.
    * The O(n²) arithmetic is inherent to an EXACT threshold-0.4 scan over
    * gap-free embeddings (measured on this corpus: pair similarity is
    * continuous through the threshold, so any sub-quadratic candidate
    * scheme loses recall); at web scale you either accept the quadratic
    * work spread over the cluster (this operator) or require a
    * near-dup-gapped threshold and use [[embeddingNearDupPairsLsh]].
    * Arithmetic is the same left-to-right double accumulation as the SQL
    * oracle formula; HALF_UP rounding matches DuckDB's round().
    */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
                            blocks: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // B(B+1)/2 tasks ≈ 2× parallelism keeps all cores busy with AQE off
    val b =
      if (blocks > 0) blocks
      else math.max(2, math.ceil(math.sqrt(4.0 * spark.sparkContext.defaultParallelism)).toInt)
    val vecs = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    // replicate each row to every block pair containing its block;
    // group key = i * B + j for i <= j
    val replicated = vecs.flatMap { case (id, e) =>
      val blk = (((Hashes_mix64(id) % b) + b) % b).toInt
      (0 until b).iterator.map { other =>
        val i = math.min(blk, other); val j = math.max(blk, other)
        (i * b + j, blk, id, e)
      }
    }
    replicated.groupByKey(_._1).flatMapGroups { (pairKey, it) =>
      val i = pairKey / b; val j = pairKey % b
      val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
      it.foreach { case (_, blk, id, e) =>
        val nrm = math.sqrt(dotD(e, e))
        if (blk == i) left += ((id, e, nrm))
        // i == j: the group arrives once per row; pair within `left` only
        else right += ((id, e, nrm))
      }
      def sims(as: scala.collection.IndexedSeq[(Long, Array[Float], Double)],
               bs: scala.collection.IndexedSeq[(Long, Array[Float], Double)],
               triangular: Boolean): Iterator[(Long, Long, Double)] =
        as.indices.iterator.flatMap { x =>
          val (ida, ea, na) = as(x)
          val startJ = if (triangular) x + 1 else 0
          (startJ until bs.length).iterator.flatMap { y =>
            val (idb, eb, nb) = bs(y)
            val sim = dotD(ea, eb) / (na * nb)
            if (sim >= threshold) {
              val (lo, hi) = if (ida < idb) (ida, idb) else (idb, ida)
              Some((lo, hi, round6(sim)))
            } else None
          }
        }
      if (i == j) sims(left, left, triangular = true)
      else sims(left, right, triangular = false)
    }.toDF("a", "b", "sim")
  }

  /** Sub-quadratic near-dup pairs for corpora with a similarity GAP at the
    * threshold (true near-dups ≫ threshold ≫ background): candidates from
    * the same random-hyperplane bucket machinery as [[lshTopK]]
    * (equi-join on (table, signature)), then EXACT tight-loop cosine
    * re-rank of the survivors — identical arithmetic/rounding to
    * [[embeddingNearDupPairs]], so output rows are a subset of the exact
    * pairs with recall governed by (nBits, tables). Tested recall 1.0 on
    * planted near-dups (CurationSpec); use the exact operator when the
    * threshold sits in the continuous part of the sim distribution.
    */
  def embeddingNearDupPairsLsh(corpus: DataFrame, threshold: Double,
                               nBits: Int = 8, tables: Int = 16,
                               seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = bucketize(corpus, "a", nBits, tables, seed)
    val cb2 = cb.select(col("a").as("b"), col("bucket"))
    val cand = cb.join(cb2, Seq("bucket")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val emb = corpus.select(col("vec_id").cast("long"), col("embedding"))
    val withVecs = cand
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      .select(col("a"), col("b"), col("ea"), col("eb"))
      .as[(Long, Long, Array[Float], Array[Float])]
    withVecs.mapPartitions { it =>
      it.flatMap { case (a, b, ea, eb) =>
        val sim = dotD(ea, eb) / (math.sqrt(dotD(ea, ea)) * math.sqrt(dotD(eb, eb)))
        if (sim >= threshold) Some((a, b, round6(sim))) else None
      }
    }.toDF("a", "b", "sim")
  }

  // avoid an accidental name clash with sql.functions under wildcard import
  private def Hashes_mix64(x: Long): Long = graft.nlp.Hashes.mix64(x)

  /** IVF (inverted-file) approximate nearest neighbor — the second scale
    * path besides LSH: a coarse quantizer of `nlist` centroids
    * (deterministic hash-sampled init, then DISTRIBUTED Lloyd's
    * iterations over the FULL corpus — broadcast centroids out,
    * model-sized per-partition sum/count partials back, r4) partitions
    * the corpus into cells; each query probes its `nProbe` most-similar
    * centroids and exact-re-ranks only those cells' vectors. Candidate
    * retrieval is a cell-id equi-join — shuffle volume scales with
    * nProbe/nlist of the corpus, not all of it.
    *
    * With nProbe == nlist every cell is probed and the result equals
    * [[bruteForceTopK]] exactly (tested) — recall degrades gracefully as
    * nProbe shrinks.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nProbe: Int = 4, iters: Int = 5,
              seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // persisted for the quantizer-training scans (count + sample +
    // `iters` Lloyd passes all read it); released after training — the
    // final lazy cell assignment re-reads storage once like any scan
    val vecs = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].persist()
    // deterministic training sample: ~32 vectors per centroid by hash
    val sampleTarget = nlist * 32
    val total = vecs.count()
    val keepMod = math.max(1L, total / math.max(sampleTarget, 1))
    val sample = vecs
      .filter(r => (((Hashes_mix64(r._1 ^ seed) % keepMod) + keepMod) % keepMod) == 0L)
      .collect().sortBy(_._1).map(_._2)
    if (sample.isEmpty) {
      vecs.unpersist(false)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0).as("rank"),
          lit(0L).as("neighbor_id"), lit(0.0).as("sim")).limit(0)
    }
    // degrade gracefully on tiny corpora: fewer cells than asked is just
    // a coarser quantizer (nlist == 1 ≡ brute force)
    val cells0 = math.min(nlist, sample.length)
    val dims = sample.head.length
    // Lloyd's iterations, cosine assignment, deterministic ties/init
    var centroids = Array.tabulate(cells0)(i => sample(i).map(_.toDouble))
    // cosine of `e` to each centroid (-2 against a zero vector): the one
    // arithmetic of the cell assignment and of the query probes
    def centroidSims(e: Array[Float], cs: Array[Array[Double]]): Array[Double] = {
      val ne = math.sqrt(dotD(e, e))
      Array.tabulate(cs.length) { c =>
        var d = 0.0; var nc = 0.0; var i = 0
        while (i < dims) { d += cs(c)(i) * e(i); nc += cs(c)(i) * cs(c)(i); i += 1 }
        if (nc == 0 || ne == 0) -2.0 else d / (math.sqrt(nc) * ne)
      }
    }
    def assign(e: Array[Float], cs: Array[Array[Double]]): Int = {
      var best = 0; var bestSim = Double.NegativeInfinity
      centroidSims(e, cs).iterator.zipWithIndex.foreach { case (sim, c) =>
        if (sim > bestSim) { bestSim = sim; best = c }
      }
      best
    }
    // DISTRIBUTED Lloyd refinement (r4 — was sample-on-driver): each
    // iteration broadcasts the centroids and reduces per-partition
    // (cells × dims) sums + counts — only model-sized partials ever
    // reach the driver, and the centroids reflect the FULL corpus, not
    // the init sample. Assignment arithmetic is identical to the final
    // cell assignment below, so full-probe exactness is untouched
    // (centroids only steer which cell a vector lands in).
    var it = 0
    while (it < iters) {
      val bcC = spark.sparkContext.broadcast(centroids)
      val partials = vecs.mapPartitions { rows =>
        val cs = bcC.value
        val sums = Array.fill(cells0, dims)(0.0)
        val counts = new Array[Long](cells0)
        rows.foreach { case (_, e) =>
          val c = assign(e, cs)
          counts(c) += 1
          var i = 0
          while (i < dims) { sums(c)(i) += e(i); i += 1 }
        }
        Iterator.single((sums.map(_.toSeq).toSeq, counts.toSeq))
      }.collect() // nPartitions × (cells × dims) doubles — model-sized
      bcC.destroy()
      val sums = Array.fill(cells0, dims)(0.0)
      val counts = new Array[Long](cells0)
      partials.foreach { case (ps, pc) =>
        var c = 0
        while (c < cells0) {
          counts(c) += pc(c)
          var i = 0
          while (i < dims) { sums(c)(i) += ps(c)(i); i += 1 }
          c += 1
        }
      }
      centroids = Array.tabulate(cells0) { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    vecs.unpersist(false)
    val bc = spark.sparkContext.broadcast(centroids)
    val cells = vecs.map { case (id, e) => (id, assign(e, bc.value)) }
      .toDF("neighbor_id", "cell")
    // query side: nProbe most-similar centroids each
    val qProbes = queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, e) =>
        centroidSims(e, bc.value).zipWithIndex.sortBy { case (s, c) => (-s, c) }
          .take(nProbe).map { case (_, c) => (id, c) }
      }.toDF("query_id", "cell")
    reRank(qProbes.join(cells, Seq("cell")), corpus, queries, k)
  }

  /** Deterministic pseudo-random hyperplane component for (table, bit,
    * dim): splitmix64 of the packed coordinates mapped to ±1.
    */
  private def hyper(seed: Long, table: Int, bit: Int, dim: Int): Double = {
    val h = graft.nlp.Hashes.mix64(seed ^ (table.toLong << 40) ^ (bit.toLong << 20) ^ dim.toLong)
    if (h < 0) -1.0 else 1.0
  }

  /** (id, bucket) rows per LSH table: bucket packs (table, signature).
    * Shared by [[lshTopK]] and [[embeddingNearDupPairsLsh]] so their
    * candidate semantics agree. Hyperplanes derive deterministically from
    * the seed — no fit/state to broadcast beyond the tiny plane tensor.
    */
  private def bucketize(df: DataFrame, outIdCol: String,
                        nBits: Int, tables: Int, seed: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dims = df.select(size(col("embedding"))).first().getInt(0)
    // plane(table)(bit)(dim)
    val planes = Array.tabulate(tables, nBits, dims)((t, b, d) => hyper(seed, t, b, d))
    val bc = spark.sparkContext.broadcast(planes)
    df.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, e) =>
        val ps = bc.value
        (0 until ps.length).map { t =>
          var sig = 0L
          var b = 0
          while (b < ps(t).length) {
            var dot = 0.0
            var d = 0
            val plane = ps(t)(b)
            while (d < e.length && d < plane.length) { dot += plane(d) * e(d); d += 1 }
            if (dot >= 0) sig |= (1L << b)
            b += 1
          }
          (id, t.toLong << 48 | sig)
        }
      }.toDF(outIdCol, "bucket")
  }

  /** Random-hyperplane LSH: L tables × nBits sign bits. Returns top-k per
    * query among bucket-colliding candidates (exact cosine re-rank).
    * Recall vs brute force is tested; raising L/nBits trades shuffle
    * volume for recall.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 12, tables: Int = 6, seed: Long = 42L): DataFrame = {
    val cb = bucketize(corpus, "neighbor_id", nBits, tables, seed)
    val qb = bucketize(queries, "query_id", nBits, tables, seed)
    reRank(qb.join(cb, Seq("bucket")), corpus, queries, k)
  }
}
