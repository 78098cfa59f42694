package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** Entity linking / canonicalization — north_rule stage 3.
  *
  * The reference normalizes mentions via external DB ids
  * (`Entity.norms`, `data.py:1853-1863`; entity2key fallback to
  * lowercased text, `relations/new/sentence.py:174-180`) and pairs
  * abbreviations with the `y (x)` heuristic
  * (`relations/new/sentence.py:194-216`). There is no transitive merge in
  * the reference; our engine makes the merge explicit and distributed:
  *
  *  1. normalized-surface keys (graft.nlp.TextOps.normKey),
  *  2. SALTED two-phase aggregation of per-key stats (hot surface forms
  *     like "the system" would otherwise put one reducer on the critical
  *     path at 10^12 turns — AQE splits skewed joins but not skewed
  *     groupBy keys, so the salt is explicit),
  *  3. candidate alias pairs (exact key + synonym heuristics),
  *  4. DataFrame connected components (neighbor-min label propagation
  *     with path-halving pointer jumps, no GraphX/RDD) → canonical
  *     node_id.
  */
object Linking {

  /** Two-phase salted aggregation: per (class_id, norm) mention counts and
    * distinct-conversation counts. Phase 1 aggregates within
    * (key, salt) buckets — bounding any single reducer's input to
    * 1/`salts` of the hottest key — phase 2 merges the per-salt partials.
    * countDistinct cannot be salted losslessly, so phase 1 keeps the
    * per-salt conv sets as approx via HLL sketch when exact=false.
    */
  def nodeStats(mentions: Dataset[Mention], salts: Int = 16): DataFrame =
    saltedPhase1(mentions, salts, approx_count_distinct(col("conv_id"), 0.01))
      .groupBy(col("class_id"), col("norm"))
      .agg(sum(col("n_mentions_p")).as("n_mentions"),
        sum(col("n_convs_p")).as("n_convs"))

  /** Exact per-key stats (small-cardinality path used by the DuckDB-oracled
    * driver query): the salt still bounds phase-1 reducers; distinct convs
    * are exact because the salt IS a partition of conv space
    * (salt = hash(conv_id) % salts ⇒ each conv lands in exactly one salt
    * bucket, so per-salt distinct counts add up losslessly).
    */
  def nodeStatsExact(mentions: Dataset[Mention], salts: Int = 16): DataFrame =
    saltedPhase1(mentions, salts, countDistinct(col("conv_id")))
      .groupBy(col("class_id"), col("norm"))
      .agg(sum(col("n_mentions_p")).cast("long").as("n_mentions"),
        sum(col("n_convs_p")).cast("long").as("n_convs"))

  /** Phase 1 of both node-stat forms: per (class_id, norm, salt) bucket,
    * with salt = pmod(xxhash64(conv_id), salts), the mention count
    * `n_mentions_p` and the distinct-conversation count `n_convs_p` that
    * `convs` computes.
    */
  private def saltedPhase1(mentions: Dataset[Mention], salts: Int,
                           convs: Column): DataFrame =
    mentions.toDF()
      .withColumn("salt", pmod(xxhash64(col("conv_id")), lit(salts)))
      .groupBy(col("class_id"), col("norm"), col("salt"))
      .agg(count(lit(1)).as("n_mentions_p"), convs.as("n_convs_p"))

  /** Abbreviation/synonym candidate pairs from the `y (x)` pattern —
    * `relations/new/sentence.py:194-216`: a surface form immediately
    * followed by a parenthesized alternative names the same entity.
    * Emits (src, dst) node-key hashes per class, ready for
    * [[connectedComponents]] / [[nodes]] extraPairs.
    */
  def synonymPairs(sentences: DataFrame, classId: String): DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    val re = java.util.regex.Pattern.compile(
      "([\\p{L}\\p{N}_]+)\\s*\\(\\s*([\\p{L}\\p{N}_]+)\\s*\\)")
    sentences.select(col("sent_text")).as[String].flatMap { s =>
      val m = re.matcher(s)
      val out = scala.collection.mutable.ListBuffer.empty[(String, String)]
      while (m.find()) {
        out += ((graft.nlp.TextOps.normKey(m.group(1)),
          graft.nlp.TextOps.normKey(m.group(2))))
      }
      out
    }.toDF("long_form", "short_form")
      .distinct()
      .select(
        xxhash64(lit(classId), col("long_form")).as("src"),
        xxhash64(lit(classId), col("short_form")).as("dst"))
  }

  /** Connected components over an undirected edge list (src, dst) of Long
    * node ids. Returns (node, component) where component = min node id
    * reachable — the output is a pure function of the edge SET, so the
    * execution strategy below is free to adapt to graph size.
    *
    * SIZE-ADAPTIVE execution (r6, guide §2: derive partitioning/strategy
    * from input size, not a constant):
    *
    *  - Small graphs (edge count ≤ `graft.cc.localEdgeCap`, default 2^22):
    *    ONE single-task union-find fold (union-by-min + path compression)
    *    over the checkpointed edge list — one job, zero per-round
    *    shuffles. This is the common case BY CONSTRUCTION for every
    *    caller in the engine: dedup pair graphs are dup-pair-sized
    *    (orders of magnitude below the corpus — the candidates-then-
    *    join-back invariant), linking alias pairs are synonym-heuristic-
    *    sized, and the cluster step of Lee et al. 2022 is likewise a
    *    union-find over the pair list. The fold is executor-side (no
    *    driver collect) and bounded: the cap (~4.2M edges ≈ tens of MB
    *    of hash maps) is a Spark conf, NOT a local[32] constant.
    *
    *  - Large graphs (> cap): the r4 iterative NEIGHBOR-MIN label
    *    propagation with a PATH-HALVING pointer jump per round, ONE lazy
    *    localCheckpoint job per round (the Σ aggregate materializes the
    *    cache AND tests convergence), O(log(diameter)) rounds. Round 0
    *    folds the first neighbor-min into node derivation: the
    *    distinct-nodes pass is a shuffle keyed by src anyway, so
    *    min(dst) rides the same exchange for free.
    *
    * Measured (sf0.1, 32 threads, BENCH.md r6): the dd_semdedup closure
    * ran 11 propagation rounds at ~0.25-0.5 s/round of pure barrier
    * latency on a ~KB-sized pair graph; the union-find fold replaces all
    * of it with one sub-second job. A double-jump-per-round variant was
    * measured SLOWER (plan doubles per jump; 11 → 9 rounds only).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .union(edges.select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
      .filter($"src" =!= $"dst")
      .distinct()
      .localCheckpoint()
    // the checkpoint above already materialized sym, so this count is a
    // cache-read job, not a recompute
    val edgeCount = sym.count()
    val localCap = spark.conf.getOption("graft.cc.localEdgeCap")
      .map(_.toLong).getOrElse(1L << 22)
    if (edgeCount <= localCap) {
      // single-task union-find: union-by-min roots + path compression —
      // the root of every tree IS the component minimum at all times, so
      // no second resolution pass is needed. Runs on an executor (this is
      // a mapPartitions fold, not a driver collect); memory is bounded by
      // the edge cap (two longs per node).
      sym.as[(Long, Long)].coalesce(1).mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long](1 << 16)
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) {
            val gp = parent.getOrElse(p, p)
            parent.update(x, gp) // path compression
            x = gp
            p = parent.getOrElse(x, x)
          }
          x
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent.update(a, a)
          if (!parent.contains(b)) parent.update(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
          }
        }
        val keys = parent.keys.toArray
        keys.iterator.map(n => (n, find(n)))
      }.toDF("node", "comp").localCheckpoint(false)
    } else {
      // distributed label propagation — the > cap path. LAZY
      // localCheckpoint throughout the loop (r4): local checkpointing is
      // cache-based, so the Σ aggregate below materializes the cached
      // partitions AND truncates lineage in ONE job per round.
      def jump(df: DataFrame): DataFrame =
        df.as("a").join(df.as("b"), col("a.comp") === col("b.node"), "left")
          .select(col("a.node").as("node"),
            least(col("a.comp"), coalesce(col("b.comp"), col("a.comp"))).as("comp"))
      var comp = jump(sym.groupBy($"src").agg(min($"dst").as("md"))
          .select($"src".as("node"), least($"src", $"md").as("comp")))
        .localCheckpoint(false)
      // Σcomp decreases strictly every round until fixpoint (labels are
      // per-node monotone non-increasing) — a single cheap aggregate
      // doubles as the convergence test (no extra join). decimal(38,0):
      // node ids span the full 64-bit hash range, a long sum overflows
      // under ANSI; decimal keeps the sum exact up to ~1e19 nodes.
      // coalesce: sum over an empty/self-loop-only graph is NULL.
      def sigmaOf(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum($"comp".cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).first().getDecimal(0)
      var sigma = sigmaOf(comp)
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // neighbor minimum: for each node, min comp over neighbors ∪ self
        val nbrMin = sym.join(comp, sym("dst") === comp("node"))
          .groupBy(sym("src").as("node")).agg(min($"comp").as("nbr_comp"))
        val next = comp.join(nbrMin, Seq("node"), "left")
          .select($"node",
            least($"comp", coalesce($"nbr_comp", $"comp")).as("comp"))
        val jumped = jump(next).localCheckpoint(false)
        val newSigma = sigmaOf(jumped)
        comp = jumped
        converged = newSigma.compareTo(sigma) == 0
        sigma = newSigma
        iter += 1
      }
      comp
    }
  }

  /** Full linking stage: mentions → nodes table with canonical ids.
    * Alias pairs = mentions sharing a normalized key (trivial merge) plus
    * optional extra pairs (e.g. synonym heuristics); components collapse
    * transitive alias chains. node_id is the min key-hash in the
    * component — deterministic, no driver-side sequence.
    */
  def nodes(mentions: Dataset[Mention], extraPairs: Option[DataFrame] = None): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val keyed = mentions.toDF()
      .select($"class_id", $"norm", xxhash64($"class_id", $"norm").as("kid"))
    val stats = nodeStatsExact(mentions)
      .join(keyed.dropDuplicates("class_id", "norm"), Seq("class_id", "norm"))
    extraPairs match {
      case None =>
        stats.select($"kid".as("node_id"), $"norm".as("canonical"),
          $"class_id", $"n_mentions", $"n_convs")
      case Some(pairs) =>
        val comp = connectedComponents(pairs)
        stats.join(comp, stats("kid") === comp("node"), "left")
          .select(coalesce($"comp", $"kid").as("node_id"),
            $"norm".as("canonical"), $"class_id", $"n_mentions", $"n_convs")
    }
  }
}
