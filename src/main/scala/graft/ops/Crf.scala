package graft.ops

import org.apache.spark.sql.Dataset
import graft.model._
import graft.nlp.{Labeling, Porter}

/** Linear-chain CRF-style sequence tagging — nalaf's `PyCRFSuite`
  * (`learning/crfsuite.py`) re-expressed Spark-first:
  *
  *  - per-token feature extraction mirrors the reference's default
  *    pipeline (`structures/dataset_pipelines.py:26-32`): word identity,
  *    Porter stem, BOS/EOS markers, non-ASCII flag, and stem window
  *    features stem[-3..3] (`features/window.py` semantics — neighbor
  *    copies within the sentence only);
  *  - scoring is a batched `mapPartitions` Viterbi decoder with BROADCAST
  *    model weights (north_rule verbatim) — per-token marginals come from
  *    forward-backward on the same potentials, so decoded mentions carry
  *    the reference's confidence = arithmetic mean of token marginals
  *    (`data.py:236-273` + `utils/qmath.py:9-19`);
  *  - training is driver-local averaged structured perceptron over a
  *    collected (small/sampled) feature table — the reference trains
  *    single-node too (CRFsuite in-process, `crfsuite.py:52-73`); at
  *    100 TB you train on a sample and SCORE distributed, which is
  *    exactly what this module does.
  */
object Crf {

  /** Immutable model: label vocabulary, emission weights keyed by
    * (feature string → per-label weight array), transition matrix
    * [from][to], and start/stop scores.
    */
  final case class Model(
      labels: Vector[String],
      emissions: Map[String, Array[Double]],
      transitions: Array[Array[Double]],
      start: Array[Double],
      stop: Array[Double]) {
    // memoized (was a def): decode consults it per token in the fused
    // pipeline's hot loop — rebuilding a Map per lookup is exactly the
    // allocation-in-the-fold-path pattern CLAUDE.md bans. @transient so
    // each executor rebuilds it lazily after broadcast deserialization.
    @transient lazy val labelIndex: Map[String, Int] = labels.zipWithIndex.toMap
  }

  /** Per-token feature strings (the CRF's NAME[offset]=value convention,
    * `features/window.py:4-60` + `FeatureDictionary` naming
    * `data.py:1790-1814`).
    */
  def tokenFeatures(sent: IndexedSeq[Tok]): IndexedSeq[List[String]] = {
    val n = sent.length
    val stems = sent.map(t => Porter.stem(t.word))
    val lowers = sent.map(_.word.toLowerCase)
    (0 until n).map { i =>
      val t = sent(i)
      var fs: List[String] = Nil
      fs ::= s"w[0]=${lowers(i)}"
      fs ::= s"stem[0]=${stems(i)}"
      if (i == 0) fs ::= "BOS"
      if (i == n - 1) fs ::= "EOS"
      if (t.word.exists(_ > 127)) fs ::= "nonascii"
      if (t.word.forall(_.isDigit)) fs ::= "isnum"
      if (t.word.headOption.exists(_.isUpper)) fs ::= "cap"
      var k = -3
      while (k <= 3) {
        if (k != 0 && i + k >= 0 && i + k < n) fs ::= s"stem[$k]=${stems(i + k)}"
        k += 1
      }
      fs
    }
  }

  /** Per-token features with the `__bias__` feature prepended — the keys
    * of the broadcast emission weights, in training and in tagging.
    */
  def features(sent: IndexedSeq[Tok]): IndexedSeq[List[String]] =
    tokenFeatures(sent).map("__bias__" :: _)

  private def emissionScores(m: Model, feats: Seq[List[String]]): Array[Array[Double]] = {
    val L = m.labels.length
    feats.iterator.map { fs =>
      val s = new Array[Double](L)
      fs.foreach { f =>
        val w = m.emissions.getOrElse(f, null)
        if (w != null) { var l = 0; while (l < L) { s(l) += w(l); l += 1 } }
      }
      s
    }.toArray
  }

  /** Viterbi decode: best label sequence under emission + transition +
    * start/stop potentials.
    */
  def viterbi(m: Model, feats: Seq[List[String]]): Vector[String] =
    viterbiEm(m, emissionScores(m, feats))

  /** Viterbi over a PRECOMPUTED emission matrix — the core shared by the
    * broadcast path ([[tag]]) and the emissions-table join path
    * ([[tagWithTable]]), which sums its per-token scores distributed.
    */
  private[ops] def viterbiEm(m: Model, em: Array[Array[Double]]): Vector[String] = {
    val n = em.length
    if (n == 0) return Vector.empty
    val L = m.labels.length
    val delta = Array.ofDim[Double](n, L)
    val back = Array.ofDim[Int](n, L)
    var l = 0
    while (l < L) { delta(0)(l) = m.start(l) + em(0)(l); l += 1 }
    var i = 1
    while (i < n) {
      var to = 0
      while (to < L) {
        var best = Double.NegativeInfinity
        var arg = 0
        var from = 0
        while (from < L) {
          val v = delta(i - 1)(from) + m.transitions(from)(to)
          if (v > best) { best = v; arg = from }
          from += 1
        }
        delta(i)(to) = best + em(i)(to)
        back(i)(to) = arg
        to += 1
      }
      i += 1
    }
    var bestLast = 0
    var bestV = Double.NegativeInfinity
    l = 0
    while (l < L) {
      val v = delta(n - 1)(l) + m.stop(l)
      if (v > bestV) { bestV = v; bestLast = l }
      l += 1
    }
    val path = new Array[Int](n)
    path(n - 1) = bestLast
    i = n - 1
    while (i > 0) { path(i - 1) = back(i)(path(i)); i -= 1 }
    path.iterator.map(m.labels).toVector
  }

  /** Forward-backward marginals P(y_i = l | x) (log-space, stable). */
  def marginals(m: Model, feats: Seq[List[String]]): Array[Array[Double]] =
    marginalsEm(m, emissionScores(m, feats))

  /** Forward-backward over a precomputed emission matrix (see
    * [[viterbiEm]]).
    */
  private[ops] def marginalsEm(m: Model, em: Array[Array[Double]]): Array[Array[Double]] = {
    val n = em.length
    val L = m.labels.length
    def logSumExp(xs: Array[Double]): Double = {
      var mx = Double.NegativeInfinity
      xs.foreach(x => if (x > mx) mx = x)
      if (mx == Double.NegativeInfinity) return mx
      var s = 0.0
      xs.foreach(x => s += math.exp(x - mx))
      mx + math.log(s)
    }
    val alpha = Array.ofDim[Double](n, L)
    val beta = Array.ofDim[Double](n, L)
    var l = 0
    while (l < L) { alpha(0)(l) = m.start(l) + em(0)(l); beta(n - 1)(l) = m.stop(l); l += 1 }
    var i = 1
    while (i < n) {
      var to = 0
      while (to < L) {
        val tmp = new Array[Double](L)
        var from = 0
        while (from < L) { tmp(from) = alpha(i - 1)(from) + m.transitions(from)(to); from += 1 }
        alpha(i)(to) = logSumExp(tmp) + em(i)(to)
        to += 1
      }
      i += 1
    }
    i = n - 2
    while (i >= 0) {
      var from = 0
      while (from < L) {
        val tmp = new Array[Double](L)
        var to = 0
        while (to < L) { tmp(to) = m.transitions(from)(to) + em(i + 1)(to) + beta(i + 1)(to); to += 1 }
        beta(i)(from) = logSumExp(tmp)
        from += 1
      }
      i -= 1
    }
    val lastTmp = new Array[Double](L)
    l = 0
    while (l < L) { lastTmp(l) = alpha(n - 1)(l) + m.stop(l); l += 1 }
    val logZ = logSumExp(lastTmp)
    val out = Array.ofDim[Double](n, L)
    i = 0
    while (i < n) {
      l = 0
      while (l < L) { out(i)(l) = math.exp(alpha(i)(l) + beta(i)(l) - logZ); l += 1 }
      i += 1
    }
    out
  }

  /** Averaged structured-perceptron training, driver-local, seeded and
    * deterministic. `data`: per-sentence (features, gold labels).
    */
  def train(data: Seq[(IndexedSeq[List[String]], Seq[String])],
            epochs: Int = 8, seed: Long = 2727L): Model = {
    val labels = data.flatMap(_._2).distinct.sorted.toVector
    val L = labels.length
    trainFrom(Model(labels, Map.empty, Array.ofDim[Double](L, L),
      new Array[Double](L), new Array[Double](L)), data, epochs, seed)
  }

  /** Warm-startable core with a FIXED label vocabulary — the unit of
    * distributed parameter mixing ([[trainDistributed]]). Weights start
    * from `init`; the perceptron averaging applies to this run's updates.
    */
  def trainFrom(init: Model,
                data: Seq[(IndexedSeq[List[String]], Seq[String])],
                epochs: Int, seed: Long): Model = {
    val labels = init.labels
    val L = labels.length
    val li = labels.zipWithIndex.toMap
    val emissions = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    init.emissions.foreach { case (f, w) =>
      emissions.update(f, java.util.Arrays.copyOf(w, L))
    }
    val emissionsSum = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    val trans = Array.tabulate(L, L)((a, b) => init.transitions(a)(b))
    val transSum = Array.ofDim[Double](L, L)
    val start = java.util.Arrays.copyOf(init.start, L)
    val startSum = new Array[Double](L)
    val stop = java.util.Arrays.copyOf(init.stop, L)
    val stopSum = new Array[Double](L)
    val rng = new scala.util.Random(seed)
    val idx = data.indices.toArray
    var step = 1
    (1 to epochs).foreach { _ =>
      // deterministic seeded shuffle
      val order = rng.shuffle(idx.toVector)
      order.foreach { di =>
        val (feats, gold) = data(di)
        if (feats.nonEmpty) {
          val model = Model(labels, emissions.toMap, trans, start, stop)
          val pred = viterbi(model, feats)
          if (pred != gold) {
            def upd(f: String, l: Int, d: Double): Unit = {
              val w = emissions.getOrElseUpdate(f, new Array[Double](L))
              val ws = emissionsSum.getOrElseUpdate(f, new Array[Double](L))
              w(l) += d; ws(l) += d * step
            }
            feats.indices.foreach { i =>
              val g = li(gold(i)); val p = li(pred(i))
              if (g != p) {
                feats(i).foreach { f => upd(f, g, 1.0); upd(f, p, -1.0) }
              }
              if (i == 0) {
                start(g) += 1; startSum(g) += step
                start(p) -= 1; startSum(p) -= step
              } else {
                val gp = li(gold(i - 1)); val pp = li(pred(i - 1))
                trans(gp)(g) += 1; transSum(gp)(g) += step
                trans(pp)(p) -= 1; transSum(pp)(p) -= step
              }
              if (i == feats.length - 1) {
                stop(g) += 1; stopSum(g) += step
                stop(p) -= 1; stopSum(p) -= step
              }
            }
          }
          step += 1
        }
      }
    }
    // averaging: w_avg = w - wSum/step (keys seen only in `init` have no
    // update sum — their average is the unchanged init weight)
    val zeroL = new Array[Double](L)
    val avgEm = emissions.iterator.map { case (f, w) =>
      val ws = emissionsSum.getOrElse(f, zeroL)
      f -> Array.tabulate(L)(l => w(l) - ws(l) / step)
    }.toMap
    Model(labels,
      avgEm,
      Array.tabulate(L, L)((a, b) => trans(a)(b) - transSum(a)(b) / step),
      Array.tabulate(L)(l => start(l) - startSum(l) / step),
      Array.tabulate(L)(l => stop(l) - stopSum(l) / step))
  }

  /** A labeled training sentence as a Dataset row. */
  final case class TaggedSentence(feats: Seq[Seq[String]], labels: Seq[String])

  /** Serializable partition-model snapshot for the mixing average. */
  final case class PartCrf(emKeys: Seq[String], emVals: Seq[Seq[Double]],
                           trans: Seq[Seq[Double]], start: Seq[Double],
                           stop: Seq[Double])

  /** DISTRIBUTED CRF training via iterative parameter mixing
    * ([[ParameterMixing]]; McDonald, Hall & Mann 2010 introduced it for
    * exactly this model class, the structured perceptron): every
    * partition runs warm-started local averaged-perceptron epochs
    * ([[trainFrom]]) on its shard, and the partition models are averaged
    * weight by weight (an emission a partition never saw counts as 0).
    * The label vocabulary is computed globally first (it is tiny).
    * Driver-local [[train]] remains the sample-scale default like the
    * reference.
    */
  def trainDistributed(data: Dataset[TaggedSentence], rounds: Int = 3,
                       epochsPerRound: Int = 3, seed: Long = 2727L): Model = {
    val spark = data.sparkSession
    import spark.implicits._
    val labels = data.flatMap(_.labels).distinct().collect().sorted.toVector
    val L = labels.length
    val init = Model(labels, Map.empty, Array.ofDim[Double](L, L),
      new Array[Double](L), new Array[Double](L))
    ParameterMixing.train(data, init, rounds, seed) { (model: Model, rows, s) =>
      val m = trainFrom(model,
        rows.map(ts => (ts.feats.map(_.toList).toIndexedSeq, ts.labels)), epochsPerRound, s)
      val keys = m.emissions.keys.toSeq.sorted
      PartCrf(keys, keys.map(k => m.emissions(k).toSeq),
        m.transitions.map(_.toSeq).toSeq, m.start.toSeq, m.stop.toSeq)
    } { parts =>
      val n = parts.length
      def mean(vs: Seq[Seq[Double]]) = ParameterMixing.mean(vs, L, n)
      val byKey = parts.map(p => p.emKeys.zip(p.emVals).toMap)
      Model(labels,
        parts.flatMap(_.emKeys).distinct.map(k => k -> mean(byKey.flatMap(_.get(k)))).toMap,
        Array.tabulate(L)(a => mean(parts.map(_.trans(a)))),
        mean(parts.map(_.start)), mean(parts.map(_.stop)))
    }
  }

  /** Hand-constructed model that reproduces exact dictionary tagging:
    * gazetteer word → B-<class> outscores everything, all other words
    * prefer O. Used by the oracle-checked driver query (the ML-free
    * deterministic route, like the reference's stub extractors).
    */
  def dictionaryModel(gaz: Map[String, String]): Model = {
    val classes = gaz.values.toVector.distinct.sorted
    val labels = ("O" +: classes.flatMap(c => Vector(s"B-$c", s"I-$c"))).toVector
    val li = labels.zipWithIndex.toMap
    val L = labels.length
    val em = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    // bias: every token prefers O unless a gazetteer feature overrides
    val bias = new Array[Double](L); bias(li("O")) = 1.0
    gaz.foreach { case (w, cls) =>
      val a = new Array[Double](L)
      a(li(s"B-$cls")) = 10.0
      em.put(s"w[0]=$w", a)
    }
    // BOS/EOS and all other features carry no weight; transitions flat
    em.put("__bias__", bias)
    Model(labels, em.toMap, Array.ofDim[Double](L, L), new Array[Double](L), new Array[Double](L))
  }

  /** The per-sentence CRF tagger of [[tag]] and the fused
    * [[KgPipeline.triples]]: [[features]] → [[decodeSentence]].
    */
  def tagSentence(m: Model, toks: IndexedSeq[Tok],
                  withConfidence: Boolean): Vector[(String, Labeling.Decoded)] =
    if (toks.isEmpty) Vector.empty
    else decodeSentence(m, toks, emissionScores(m, features(toks)), withConfidence)

  /** Distributed scoring: batched mapPartitions over tokenized sentences
    * with the broadcast model; Viterbi + forward-backward marginals →
    * BIO-decode (`data.py:236-273`) → mentions with mean-marginal
    * confidence.
    *
    * `withConfidence = false` skips the forward-backward pass entirely
    * (marginals cost ~3× Viterbi — log-sum-exp per cell vs max) and
    * emits confidence 1.0: the decoded SPANS are identical, so callers
    * that drop or ignore the confidence column (the oracle-checked
    * driver queries, the mention evaluations) get the same mentions for
    * a fraction of the CPU.
    */
  def tag(ts: Dataset[TokenizedSentence], model: Model,
          withConfidence: Boolean = true): Dataset[Mention] = {
    val spark = ts.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    ts.mapPartitions { it =>
      val m = bc.value
      it.flatMap(s => mentionsOf(s, tagSentence(m, s.tokens.toIndexedSeq, withConfidence)))
    }
  }

  /** Viterbi + optional forward-backward + BIO-decode
    * (`data.py:236-273`) of one sentence given its emission matrix, each
    * run's class taken from its first token's label — the core of
    * [[tagSentence]] (broadcast emissions) and [[tagWithTable]] (joined
    * emissions).
    */
  private def decodeSentence(m: Model, toks: IndexedSeq[Tok],
                             em: Array[Array[Double]],
                             withConfidence: Boolean): Vector[(String, Labeling.Decoded)] = {
    val pred = viterbiEm(m, em)
    val conf =
      if (!withConfidence) toks.indices.map(_ => 1.0)
      else {
        val oIdx = m.labelIndex.getOrElse("O", -1)
        val marg = marginalsEm(m, em)
        toks.indices.map { i =>
          val l = m.labelIndex(pred(i))
          if (l == oIdx) 0.0 else marg(i)(l)
        }
      }
    Labeling.decode(toks, pred, conf).map { d =>
      // class id from the first token's label (B-cls / I-cls)
      val firstLabel = pred(toks.indexWhere(_.begin == d.begin))
      (if (firstLabel.length > 2) firstLabel.substring(2) else firstLabel, d)
    }
  }

  /** Mentions of one sentence's spans (text = part.text[start:end], `data.py:270`). */
  private def mentionsOf(s: TokenizedSentence,
                         tagged: Vector[(String, Labeling.Decoded)]): Iterator[Mention] =
    tagged.iterator.map { case (cls, d) =>
      Mentions.of(s.conv_id, s.turn_idx, s.sent_idx, cls, d.begin, d.end,
        s.sent_text, s.sent_start, d.confidence)
    }

  /** One (token, label) cell of a distributed emission matrix. */
  final case class EmCell(tok_idx: Int, lbl: Int, w: Double)

  /** Per-token feature rows for [[tagWithTable]]'s emissions join.
    * Deliberately does NOT emit `__bias__`: the bias fires on every token,
    * so as a join key it would be a guaranteed maximal hot key (every
    * token row of the corpus in one key group of the feature-scoring
    * shuffle). The bias weight vector is model-metadata-sized and rides
    * the broadcast instead, seeding the emission matrix at decode
    * (ModelIOSpec asserts no `__bias__` row ever enters the join).
    */
  private[ops] def featureRows(
      ts: Dataset[TokenizedSentence]): org.apache.spark.sql.DataFrame = {
    val spark = ts.sparkSession
    import spark.implicits._
    ts.flatMap { s =>
      val toks = s.tokens.toIndexedSeq
      if (toks.isEmpty) Iterator.empty
      else tokenFeatures(toks).iterator.zipWithIndex.flatMap { case (fs, i) =>
        fs.iterator.map(f => (s.conv_id, s.turn_idx, s.sent_idx, i, f))
      }
    }.toDF("conv_id", "turn_idx", "sent_idx", "tok_idx", "feature")
  }

  /** Distributed scoring for models PAST BROADCAST SIZE: emission weights
    * come from the `emissions` TABLE (feature STRING, weights
    * ARRAY<DOUBLE> in label order — the layout [[ModelIO.saveCrf]]
    * writes) instead of a driver broadcast. Only `meta`'s labels /
    * transitions / start / stop are broadcast (L² floats — always tiny);
    * `meta.emissions` is ignored.
    *
    * Plan: per-token feature rows join the emissions table on the feature
    * key (the model shuffles once, corpus feature rows shuffle once —
    * bucketing both sides on `feature` makes this a co-located join on a
    * real lake), per-(sentence, token, label) partial sums aggregate
    * map-side, and the dense per-sentence matrix joins BACK to the
    * sentence row for Viterbi + forward-backward + BIO-decode — the same
    * candidates-then-join-back shape as the dedup operators, so sentence
    * payloads never ride the feature-scoring shuffles.
    *
    * Exactly equivalent to broadcast [[tag]] up to floating-point
    * summation order (bit-identical when weights are exactly-representable
    * integers, e.g. the dictionary model — pinned in ModelIOSpec); a
    * sentence with NO feature hit in the table decodes under bias-only
    * emissions, like the broadcast path.
    *
    * The `__bias__` row of the emissions table never enters the join: it
    * fires on every token, so as a join key it would be a guaranteed
    * maximal hot key in the feature-scoring shuffle. Its weight vector is
    * read ONCE (one model-metadata-sized row) and rides the broadcast,
    * seeding the emission matrix at decode.
    *
    * Lifecycle (`eager`): by default the result is LAZY — `ts` is
    * persisted (it feeds both the feature explosion and the sentence
    * join-back; the self-join-recompute trap CLAUDE.md pins) and the
    * CALLER owns materialization: run your action (or route the output
    * through a durable [[Stages]] write for long jobs), then
    * `ts.unpersist()`. At the corpus sizes this API targets, eagerly
    * pinning every mention in executor-local storage at call time would
    * be a memory cliff and an executor-loss fragility. `eager = true`
    * restores the small-corpus convenience: materialize via an eager
    * localCheckpoint and release the `ts` cache before returning.
    */
  def tagWithTable(ts: Dataset[TokenizedSentence],
                   emissions: org.apache.spark.sql.DataFrame,
                   meta: Model,
                   withConfidence: Boolean = true,
                   eager: Boolean = false): Dataset[Mention] = {
    val spark = ts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val L = meta.labels.length
    // one tiny driver-side read (1 row x L doubles — model metadata, the
    // same class of lookup as ModelIO.loadCrf's meta row)
    val bias = emissions.filter(col("feature") === "__bias__")
      .select(col("weights")).as[Seq[Double]]
      .take(1).headOption.map(_.toArray).getOrElse(new Array[Double](L))
    val skeleton = meta.copy(emissions = Map.empty)
    val bc = spark.sparkContext.broadcast((skeleton, bias))
    val tsP = ts.persist()
    // r6, eager mode only: populate the cache BEFORE the two consumers
    // (the feature-explosion subtree and the sentence join-back side)
    // launch — they start concurrently in the checkpoint job and race
    // the unpopulated persist, tokenizing the corpus twice (TimeQuery:
    // two concurrent ~0.5 s 32-task stages per rep). The lazy path keeps
    // the caller-owned lifecycle (materializing the tokenized corpus at
    // call time is the documented memory cliff at real scale).
    if (eager) tsP.count()
    val cells = featureRows(tsP)
      .join(emissions.filter(col("feature") =!= "__bias__")
        .select(col("feature"), col("weights")), Seq("feature"))
      .select(col("conv_id"), col("turn_idx"), col("sent_idx"), col("tok_idx"),
        posexplode(col("weights")).as(Seq("lbl", "w")))
      // r6: drop zero addends BEFORE the (token, label) aggregate — a
      // sparse model (e.g. the dictionary model: one nonzero label per
      // feature) otherwise shuffles L rows per feature hit of which
      // L-1 are zeros. Zero terms cannot change any sum, and the
      // all-zero groups this removes were filtered below anyway.
      .filter(col("w") =!= 0.0)
      .groupBy("conv_id", "turn_idx", "sent_idx", "tok_idx", "lbl")
      .agg(sum("w").as("w"))
      .filter(col("w") =!= 0.0)
      .groupBy("conv_id", "turn_idx", "sent_idx")
      .agg(collect_list(struct(col("tok_idx"), col("lbl"), col("w"))).as("em"))
      .as[(String, Int, Int, Seq[EmCell])]
    val out = tsP.joinWith(cells,
        tsP("conv_id") === cells("conv_id") &&
          tsP("turn_idx") === cells("turn_idx") &&
          tsP("sent_idx") === cells("sent_idx"),
        "left_outer")
      .mapPartitions { it =>
        val (m, b) = bc.value
        it.flatMap { case (s, scoredOrNull) =>
          val toks = s.tokens
          if (toks.isEmpty) Iterator.empty
          else {
            val em = Array.ofDim[Double](toks.length, L)
            var i = 0
            while (i < toks.length) {
              var l = 0
              while (l < L) { em(i)(l) = b(l); l += 1 }
              i += 1
            }
            if (scoredOrNull != null)
              scoredOrNull._4.foreach(c => em(c.tok_idx)(c.lbl) += c.w)
            mentionsOf(s, decodeSentence(m, toks.toIndexedSeq, em, withConfidence))
          }
        }
      }
    if (eager) {
      val mat = out.localCheckpoint(true)
      tsP.unpersist(false)
      mat
    } else out
  }
}
