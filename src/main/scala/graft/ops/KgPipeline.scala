package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.model._
import graft.nlp.{DepGraph, TextOps}

/** The fused end-to-end KG extraction pipeline — the engine's headline
  * operator and the unit the BASELINE throughput metric (turns/sec) is
  * measured on.
  *
  * Physical shape (designed for 10^12 turns / 1000 executors):
  *
  *   scan transcripts (partition-pruned, columns {conv_id,turn_idx,text})
  *     → repartition(N, conv_id) + sortWithinPartitions   ← the ONE shuffle
  *     → mapPartitions, streaming one conversation at a time:
  *         segment → tag (broadcast CRF/gazetteer) → doc-level counts
  *         (conversation == document, so `sentence.py:140-171`'s
  *         per-document aggregations are group-LOCAL — zero extra
  *         shuffle; the declarative route uses the salted distributed
  *         forms RelationScoring.docEntityCounts/pairSentenceCounts)
  *         → turn-window edge gen → edge features (sentence-local dep
  *         graphs, combined-sentence synthetic links for cross-sentence/
  *         turn pairs, `data.py:1540-1666`) → broadcast linear scoring
  *         → canonical triple keys, per-conversation dedup (in-group,
  *           conversations are bounded)
  *
  * Everything after the shuffle is map-local; the reference runs the same
  * logical stages eagerly over a mutable in-memory tree
  * (`relation_pipelines.py:69-89`).
  */
object KgPipeline {

  final case class Config(
      relType: String,
      class1: String,
      class2: String,
      window: Int = 0,
      tokenizer: String = "generic")

  /** One candidate relation edge within a conversation. `feats` is empty
    * unless features were requested.
    */
  final case class Candidate(
      m1: Mention, m2: Mention, turn1: Int, sameSentence: Boolean,
      sentDist: Int, key: String, feats: Map[String, Double],
      score: Double = 1.0)

  def tripleKey(relType: String, m1: Mention, m2: Mention): String =
    Triples.key(relType, m1.class_id, Triples.entity(m1.class_id, m1.text),
      m2.class_id, Triples.entity(m2.class_id, m2.text))

  /** Candidate edges of one conversation (materialized form — training
    * and tests; inference streams through [[foreachCandidate]] with the
    * positive-key short-circuit instead).
    */
  def candidateEdges(
      convId: String,
      turns: Seq[Turn],
      cfg: Config,
      tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)],
      withFeatures: Boolean,
      scorer: Option[RelationScoring.LinearModel] = None): Vector[Candidate] = {
    val out = Vector.newBuilder[Candidate]
    foreachCandidate(convId, turns, cfg, tagger, withFeatures, scorer,
      skipKey = _ => false)(out += _)
    out.result()
  }

  /** Labeled relation training rows of one conversation (`label_edges`):
    * a candidate is +1 iff it is same-sentence and its canonical key is in
    * `gold`, −1 otherwise.
    */
  def trainingRows(
      convId: String,
      turns: Seq[Turn],
      cfg: Config,
      tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)],
      gold: Set[String]): Vector[(RelationScoring.Feats, Int)] =
    candidateEdges(convId, turns, cfg, tagger, withFeatures = true).map(c =>
      (RelationScoring.hashFeats(c.feats), if (c.sameSentence && gold.contains(c.key)) 1 else -1))

  /** Streaming candidate generation: segment → tag → doc-level counts →
    * turn-window pair generation (+ optional edge features over the
    * combined dependency context). Pure; no Spark.
    *
    * The doc-level counts (only when features or a score are asked for)
    * key on the mention's norm (entity2key, `sentence.py:174-180`):
    * `f_entity{1,2}_count` counts each `(class, norm)` once per mention,
    * `f_diff_sents_together_count` each `(class-1 norm, class-2 norm)`
    * once per sentence that holds both.
    *
    * `skipKey` is consulted BEFORE features/score are computed for a
    * pair: the inference path passes the already-positive-key check —
    * once any occurrence pair of a canonical key scores positive, the
    * relation is predicted (`form_predicted_relations`,
    * `data.py:276-294`) and further occurrence pairs cannot change the
    * outcome, so their (expensive) feature enumeration is skipped.
    * Iteration is turn-ascending, so the first positive also carries the
    * minimal turn_idx the dedup keeps.
    */
  def foreachCandidate(
      convId: String,
      turns: Seq[Turn],
      cfg: Config,
      tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)],
      withFeatures: Boolean,
      scorer: Option[RelationScoring.LinearModel],
      skipKey: String => Boolean)(emit: Candidate => Unit): Unit = {

    // Data contract: turn_idx is unique per conversation. Harden against
    // violations anyway (duplicate turn rows would double-iterate the
    // pair loop below AND duplicate sentence contexts): keep the FIRST
    // row per turn_idx in input order (sortBy is stable), matching the
    // first-write-wins rule of StreamingKg.ConvState.
    val sorted = turns.sortBy(_.turn_idx).distinctBy(_.turn_idx)
    // each word of the conversation is stemmed, and its names folded, once
    val vocab = new RelationScoring.Vocab
    // per-sentence dependency parse memoized across all edges touching
    // the sentence (the reference memoizes its per-sentence graphs the
    // same way, utils/graph.py:29-46)
    final case class SentCtx(turnIdx: Int, sentIdx: Int, toks: IndexedSeq[Tok],
        mentions: Seq[Mention]) {
      lazy val prep: RelationScoring.SentencePrep = RelationScoring.SentencePrep.of(toks, vocab)
      // the class-1 and class-2 mentions, each with its entity string;
      // side 2 also with its index in `mentions` (for its shifted copy)
      val side1: Vector[(Mention, String)] = mentions.iterator
        .filter(_.class_id == cfg.class1)
        .map(m => (m, Triples.entity(cfg.class1, m.text))).toVector
      val side2: Vector[(Mention, String, Int)] = mentions.iterator.zipWithIndex
        .filter(_._1.class_id == cfg.class2)
        .map { case (m, j) => (m, Triples.entity(cfg.class2, m.text), j) }.toVector
    }
    val ctxs: Vector[SentCtx] = sorted.iterator.flatMap { t =>
      TextOps.segment(t.text, cfg.tokenizer).map { case (si, _, _, toks) =>
        val ms = tagger(toks).map { case (cls, b, e) =>
          Mentions.of(convId, t.turn_idx, si, cls, b, e, t.text, 0)
        }
        SentCtx(t.turn_idx, si, toks, ms)
      }
    }.toVector

    // ---- document-level counts (`relations/new/sentence.py:140-191`) --
    // conversation == document: group-local, one pass. Every SentCtx is a
    // distinct (turn_idx, sent_idx), so a pair's sentences need no set.
    val docCounts = scala.collection.mutable.HashMap.empty[(String, String), Int]
    val together = scala.collection.mutable.HashMap.empty[(String, String), Int]
    if (withFeatures || scorer.isDefined) ctxs.foreach { c =>
      c.mentions.foreach { m =>
        val k = (m.class_id, m.norm)
        docCounts(k) = docCounts.getOrElse(k, 0) + 1
      }
      for (a <- c.side1.map(_._1.norm).distinct; b <- c.side2.map(_._1.norm).distinct)
        together((a, b)) = together.getOrElse((a, b), 0) + 1
    }
    def edgeCtxOf(m1: Mention, m2: Mention, sentMentions: Seq[Mention])
      : RelationScoring.EdgeCtx =
      RelationScoring.EdgeCtx(
        sentMentions = sentMentions,
        e1DocCount = docCounts.getOrElse((m1.class_id, m1.norm), 0),
        e2DocCount = docCounts.getOrElse((m2.class_id, m2.norm), 0),
        togetherCount = together.getOrElse((m1.norm, m2.norm), 0))

    val byTurn = ctxs.groupBy(_.turnIdx)

    for (t1 <- sorted.map(_.turn_idx); dt <- 0 to cfg.window) {
      val t2 = t1 + dt
      if (byTurn.contains(t1) && byTurn.contains(t2)) {
        for (c1 <- byTurn(t1); c2 <- byTurn(t2)) {
          val sameSent = c1.turnIdx == c2.turnIdx && c1.sentIdx == c2.sentIdx
          val sentDist =
            if (c1.turnIdx == c2.turnIdx) math.abs(c2.sentIdx - c1.sentIdx)
            else cfg.window + math.abs(c2.turnIdx - c1.turnIdx)
          // combined context hoisted per sentence PAIR: token/dep work and
          // c2's mentions shifted into its coordinates are mention-independent
          lazy val cross = combined(c1.toks, c2.toks, c1.prep.heads, c2.prep.heads,
            c1.prep.pos, c2.prep.pos)
          lazy val crossPrep = new RelationScoring.SentencePrep(cross.toks, cross.heads,
            cross.adj, cross.depth, cross.extraLabels, vocab = vocab, lexemes = c1.prep.lex ++ c2.prep.lex)
          lazy val shifted2: Vector[Mention] = c2.mentions.iterator.map(m =>
            m.copy(begin = m.begin + cross.delta, end = m.end + cross.delta)).toVector
          lazy val crossMentions: Seq[Mention] = c1.mentions ++ shifted2
          for {
            (m1, e1) <- c1.side1
            (m2, e2, j2) <- c2.side2
            // never pair a mention with itself (only possible when the two
            // entity classes coincide)
            if !(cfg.class1 == cfg.class2 && sameSent &&
              m1.begin == m2.begin && m1.end == m2.end)
          } {
            val key = Triples.key(cfg.relType, cfg.class1, e1, cfg.class2, e2)
            if (!skipKey(key)) {
              // same-sentence pairs share the memoized per-sentence prep
              // (per-token arrays, head/path caches amortize over the
              // k² pairs); cross-context pairs share the hoisted pair prep
              val (prep, mm1, mm2, sentMs) =
                if (sameSent) (c1.prep, m1, m2, c1.mentions)
                else (crossPrep, m1, shifted2(j2), crossMentions)
              lazy val ctx = edgeCtxOf(m1, m2, sentMs)
              val feats =
                if (!withFeatures) Map.empty[String, Double]
                else RelationScoring.features(prep, mm1, mm2, sameSent, sentDist, ctx)
              val score = scorer match {
                case None => 1.0
                case Some(lm) =>
                  RelationScoring.scoreEdge(lm, prep, mm1, mm2, sameSent, sentDist, ctx)
              }
              emit(Candidate(m1, m2, t1, sameSent, sentDist, key, feats, score))
            }
          }
        }
      }
    }
  }

  /** Per-conversation pure function: turns (any order) → deduped scored
    * triples (scorer None = stub extractor: every candidate is a
    * relation, `taggers.py:126-185`). Exposed for unit tests; `triples`
    * wires it distributed.
    *
    * Scoring short-circuit: once a canonical key has a positive
    * occurrence, remaining occurrence pairs of that key are skipped
    * before feature enumeration — with dense repeated mentions this
    * collapses O(k²) scored pairs per conversation to O(distinct keys)
    * once the positives are found. Predicted-set semantics are unchanged
    * (predicted = "any occurrence positive", `data.py:276-294` is binary;
    * turn kept = first = minimal), but the recorded TripleRow.score is
    * the FIRST positive occurrence's score, not the max among same-turn
    * positives — the reference's pred_target is binary, so either choice
    * is a valid confidence surrogate; downstream consumers should treat
    * score as "a positive margin", not "the best margin".
    *
    * `decided` are keys a caller has already emitted (the stateful
    * stream's emitted keys): they join the short-circuit, so their pairs
    * are never scored and they never appear in the output. The rows of
    * every other key are exactly those of a call without `decided` — same
    * pair order, same conversation-level counts, same first positive.
    * Most skipped pairs hit `out` first; with no `decided` the second
    * lookup is on an empty set.
    */
  def processConversation(
      convId: String,
      turns: Seq[Turn],
      cfg: Config,
      tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)],
      scorer: Option[RelationScoring.LinearModel],
      decided: Set[String] = Set.empty): Vector[TripleRow] = {

    val out = scala.collection.mutable.HashMap.empty[String, TripleRow]
    val skipKey: String => Boolean = key => out.contains(key) || decided(key)
    foreachCandidate(convId, turns, cfg, tagger, withFeatures = false, scorer,
      skipKey) { c =>
      if (c.score > 0) {
        out.update(c.key, TripleRow(convId, c.turn1, cfg.relType,
          Triples.entity(c.m1.class_id, c.m1.text),
          Triples.entity(c.m2.class_id, c.m2.text), c.key, c.score))
      }
    }
    out.values.toVector.sortBy(r => (r.turn_idx, r.key))
  }

  /** Combined-token context for a cross-sentence/turn candidate pair:
    * the two sentences concatenated with re-based offsets, a synthetic
    * root↔root dependency (rootDepForward/Backward, `data.py:1617-1646`)
    * and same-word noun links (`data.py:1649-1666`). `delta` is the
    * offset shift applied to the second sentence's char coordinates.
    */
  final case class CombinedCtx(toks: IndexedSeq[Tok], heads: Array[Int],
      adj: Array[List[Int]], depth: Array[Int],
      extraLabels: Map[Long, String], delta: Int)

  /** [[combined]] with each token's [[DepGraph.coarsePos]] computed here. */
  def combined(toks1: IndexedSeq[Tok], toks2: IndexedSeq[Tok],
               hs1: Array[Int], hs2: Array[Int]): CombinedCtx =
    combined(toks1, toks2, hs1, hs2, DepGraph.coarsePos(toks1), DepGraph.coarsePos(toks2))

  /** The pipeline passes each sentence's memoized head assignment and
    * [[DepGraph.coarsePos]] tags so per-sentence parsing never repeats per
    * sentence PAIR.
    */
  def combined(toks1: IndexedSeq[Tok], toks2: IndexedSeq[Tok],
               hs1: Array[Int], hs2: Array[Int],
               pos1: Array[String], pos2: Array[String]): CombinedCtx = {
    val delta = (if (toks1.nonEmpty) toks1.last.end + 1 else 0) -
      (if (toks2.nonEmpty) toks2.head.begin else 0)
    val shifted = toks2.zipWithIndex.map { case (t, i) =>
      Tok(toks1.length + i, t.word, t.begin + delta, t.end + delta)
    }
    val all = toks1 ++ shifted
    val heads = Array.tabulate(all.length) { i =>
      if (i < toks1.length) hs1(i) else hs2(i - toks1.length) + toks1.length
    }
    val root1 = DepGraph.root(hs1)
    val root2 = DepGraph.root(hs2) + toks1.length
    // same-word noun links across the two sides (`data.py:1649-1666`)
    val nouns1 = toks1.indices.filter(pos1(_) == "NOUN")
    val nouns2 = toks2.indices.filter(pos2(_) == "NOUN").map(_ + toks1.length)
    val lemmaLinks = for {
      a <- nouns1; b <- nouns2
      if all(a).word.equalsIgnoreCase(all(b).word)
    } yield (a, b)
    import RelationScoring.SentencePrep.linkKey
    val extraLabels: Map[Long, String] =
      (lemmaLinks.map(l => linkKey(l._1, l._2) -> "sameLemma") :+
        (linkKey(root1, root2) -> "rootDep")).toMap
    val adj = DepGraph.adjacency(all.length, heads, (root1, root2) +: lemmaLinks)
    CombinedCtx(all, heads, adj, DepGraph.depths(adj, root1), extraLabels, delta)
  }

  /** Distributed form: ONE shuffle on conv_id, then per-conversation
    * map-local processing.
    *
    * The shuffle is an EXPLICIT `repartition(n, conv_id)` +
    * `sortWithinPartitions(conv_id, turn_idx)` + streaming group iterator
    * rather than `groupByKey.flatMapGroups`, for a reason that matters at
    * every scale: this stage is CPU-heavy and byte-light (a conversation
    * of transcript text costs ~1ms of feature/scoring CPU but only ~KBs
    * of shuffle), and AQE's size-based partition coalescing would fold a
    * few-MB shuffle into 1-2 tasks, serializing tens of seconds of CPU
    * (measured: 13s single-task vs <2s at 32; at 100 TB the same
    * mis-sizing shows up as thousand-core clusters idling on a handful of
    * straggler tasks). A user-specified repartition count is exempt from
    * AQE coalescing, and the within-partition sort gives O(conversation)
    * streaming memory exactly like flatMapGroups' internal sort-based
    * grouping.
    */
  def triples(turns: Dataset[Turn], cfg: Config,
              crfModel: Option[Crf.Model],
              gaz: Map[String, String],
              scorer: Option[RelationScoring.LinearModel]): Dataset[TripleRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bcCrf = spark.sparkContext.broadcast(crfModel)
    val bcGaz = spark.sparkContext.broadcast(gaz)
    val bcLin = spark.sparkContext.broadcast(scorer)
    val nParts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    turns
      .repartition(nParts, org.apache.spark.sql.functions.col("conv_id"))
      .sortWithinPartitions(
        org.apache.spark.sql.functions.col("conv_id"),
        org.apache.spark.sql.functions.col("turn_idx"))
      .mapPartitions { (it: Iterator[Turn]) =>
        val tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] = bcCrf.value match {
          case Some(m) => toks =>
            Crf.tagSentence(m, toks, withConfidence = false).map { case (cls, d) =>
              (cls, d.begin, d.end)
            }
          case None => GazetteerTagger.sentenceTagger(bcGaz.value)
        }
        // stream maximal runs of one conv_id (partition sorted by conv_id)
        val rows = it.buffered
        val groups = new Iterator[Seq[Turn]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Seq[Turn] = {
            val cid = rows.head.conv_id
            val buf = Vector.newBuilder[Turn]
            while (rows.hasNext && rows.head.conv_id == cid)
              buf += rows.next()
            buf.result()
          }
        }
        groups.flatMap { ts =>
          processConversation(ts.head.conv_id, ts, cfg, tagger, bcLin.value).iterator
        }
      }
  }
}
