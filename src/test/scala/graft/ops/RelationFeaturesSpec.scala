package graft.ops

import graft.SparkSpec
import graft.model._

/** Golden tests for the completed §2.5 edge feature set: the doc-level
  * counts of `relations/new/sentence.py:140-171`, the sentence counts,
  * LD/PD path n-grams with edge labels/directions
  * (`new/dependency.py:163-221`, `utils/graphs.py` Path algebra), the
  * NamedEntityCount/BagOfWords generators (`relations/sentence.py:6-113`)
  * and the distributed salted-groupBy forms.
  */
class RelationFeaturesSpec extends SparkSpec {

  private val gaz = Map("merge" -> "op", "scan" -> "op",
    "table" -> "obj", "stream" -> "obj")
  private val tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => gaz.get(t.word).map(c => (c, t.begin, t.end)))
  private val cfg = KgPipeline.Config("r", "op", "obj", window = 1,
    tokenizer = "generic")

  private def turn(i: Int, text: String) =
    Turn("c0", i, "user", text, None, new java.sql.Timestamp(0L))

  /** Fixture conversation (hand-computed goldens below):
    *   turn 0: "merge table now. merge stream later."   (2 sentences)
    *   turn 1: "scan table again."
    * doc-level norm counts: merge=2 scan=1 table=2 stream=1;
    * same-sentence pair sents: (merge,table)=1 (merge,stream)=1
    * (scan,table)=1.
    */
  private val turns = Seq(
    turn(0, "merge table now. merge stream later."),
    turn(1, "scan table again."))

  private def featsOf(pred: KgPipeline.Candidate => Boolean): Map[String, Double] = {
    val cands = KgPipeline.candidateEdges("c0", turns, cfg, tagger, withFeatures = true)
    val hit = cands.filter(pred)
    assert(hit.size == 1, s"expected unique candidate, got ${hit.size}")
    hit.head.feats
  }

  test("doc-level entity counts and together-count (sentence.py:140-171 goldens)") {
    // same-sentence pair merge(t0,s0) - table(t0,s0)
    val f = featsOf(c => c.sameSentence && c.m1.text == "merge" &&
      c.m2.text == "table" && c.m1.turn_idx == 0)
    assert(f("f_entity1_count") == 2.0) // 'merge' occurs twice in the conv
    assert(f("f_entity2_count") == 2.0) // 'table' occurs twice
    assert(f("f_diff_sents_together_count") == 1.0) // co-occur in 1 sentence
    // cross-turn merge(t0) - table(t1): doc counts identical (doc-level!)
    val g = featsOf(c => !c.sameSentence && c.m1.text == "merge" &&
      c.m1.turn_idx == 0 && c.m2.text == "table" && c.m2.turn_idx == 1 &&
      c.m1.sent_idx == 0)
    assert(g("f_entity1_count") == 2.0)
    assert(g("f_entity2_count") == 2.0)
    assert(g("f_diff_sents_together_count") == 1.0)
    // pair that never co-occurs in a sentence: merge(t0,s1) x table never
    // same-sentence? (merge,stream) does: check stream's together too
    val h = featsOf(c => c.sameSentence && c.m2.text == "stream")
    assert(h("f_entity2_count") == 1.0) // 'stream' once
    assert(h("f_diff_sents_together_count") == 1.0)
  }

  /** Second fixture (case-insensitive tagging; hand-computed goldens):
    *   turn 0: "merge table and merge Table again. merge table."
    *     s0 repeats both norms (merge x2; table, Table), s1 holds the
    *     same norm pair again
    *   turn 1: "scan stream."  (window-1 cross-turn pairs merge-stream)
    * doc-level norm counts: merge=3 table=3 scan=1 stream=1;
    * distinct-sentence co-occurrence: (merge,table)=2 (scan,stream)=1.
    */
  private val foldTagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => gaz.get(t.word.toLowerCase).map(c => (c, t.begin, t.end)))
  private val repeatTurns = Seq(
    turn(0, "merge table and merge Table again. merge table."),
    turn(1, "scan stream."))

  test("doc-level counts: per mention, per sentence per distinct norm pair") {
    val cands = KgPipeline.candidateEdges("c0", repeatTurns, cfg, foldTagger,
      withFeatures = true)
    def counts(c: KgPipeline.Candidate) = (c.feats("f_entity1_count"),
      c.feats("f_entity2_count"), c.feats.get("f_diff_sents_together_count"))
    val byNorms = cands.groupBy(c => (c.m1.norm, c.m2.norm))
    assert(byNorms.keySet == Set(("merge", "table"), ("merge", "stream"), ("scan", "stream")))
    // merge-table: 2x2 in t0s0, 2x1 + 1x2 across t0's sentences, 1 in t0s1;
    // the repeats in t0s0 count once toward the together count
    assert(byNorms(("merge", "table")).size == 9)
    assert(byNorms(("merge", "table")).count(_.sameSentence) == 5)
    byNorms(("merge", "table")).foreach(c =>
      assert(counts(c) == ((3.0, 3.0, Some(2.0))), (c.m1, c.m2)))
    // window-1 cross-turn pairs: doc counts, never together in a sentence
    assert(byNorms(("merge", "stream")).size == 3)
    byNorms(("merge", "stream")).foreach { c =>
      assert(!c.sameSentence && c.turn1 == 0 && c.m2.turn_idx == 1)
      assert(counts(c) == ((3.0, 1.0, None)), (c.m1, c.m2))
    }
    assert(byNorms(("scan", "stream")).map(counts) == Vector((1.0, 1.0, Some(1.0))))
  }

  test("sentence-level counts, token counts, NE counts (goldens)") {
    val f = featsOf(c => c.sameSentence && c.m1.text == "merge" &&
      c.m2.text == "table" && c.m1.turn_idx == 0)
    // sentence "merge table now." → generic tokens [merge, table, now, .]
    assert(f("f_tokens_count") == 4.0)
    assert(f("f_tokens_count_before") == 0.0) // merge is token 0
    assert(f("f_tokens_count_after") == 2.0)  // 'now', '.'
    // per-class counts minus the edge's own entity
    assert(f("f_counts_ind=op") == 0.0)
    assert(f("f_counts_ind=obj") == 0.0)
    assert(f("f_counts_total") == 0.0)
    assert(f("f_counts_bet_total") == 0.0)
    assert(f.contains("ne_count_op_1"))
    assert(f.contains("ne_count_obj_1"))
    // masked BOW over the sentence: entity tokens become their class ids
    assert(f("f_bow=op") == 1.0)
    assert(f("f_bow=obj") == 1.0)
    assert(f("f_bow=now") == 1.0)
    // order: m1 'op' > 'obj' lexicographically → no f_order flag
    assert(!f.contains("f_order"))
    assert(f.contains("order=op_obj"))
  }

  test("LD and PD path n-grams with edge labels/directions (goldens)") {
    // single sentence with a verb root: merge calls table
    val oneTurn = Seq(turn(0, "merge calls table"))
    val cands = KgPipeline.candidateEdges("c0", oneTurn, cfg, tagger, withFeatures = true)
    assert(cands.size == 1)
    val f = cands.head.feats
    // LD path = [merge .. table] (token span), middle = [calls]
    assert(f("ld_tokens_count") == 1.0)
    assert(f("ld_bow_1g=calls") == 1.0)
    assert(f("ld_pos_1g=VERB") == 1.0)
    assert(f("ld_bow_3g=[S~calls~T]") == 1.0)
    // PD path merge→calls→table (root = calls): step directions B then F,
    // labels from the rule labeler: merge = noun BEFORE its verbal head →
    // nsubj, table = noun AFTER it → dobj
    assert(f("pd_len") == 3.0)
    assert(f("pd_tok=calls") == 1.0)
    assert(f("pd_undir_2g=nsubj~dobj") == 1.0)
    assert(f("pd_dir_2g=nsubj-B~dobj-F") == 1.0)
    assert(f("pd_full_1g=[S nsubj-B") == 1.0)
    // bag of words: stopword-free sentence words
    assert(f("bow_text=merge") == 1.0)
    assert(f("ne_bow=merge") == 1.0) // entity-part token count
    assert(f("ne_bow=table") == 1.0)
    assert(!f.contains("bow_text=the"))
    // intermediate tokens between heads (fwd since h1 < h2)
    assert(f("it_fwd_bow=calls") == 1.0)
    assert(f("it_bow=calls") == 1.0)
    assert(f("it_fwd_pos=VERB") == 1.0)
  }

  test("entity-head chains emit direction-tagged LABELED visits to depth 3") {
    val oneTurn = Seq(turn(0, "merge calls table"))
    val f = KgPipeline.candidateEdges("c0", oneTurn, cfg, tagger, withFeatures = true)
      .head.feats
    // merge's head token attaches to the root 'calls' as nsubj → upward
    // chain carries the traversed edge's label (entityhead.py:264-281)
    assert(f.contains("e1_dep_dist_3_from_nsubj"))
    assert(f.contains("e1_chain_dep_dist_3_-fw_nsubj"))
    assert(f("e1_dist_3_txt=calls") == 1.0)
    // 'calls' (root) has children merge (nsubj) and table (dobj) →
    // downward chains from e2 are label-distinct
    assert(f.contains("e2_chain_dep_dist_2_-fw-rv_nsubj"))
    assert(f.contains("e2_chain_dep_dist_2_-fw-rv_dobj"))
    assert(f.contains("e2_dep_dist_3_from_dobj"))
  }

  test("rule dep labels: det/prep/neg/aux and negation via neg-dep parity") {
    import graft.model.Tok
    import graft.nlp.DepGraph
    def toks(ws: String*): IndexedSeq[Tok] = {
      var off = 0
      ws.zipWithIndex.map { case (w, i) =>
        val t = Tok(i, w, off, off + w.length); off += w.length + 1; t
      }.toIndexedSeq
    }
    // root = first VERB = 'did' (verb lexicon); 'scan'/'merge'/'table'
    // are NOUNs here
    val s = toks("the", "scan", "did", "not", "merge", "with", "table")
    val hs = DepGraph.heads(s)
    val ls = DepGraph.depLabels(s, hs)
    assert(ls(0) == "det")
    assert(ls(3) == "neg")
    assert(ls(5) == "prep")
    // aux under the root: 'did' IS the root here → labeled root
    val root = hs.indices.find(i => hs(i) == i).get
    assert(ls(root) == "root")
    // odd neg count → negated, and parity matches the token-based form
    assert(DepGraph.isNegatedLabeled(ls))
    assert(DepGraph.isNegated(s))
    // double negation: two neg deps → even parity → not negated
    val pos = toks("merge", "can", "not", "never", "load", "table")
    val hs2 = DepGraph.heads(pos)
    val ls2 = DepGraph.depLabels(pos, hs2)
    assert(!DepGraph.isNegatedLabeled(ls2))
    val root2 = hs2.indices.find(i => hs2(i) == i).get
    assert(ls2(root2) == "root") // root = first VERB = 'can'
    assert(ls2.count(_ == "neg") == 2)
  }

  test("main_verb= is found from the heads' root, not from the depth origin") {
    import graft.nlp.{DepGraph, TextOps}
    val text = "merge calls table and sent stream"
    val toks = TextOps.segment(text, "generic").head._4
    val hs = DepGraph.heads(toks)
    val adj = DepGraph.adjacency(toks.length, hs)
    // 'calls' is the root; 'sent' is a second verb off the root
    assert(DepGraph.root(hs) == 1)
    assert(DepGraph.coarsePos("sent") == "VERB")
    // depths BFS'd from 'sent' put depth 0 on a token that is not the root
    val prep = new RelationScoring.SentencePrep(toks, hs, adj, DepGraph.depths(adj, 4))
    def mention(cls: String, i: Int) =
      Mention("c0", 0, 0, cls, toks(i).begin, toks(i).end, toks(i).word, 1.0, toks(i).word)
    val f = RelationScoring.features(prep, mention("op", 0), mention("obj", 2),
      sameSentence = true, sentDist = 0, RelationScoring.EdgeCtx.empty)
    assert(f.keys.filter(_.startsWith("main_verb=")).toSet == Set("main_verb=call"))
  }

  test("a mention's cached token range and head == the tokens fully inside its span") {
    import graft.nlp.{DepGraph, TextOps}
    val rng = new scala.util.Random(23)
    val words = Vector("merge", "Table", "x2", "c.2708_2711delTTAG", "don't", "a", "-",
      "scan,", "b/c", "café", "3.5", "(db)", "stream", "not", "calls", "!", "NaCl")
    // reference forms: filter every token by full containment, then pick the head
    def inside(toks: IndexedSeq[Tok], b: Int, e: Int) =
      toks.indices.filter(i => toks(i).begin >= b && toks(i).end <= e)
    def filterHead(toks: IndexedSeq[Tok], depth: Array[Int], b: Int, e: Int): Int = {
      val in = inside(toks, b, e)
      if (in.isEmpty) return -1
      val nonPunct = in.filter(i => DepGraph.coarsePos(toks(i).word) != "PUNCT")
      val cands = if (nonPunct.nonEmpty) nonPunct else in
      val nouns = cands.filter(i => DepGraph.coarsePos(toks(i).word) == "NOUN")
      (if (nouns.nonEmpty) nouns else cands).minBy(depth(_))
    }
    var checked = 0
    (0 until 150).foreach { _ =>
      val text = Seq.fill(1 + rng.nextInt(30))(words(rng.nextInt(words.length))).mkString(" ")
      Seq("generic", "tmvar").foreach { tokenizer =>
        val sents = TextOps.segment(text, tokenizer).map(_._4).filter(_.nonEmpty)
        val single = sents.map(RelationScoring.SentencePrep.of)
        val cross = for (a <- single; b <- single) yield {
          val c = KgPipeline.combined(a.toks, b.toks, a.heads, b.heads)
          new RelationScoring.SentencePrep(c.toks, c.heads, c.adj, c.depth, c.extraLabels)
        }
        (single ++ cross).foreach { prep =>
          val toks = prep.toks
          assert(toks.forall(t => t.begin <= t.end), toks)
          assert(toks.zip(toks.drop(1)).forall { case (a, b) => a.end <= b.begin }, toks)
          (0 until 30).foreach { _ =>
            // spans around token boundaries (exact, one char in or out),
            // zero-width and reversed ones included
            def jitter = rng.nextInt(5) match { case 0 => -1; case 1 => 1; case _ => 0 }
            val b = toks(rng.nextInt(toks.length)).begin + jitter
            val e = if (rng.nextInt(8) == 0) b else toks(rng.nextInt(toks.length)).end + jitter
            val m = Mention("c0", 0, 0, "op", b, e, "", 1.0, "")
            val s = prep.span(m)
            val in = inside(toks, b, e)
            if (in.isEmpty) assert((s.first, s.last) == ((-1, -1)), (b, e))
            else assert((s.first to s.last) == in, (b, e))
            val head = filterHead(toks, prep.depth, b, e)
            assert(s.head == head, (b, e))
            assert(DepGraph.entityHead(toks, prep.depth, DepGraph.tokenRange(toks, b, e)) == head)
            assert(prep.span(m) eq s)
            if (in.nonEmpty) checked += 1
          }
        }
      }
    }
    assert(checked > 1000)
  }

  test("bag of words drops stopwords by the word, stemmed bag by the stem") {
    val f = KgPipeline.candidateEdges("c0", Seq(turn(0, "merge doing this table")), cfg,
      tagger, withFeatures = true).head.feats
    // 'this' is a stopword, its stem 'thi' is not; 'doing' is not, its stem 'do' is
    assert(!f.contains("bow_text=this"))
    assert(f("bow_stem=thi") == 1.0)
    assert(f("bow_text=doing") == 1.0)
    assert(!f.contains("bow_stem=do"))
  }

  test("feature-name hash indices are pinned (the committed weights' index space)") {
    val pinned = Seq("same_sent" -> 65826, "f_bow=table" -> 124163,
      "pd_full_1g=[S nsubj-B" -> 106956, "pd_dir_2g=nsubj-B~dobj-F" -> 113771,
      "e1_chain_dep_dist_3_-fw_nsubj" -> 44660, "h1_3g=mer" -> 126408,
      "ne_count_e_op_3" -> 63348, "café中" -> 204675)
    pinned.foreach { case (name, idx) => assert(RelationScoring.h(name) == idx, name) }
  }

  test("part-wise FNV fold from a prefix state == h of the concatenation") {
    import RelationScoring.{fold, index, FnvOffset, Prefix}
    val rng = new scala.util.Random(17)
    // ASCII, Latin-1 and chars above 0xFF (only their low byte is folded)
    val alphabet = "ab~_- [ST]09zéÿĀ中€".toVector
    (0 until 2000).foreach { _ =>
      val s = Seq.fill(rng.nextInt(24))(alphabet(rng.nextInt(alphabet.length))).mkString
      // random cut points, repeats allowed: some parts are empty
      val cuts = (Seq.fill(rng.nextInt(5))(rng.nextInt(s.length + 1)) :+ 0 :+ s.length).sorted
      val parts = cuts.zip(cuts.tail).map { case (a, b) => s.substring(a, b) }
      val prefix = new Prefix(parts.head)
      val viaParts = parts.tail.foldLeft(prefix.state)(fold(_, _))
      assert(index(viaParts) == RelationScoring.h(s), s"$parts")
      // the same fold over ranges of the whole string and char by char
      val viaRanges = cuts.zip(cuts.tail).foldLeft(FnvOffset) { case (st, (a, b)) =>
        fold(st, s, a, b)
      }
      assert(index(viaRanges) == RelationScoring.h(s), s)
      assert(index(s.foldLeft(FnvOffset)(fold(_, _))) == RelationScoring.h(s), s)
    }
  }

  test("distributed salted doc counts == fused group-local counts") {
    import spark.implicits._
    // both fixtures as two conversations; mentions as the fused pipeline
    // tags them, and the fused features of every candidate edge
    val convs = Seq(("c0", turns, tagger), ("c1", repeatTurns, foldTagger))
    val mentions = convs.flatMap { case (conv, ts, tag) =>
      ts.flatMap { t =>
        graft.nlp.TextOps.segment(t.text, "generic").flatMap { case (si, _, _, toks) =>
          tag(toks).map { case (cls, b, e) => Mentions.of(conv, t.turn_idx, si, cls, b, e, t.text, 0) }
        }
      }
    }.toDS()
    val fused = convs.flatMap { case (conv, ts, tag) =>
      KgPipeline.candidateEdges(conv, ts, cfg, tag, withFeatures = true).map((conv, _))
    }
    val doc = RelationScoring.docEntityCounts(mentions)
      .as[(String, String, String, Long)].collect()
      .map(r => ((r._1, r._2, r._3), r._4.toDouble)).toMap
    // the declarative route's class-ordered key ("op" > "obj")
    val pairs = RelationScoring.pairSentenceCounts(mentions, "op", "obj")
      .as[(String, String, Long)].collect()
      .map(r => ((r._1, r._2), r._3.toDouble)).toMap
    assert(doc.size == 8 && pairs.size == 5)
    fused.foreach { case (conv, c) =>
      assert(c.feats("f_entity1_count") == doc((conv, c.m1.class_id, c.m1.norm)), (c.m1, c.m2))
      assert(c.feats("f_entity2_count") == doc((conv, c.m2.class_id, c.m2.norm)), (c.m1, c.m2))
      assert(c.feats.get("f_diff_sents_together_count") ==
        pairs.get((conv, s"${c.m2.norm}|${c.m1.norm}")), (c.m1, c.m2))
    }
    // every declarative count is read by some fused edge
    val read = fused.flatMap { case (conv, c) =>
      Seq((conv, c.m1.class_id, c.m1.norm), (conv, c.m2.class_id, c.m2.norm))
    }.toSet
    assert(read == doc.keySet)
    assert(fused.filter(_._2.sameSentence)
      .map { case (conv, c) => (conv, s"${c.m2.norm}|${c.m1.norm}") }.toSet == pairs.keySet)
  }
}
