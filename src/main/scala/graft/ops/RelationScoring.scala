package graft.ops

import graft.model._
import graft.nlp.{DepGraph, Porter, TextOps}
import java.util.Arrays
import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Edge feature vectors + SVM-style linear relation scoring — nalaf's
  * relation-extraction stage (nalaf/features/relations package,
  * `learning/lib/sklsvm.py`) re-expressed for distributed scoring.
  *
  * Feature indexing uses the hashing trick (fixed 2^18 dims) instead of
  * the reference's shared mutable name→index dictionary
  * (`features/relations/__init__.py:24-64`): at 10^12 turns a grow-only
  * interning dict is a driver bottleneck and a broadcast-consistency
  * hazard; hashing gives identical train/predict indices with zero
  * coordination, the standard trade (rare collisions) at this scale.
  *
  * The *feature definitions* mirror the reference's generators:
  *  - SentenceFeatureGenerator, complete incl. the DOCUMENT-level
  *    `f_entity{1,2}_count` / `f_diff_sents_together_count`
  *    (`relations/new/sentence.py:12-216`; doc-level 140-171). In the
  *    fused pipeline the document == the conversation, so the doc-level
  *    counts are computed group-locally (no extra shuffle); the
  *    declarative route uses the salted two-phase [[docEntityCounts]] /
  *    [[pairSentenceCounts]] aggregations (north_rule shape).
  *  - DependencyFeatureGenerator LD + PD paths with bow/POS n-grams
  *    1..4, token counts ±punct, path negation, and the PD-only
  *    undirected/directed/full edge n-grams (`new/dependency.py:20-221`,
  *    path algebra `utils/graphs.py:186-xxx` Path/PathNode). OW/IW
  *    windows are skipped exactly like the reference (commented out
  *    there, `dependency.py:129-161`).
  *  - Entity-head surface/case/digit/punct/char-2-3-grams
  *    (`relations/entityhead.py:7-229`) and dependency CHAINS to depth 3
  *    with linear-order features (`entityhead.py:230-302`). Chain and PD
  *    edge labels come from the deterministic rule labeler
  *    (DepGraph.depLabels: nsubj/dobj/det/prep/neg/aux/... by POS pair +
  *    position), the hermetic stand-in for spaCy's labeled parse — so
  *    `from_<dep>`/`-fw_<dep>` chain names, PD edge-label n-grams and
  *    `neg`-dependency negation all carry real label signal.
  *  - LinearDistance / EntityOrder (`relations/context.py:5-73`).
  *  - IntermediateTokens with fwd/bkd directional variants + the
  *    undirected set (`context.py:76-166`).
  *  - NamedEntityCount / BagOfWords / StemmedBagOfWords
  *    (`relations/sentence.py:6-113`). Deviation: the reference adds the
  *    stemmed BOW only in training mode (dead weights at predict); we
  *    enumerate identically in both paths so train/predict indices agree.
  */
object RelationScoring {

  val Dims = 1 << 18

  final case class Feats(idx: Array[Int], value: Array[Double])

  /** FNV-1a over the chars' low bytes — identical to the UTF-8-byte FNV
    * on ASCII names (all generated names are ASCII except embedded corpus
    * words, which fold consistently on both the train and predict path —
    * consistency, not a specific value, is the hashing-trick contract).
    * Char-wise avoids the String.getBytes array allocation per feature
    * name, the single largest allocation source in the scoring hot path.
    */
  private[graft] def h(s: CharSequence): Int = {
    var hh = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      hh ^= (s.charAt(i) & 0xffL)
      hh *= 0x100000001b3L
      i += 1
    }
    ((hh % Dims) + Dims).toInt % Dims
  }

  /** [[h]] as a left fold: `h(a ++ b) == index(fold(fold(FnvOffset, a), b))`,
    * so a name's index can be computed part by part, continuing from the
    * precomputed state of its constant prefix.
    */
  private[graft] final val FnvOffset = 0xcbf29ce484222325L
  private[graft] def fold(state: Long, s: String, from: Int, until: Int): Long = {
    var hh = state
    var i = from
    while (i < until) {
      hh = (hh ^ (s.charAt(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    hh
  }
  private[graft] def fold(state: Long, s: String): Long = fold(state, s, 0, s.length)
  private[graft] def fold(state: Long, c: Char): Long = (state ^ (c & 0xffL)) * 0x100000001b3L
  private[graft] def index(state: Long): Int = ((state % Dims) + Dims).toInt % Dims

  /** A constant name or name prefix with its FNV-1a state precomputed;
    * `id` numbers it for the per-word index memos of a [[Vocab]].
    */
  private[graft] final class Prefix(val text: String) {
    val state: Long = fold(FnvOffset, text)
    val id: Int = prefixIds.getAndIncrement()
  }
  private val prefixIds = new java.util.concurrent.atomic.AtomicInteger

  /** Receives [[enumerate]]'s features part by part: `start` opens a name
    * at a constant prefix, `part`/`char` extend it, `emit` closes it with
    * its value. The two sinks see the same parts, so the Map path's names
    * hash to exactly the indices the scoring path folds. `memoName` is a
    * pair-independent name `p` + `s` (value 1.0) whose index the scoring
    * sink folds once into `memo(i)`; a run of such names is enumerated
    * only when `replayed(cache, slot)` is false, and `recorded()` then
    * stores the run's indices there for the scoring sink to add next time.
    * The Map sink builds every name and stores no index.
    */
  private abstract class NameSink {
    def start(p: Prefix): Unit
    def part(s: String): Unit
    def part(s: String, from: Int, until: Int): Unit
    def char(c: Char): Unit
    def emit(v: Double): Unit
    def memoName(p: Prefix, s: String, memo: Array[Int], i: Int): Unit = {
      start(p); part(s); emit(1.0)
    }
    def replayed(cache: Array[Array[Int]], slot: Int): Boolean = false
    def recorded(): Unit = ()
  }

  /** Builds each name and sums values per name (training, tests). */
  private final class MapSink extends NameSink {
    private val nb = new java.lang.StringBuilder(96)
    val out = scala.collection.mutable.HashMap.empty[String, Double]
    def start(p: Prefix): Unit = { nb.setLength(0); nb.append(p.text) }
    def part(s: String): Unit = nb.append(s)
    def part(s: String, from: Int, until: Int): Unit = nb.append(s, from, until)
    def char(c: Char): Unit = nb.append(c)
    def emit(v: Double): Unit = {
      val f = nb.toString
      out.update(f, out.getOrElse(f, 0.0) + v)
    }
  }

  /** Adds w(index) * v to the score in enumeration order, the index
    * either folded from the name's parts (no name is ever assembled) or
    * read from a word's memo or a replayed run; the order, and so every
    * score bit, is the same either way.
    */
  private final class ScoreSink(w: Array[Double], b: Double) extends NameSink {
    private var st = 0L
    var score: Double = b
    private var cache: Array[Array[Int]] = null; private var slot = 0
    private var rec: Array[Int] = null; private var n = 0
    def start(p: Prefix): Unit = st = p.state
    def part(s: String): Unit = st = fold(st, s)
    def part(s: String, from: Int, until: Int): Unit = st = fold(st, s, from, until)
    def char(c: Char): Unit = st = fold(st, c)
    def emit(v: Double): Unit = add(index(st), v)
    private def add(x: Int, v: Double): Unit = {
      if (cache != null) { if (n == rec.length) rec = Arrays.copyOf(rec, 2 * n); rec(n) = x; n += 1 }
      score += w(x) * v
    }
    override def memoName(p: Prefix, s: String, memo: Array[Int], i: Int): Unit = {
      if (memo(i) == 0) memo(i) = index(fold(p.state, s)) + 1
      add(memo(i) - 1, 1.0)
    }
    override def replayed(c: Array[Array[Int]], s: Int): Boolean = {
      if (cache != null) throw new IllegalStateException("a recorded run is still open")
      val r = c(s)
      if (r == null) { cache = c; slot = s; n = 0; if (rec == null) rec = new Array[Int](64) }
      else { var i = 0; while (i < r.length) { add(r(i), 1.0); i += 1 } }
      r != null
    }
    override def recorded(): Unit = { cache(slot) = Arrays.copyOf(rec, n); cache = null }
  }

  /** Per-edge context beyond the sentence: mentions of the edge's
    * sentence(s) (combined-token coordinates) and the document-level
    * counts of `relations/new/sentence.py:140-171`:
    * `e1DocCount`/`e2DocCount` = occurrences of the entity's norm key in
    * the whole conversation (per class); `togetherCount` = number of
    * DISTINCT sentences where the pair's norm keys co-occur.
    */
  final case class EdgeCtx(
      sentMentions: Seq[Mention] = Nil,
      e1DocCount: Int = 0,
      e2DocCount: Int = 0,
      togetherCount: Int = 0)
  object EdgeCtx { val empty: EdgeCtx = EdgeCtx() }

  /** Map form of the edge features — used by TRAINING (needs
    * materialized vectors) and tests. The pipeline passes the SAME
    * memoized prep (incl. synthetic-link labels) to both the Map and the
    * fold path ([[scoreEdge]]) so hashed indices agree by construction.
    */
  def features(prep: SentencePrep, m1: Mention, m2: Mention,
      sameSentence: Boolean, sentDist: Int,
      ctx: EdgeCtx): Map[String, Double] = {
    val sink = new MapSink
    enumerate(prep, m1, m2, sameSentence, sentDist, ctx, sink)
    sink.out.toMap
  }

  /** Zero-materialization scoring: identical feature enumeration, each
    * feature folded straight into w·x — no map, no vector, no sort, and
    * no name: its index is the FNV-1a fold continued from the constant
    * prefix's precomputed state over the remaining parts. This is the
    * inference hot path; the score equals `model.score(hashFeats(
    * features(...)))` up to summation order.
    */
  def scoreEdge(model: LinearModel, prep: SentencePrep,
      m1: Mention, m2: Mention,
      sameSentence: Boolean, sentDist: Int,
      ctx: EdgeCtx = EdgeCtx.empty): Double = {
    val sink = new ScoreSink(model.w, model.b)
    enumerate(prep, m1, m2, sameSentence, sentDist, ctx, sink)
    sink.score
  }

  /** The lexicon of a conversation (by default of one prep): each distinct
    * word's [[Lexeme]], numbered in order of first use, and, per prefix p,
    * the memo of `p` + (a value of the word) by word id. Every per-token
    * value the parser's input and the feature names read is a function of
    * the word, so it is computed once per word per conversation. Keep it
    * per conversation: its memo arrays grow with the words it has seen.
    */
  final class Vocab {
    private val lexemes = scala.collection.mutable.HashMap.empty[String, Lexeme]
    def lexeme(w: String): Lexeme = lexemes.getOrElseUpdate(w, new Lexeme(lexemes.size, w))
    def stem(w: String): String = lexeme(w).stem
    private var memos = new Array[Array[Int]](0)
    /** By word id, 1 + the index of `p` + (a value of the word), 0 until folded. */
    def memo(p: Prefix): Array[Int] = {
      if (p.id >= memos.length) memos = Arrays.copyOf(memos, p.id + 32)
      val m = if (memos(p.id) == null) Array.emptyIntArray else memos(p.id)
      if (m.length < lexemes.size) memos(p.id) = Arrays.copyOf(m, 2 * lexemes.size)
      memos(p.id)
    }
  }

  /** What parsing and scoring read of one word: its [[DepGraph.coarsePos]]
    * (context-free; [[DepGraph.sentencePos]] applies the neighbour rules),
    * lowercase form, Porter stem (Porter.stem lowercases first, so this is
    * also the stem of `lower`), [[TextOps.maskedWord]], and whether it
    * counts in the bag of words by its lowercase form and by its stem
    * (not PUNCT, not a stopword).
    */
  final class Lexeme private[RelationScoring] (val id: Int, word: String) {
    val pos: String = DepGraph.coarsePos(word)
    val lower: String = word.toLowerCase
    val stem: String = Porter.stem(word)
    val masked: String = TextOps.maskedWord(word)
    val inBowText: Boolean = pos != "PUNCT" && !stopWords.contains(lower)
    val inBowStem: Boolean = pos != "PUNCT" && !stopWords.contains(stem)
  }

  /** Per-sentence values shared across all candidate pairs of the
    * sentence — the relational analogue of the reference's per-token
    * features (`relations/__init__.py:127-170`) and per-sentence graph
    * cache (`utils/graph.py:29-46`). With dense mentions (k per class) a
    * sentence yields O(k²) pairs; each value here is computed once.
    *
    * The per-token values are reads of each token's [[Lexeme]] in `vocab`
    * (one per conversation in the pipeline). [[SentencePrep.of]] resolves
    * the lexemes once and parses from their POS and lowercase forms; a
    * prep built by the constructor resolves them on first use. `pos`
    * (context-free) and `lower` are arrays: [[DepGraph.mainVerbs]],
    * [[DepGraph.entityHead]] and the labeler read them as such.
    * Each mention's token range and head are resolved once, by [[span]],
    * which needs `toks` offset-ascending (TextOps.segment, combined).
    *
    * Scoring folds each pair-independent name once, on first use: `vocab`
    * holds per-word indices, [[segments]] runs per entity side, span and
    * class; [[path]] reads one BFS tree per head.
    *
    * `heads(i)` is token i's dependency head (root points to itself);
    * `extraLabels` carries the labels of synthetic combined-sentence
    * links ([[SentencePrep.linkKey]] → label, `data.py:1617-1666`).
    */
  final class SentencePrep(val toks: IndexedSeq[Tok], val heads: Array[Int],
                           val adj: Array[List[Int]], val depth: Array[Int],
                           val extraLabels: Map[Long, String] = Map.empty,
                           sentPos: IndexedSeq[String] = null,
                           val vocab: Vocab = new Vocab,
                           lexemes: Array[Lexeme] = null) {
    import SentencePrep._
    /** Each token's [[Lexeme]] in `vocab`. */
    lazy val lex: Array[Lexeme] =
      if (lexemes != null) lexemes else toks.iterator.map(t => vocab.lexeme(t.word)).toArray
    lazy val pos: Array[String] = lex.map(_.pos)
    lazy val lower: Array[String] = lex.map(_.lower)
    def maskedBase(i: Int): String = lex(i).masked
    def stem(i: Int): String = lex(i).stem
    def inBowText(i: Int): Boolean = lex(i).inBowText
    def inBowStem(i: Int): Boolean = lex(i).inBowStem
    /** Rule-assigned dependency label of each token's edge to its head
      * (`token.features['dep']` in the reference) — shared by the PD edge
      * n-grams, the chain features and the negation test.
      */
    lazy val depLabels: Array[String] = DepGraph.depLabels(heads,
      if (sentPos != null) sentPos.toArray else DepGraph.sentencePos(toks, pos, lower), lower)
    // labeled-dependency form (`data.py:1106-1118`): odd # of `neg` deps
    lazy val negated: Boolean = DepGraph.isNegatedLabeled(depLabels)
    lazy val mainVerbStems: List[String] =
      DepGraph.mainVerbs(adj, DepGraph.root(heads), pos).map(stem(_)).toList
    // (Int, Int) keys packed into one Long: no tuple, no boxing on lookup
    private def key(a: Int, b: Int): Long = (a.toLong << 32) | (b & 0xffffffffL)
    private val spanCache = scala.collection.mutable.LongMap.empty[Span]
    def span(m: Mention): Span = spanCache.getOrElseUpdate(key(m.begin, m.end), {
      val (first, last) = DepGraph.tokenRange(toks, m.begin, m.end)
      Span(first, last, DepGraph.entityHead(depth, (first, last), pos))
    })
    private val trees = new Array[Array[Int]](adj.length)
    /** [[DepGraph.shortestPath]] from a to b as an array, read from a's BFS tree. */
    def path(a: Int, b: Int): Array[Int] = {
      if (trees(a) == null) trees(a) = DepGraph.bfsTree(adj, a)
      DepGraph.treePath(trees(a), a, b)
    }

    private var tablesFor: Seq[Mention] = null
    private var tables: MentionTables = null
    private val segs = scala.collection.mutable.HashMap.empty[(Int, Span, String), Array[Array[Int]]]
    /** The tables of `ms` (null if empty); another list (by identity)
      * rebuilds them and drops [[segments]], whose chain visits read them. */
    def mentionTables(ms: Seq[Mention]): MentionTables = {
      if (tablesFor ne ms) {
        tables = if (ms.isEmpty) null else new MentionTables(this, ms)
        tablesFor = ms
        segs.clear()
      }
      tables
    }
    /** Recorded indices of entity `side` (span `s`, class `cls`): slot 0
      * head surface, 1 own tokens, 2 + k the k-th chain visit. */
    def segments(side: Int, s: Span, cls: String): Array[Array[Int]] =
      segs.getOrElseUpdate((side, s, cls), new Array[Array[Int]](
        2 + (if (s.head >= 0) chainVisitsOf(s.head).length else 0)))

    /** children(i) = tokens whose head is i (excluding the root's
      * self-loop) — precomputed once so chain walks don't scan the heads
      * array per visit.
      */
    lazy val childrenOf: Array[Array[Int]] = {
      val counts = new Array[Int](heads.length)
      var i = 0
      while (i < heads.length) {
        if (heads(i) != i) counts(heads(i)) += 1
        i += 1
      }
      val out = Array.tabulate(heads.length)(j => new Array[Int](counts(j)))
      val fill = new Array[Int](heads.length)
      i = 0
      while (i < heads.length) {
        if (heads(i) != i) {
          val p = heads(i)
          out(p)(fill(p)) = i
          fill(p) += 1
        }
        i += 1
      }
      out
    }

    private val chainCache = scala.collection.mutable.HashMap.empty[Int, Array[ChainVisit]]
    def chainVisitsOf(start: Int): Array[ChainVisit] =
      chainCache.getOrElseUpdate(start, {
        val out = scala.collection.mutable.ArrayBuffer.empty[ChainVisit]
        def walk(t: Int, chain: String, depthLeft: Int): Unit = {
          if (depthLeft == 0) return
          val parent = if (t < heads.length) heads(t) else t
          if (parent != t) {
            out += ChainVisit(parent, depthLeft, fw = true, chain, depLabels(t))
            walk(parent, chain + "-fw", depthLeft - 1)
          }
          val kids = if (t < childrenOf.length) childrenOf(t) else Array.emptyIntArray
          var ci = 0
          while (ci < kids.length) {
            out += ChainVisit(kids(ci), depthLeft, fw = false, chain,
              depLabels(kids(ci)))
            walk(kids(ci), chain + "-rv", depthLeft - 1)
            ci += 1
          }
        }
        walk(start, "", 3)
        out.toArray
      })

    /** Dependency label of the edge (u, v): the rule-assigned label of
      * the edge's LOWER node for parser edges, the synthetic link's label
      * otherwise (`PathNode.edge_type`).
      */
    def edgeLabel(u: Int, v: Int): String =
      if (v < heads.length && heads(v) == u) depLabels(v)
      else if (u < heads.length && heads(u) == v) depLabels(u)
      else extraLabels.getOrElse(SentencePrep.linkKey(u, v), "user")
    /** Direction of the step u→v: "F" when u is v's head, "B" when v is
      * u's head (`PathNode.str_direction`); synthetic links read forward
      * in insertion (left-to-right) order.
      */
    def edgeDir(u: Int, v: Int): String =
      if (v < heads.length && heads(v) == u) "F"
      else if (u < heads.length && heads(u) == v) "B"
      else if (u < v) "F" else "B"
  }

  object SentencePrep {
    /** A mention's [[DepGraph.tokenRange]] and [[DepGraph.entityHead]]. */
    final case class Span(first: Int, last: Int, head: Int) {
      def contains(i: Int): Boolean = first <= i && i <= last
    }

    /** The pair-independent tables of a sentence's mentions: per token,
      * the class of the first mention containing it (null if none), and
      * the (class, mention count) list in class order. A prep keeps them
      * for the last mention list seen; every pair of a sentence passes it.
      */
    final class MentionTables(prep: SentencePrep, ms: Seq[Mention]) {
      val classOf: Array[String] = new Array[String](prep.toks.length)
      // in reverse, so the first mention containing a token writes last
      for (m <- ms.reverseIterator; s = prep.span(m); i <- s.first to s.last if i >= 0)
        classOf(i) = m.class_id
      val classCounts: Array[(String, Int)] =
        ms.groupBy(_.class_id).toArray.map { case (c, g) => (c, g.size) }.sortBy(_._1)
    }

    /** One step of an entity-head dependency chain walk
      * (`entityhead.py:264-281`): the visited token, remaining depth,
      * direction (true = -fw via the head, false = -rv via a child), the
      * chain string accumulated BEFORE this step, and the dependency
      * LABEL of the traversed edge (the reference's
      * `token.features['dep']` for upward steps, `dependency[1]` for
      * downward ones — both are the label of the edge's lower node).
      * Pair-independent — cached per start token and replayed per
      * candidate pair.
      */
    final case class ChainVisit(token: Int, depth: Int, fw: Boolean,
                                chain: String, label: String)

    /** Key of the synthetic link (u, v) in `extraLabels`: the two token
      * indices packed into one Long, smaller first.
      */
    def linkKey(u: Int, v: Int): Long =
      (math.min(u, v).toLong << 32) | math.max(u, v).toLong

    /** The parse of one sentence: each token's [[Lexeme]] resolved once in
      * `vocab`, one sentencePos pass over their POS and lowercase forms
      * shared by heads AND depLabels, the head assignment, its adjacency
      * and the BFS depths from its root.
      */
    def of(toks: IndexedSeq[Tok]): SentencePrep = of(toks, new Vocab)
    def of(toks: IndexedSeq[Tok], vocab: Vocab): SentencePrep = {
      val lex = toks.iterator.map(t => vocab.lexeme(t.word)).toArray
      val lower = lex.map(_.lower)
      val sp = DepGraph.sentencePos(toks, lex.map(_.pos), lower)
      val hs = DepGraph.heads(toks, sp, lower)
      val adj = DepGraph.adjacency(toks.length, hs)
      new SentencePrep(toks, hs, adj, DepGraph.depths(adj, DepGraph.root(hs)),
        sentPos = ArraySeq.unsafeWrapArray(sp), vocab = vocab, lexemes = lex)
    }
  }

  // compact English stopword list (NLTK-core subset) for the BOW
  // generators — self-contained, no external corpus
  private[graft] val stopWords: Set[String] = Set(
    "i", "me", "my", "we", "our", "you", "your", "he", "him", "his", "she",
    "her", "it", "its", "they", "them", "their", "what", "which", "who",
    "this", "that", "these", "those", "am", "is", "are", "was", "were",
    "be", "been", "being", "have", "has", "had", "do", "does", "did", "a",
    "an", "the", "and", "but", "if", "or", "because", "as", "until",
    "while", "of", "at", "by", "for", "with", "about", "against",
    "between", "into", "through", "during", "before", "after", "above",
    "below", "to", "from", "up", "down", "in", "out", "on", "off", "over",
    "under", "again", "further", "then", "once", "here", "there", "when",
    "where", "why", "how", "all", "any", "both", "each", "few", "more",
    "most", "other", "some", "such", "no", "nor", "not", "only", "own",
    "same", "so", "than", "too", "very", "can", "will", "just", "should",
    "now")

  /** Constant prefixes of entity side `n` (1 or 2): its head surface
    * (`hN_`), its own tokens (`eN_`) and its dependency chains
    * (`eN_..._d_`, indexed by the visit's remaining depth 1..3).
    */
  private final class SideNames(n: Int) {
    val headStem = new Prefix(s"h${n}_stem=")
    val headPos = new Prefix(s"h${n}_pos=")
    val headCap = new Prefix(s"h${n}_cap")
    val headDigits = new Prefix(s"h${n}_digits")
    val headPunct = new Prefix(s"h${n}_punct")
    val headGram: Array[Prefix] = Array.tabulate(4)(g => new Prefix(s"h${n}_${g}g="))
    val txt = new Prefix(s"e${n}_txt=")
    val pos = new Prefix(s"e${n}_pos=")
    val masked = new Prefix(s"e${n}_masked=")
    val stemMasked = new Prefix(s"e${n}_stem_masked=")
    val ann = new Prefix(s"e${n}_ann=")
    val marker = s"entity${n}_"
    private def byDepth(f: Int => String) = Array.tabulate(4)(d => new Prefix(f(d)))
    val depFrom: Array[Prefix] = byDepth(d => s"e${n}_dep_dist_${d}_from_")
    val depTo: Array[Prefix] = byDepth(d => s"e${n}_dep_dist_${d}_to_")
    val chain: Array[Prefix] = byDepth(d => s"e${n}_chain_dep_dist_${d}_")
    val distTxt: Array[Prefix] = byDepth(d => s"e${n}_dist_${d}_txt=")
    val distPos: Array[Prefix] = byDepth(d => s"e${n}_dist_${d}_pos=")
    val distMasked: Array[Prefix] = byDepth(d => s"e${n}_dist_${d}_masked=")
    val distAnnEntity: Array[Prefix] = byDepth(d => s"e${n}_dist_${d}_ann_entity")
    val distAnnType: Array[Prefix] = byDepth(d => s"e${n}_dist_${d}_ann_type=")
  }

  /** Constant prefixes of the `ld` or `pd` path: n-gram prefixes indexed
    * by n (1..4), token counts and negation.
    */
  private final class PathNames(name: String) {
    private def byN(kind: String) = Array.tabulate(5)(n => new Prefix(s"${name}_${kind}_${n}g="))
    val bow: Array[Prefix] = byN("bow")
    val pos: Array[Prefix] = byN("pos")
    val undir: Array[Prefix] = byN("undir")
    val dir: Array[Prefix] = byN("dir")
    val full: Array[Prefix] = byN("full")
    val tokensCount = new Prefix(name + "_tokens_count")
    val tokensCountNoPunct = new Prefix(name + "_tokens_count_nopunct")
    val isNegated = new Prefix(name + "_is_negated")
  }

  /** Intermediate-token prefixes: `it_fwd_`, `it_bkd_` or undirected `it_`. */
  private final class BetweenNames(dir: String) {
    val bow = new Prefix(s"it_${dir}bow=")
    val masked = new Prefix(s"it_${dir}masked=")
    val stem = new Prefix(s"it_${dir}stem=")
    val pos = new Prefix(s"it_${dir}pos=")
  }

  /** Every constant name and name prefix [[enumerate]] emits. */
  private object N {
    val Order = new Prefix("order=")
    val FOrder = new Prefix("f_order")
    val SameSent = new Prefix("same_sent")
    val SentDist = new Prefix("sent_dist=")
    val CountsInd = new Prefix("f_counts_ind=")
    val CountsTotal = new Prefix("f_counts_total")
    val CountsBet = new Prefix("f_counts_bet=")
    val CountsBetTotal = new Prefix("f_counts_bet_total")
    val Bow = new Prefix("f_bow=")
    val Pos = new Prefix("f_pos=")
    val TokensCount = new Prefix("f_tokens_count")
    val TokensBefore = new Prefix("f_tokens_count_before")
    val TokensAfter = new Prefix("f_tokens_count_after")
    val NBetween = new Prefix("n_between")
    val BowBet = new Prefix("bow_bet=")
    val SentNegated = new Prefix("sent_negated")
    val NoMainVerb = new Prefix("main_verb=NO_MAIN_VERB")
    val MainVerb = new Prefix("main_verb=")
    val Entity1Count = new Prefix("f_entity1_count")
    val Entity2Count = new Prefix("f_entity2_count")
    val Together = new Prefix("f_diff_sents_together_count")
    val TokDist = new Prefix("tok_dist")
    val TokDistGt5 = new Prefix("tok_dist_gt5")
    val Side1 = new SideNames(1)
    val Side2 = new SideNames(2)
    val ItFwd = new BetweenNames("fwd_")
    val ItBkd = new BetweenNames("bkd_")
    val It = new BetweenNames("")
    val NeCount = new Prefix("ne_count_")
    val BowText = new Prefix("bow_text=")
    val BowStem = new Prefix("bow_stem=")
    val NeBow = new Prefix("ne_bow=")
    val Ld = new PathNames("ld")
    val Pd = new PathNames("pd")
    val PdLen = new Prefix("pd_len")
    val PdTok = new Prefix("pd_tok=")
    val PdPos = new Prefix("pd_pos=")
    val PdVerb = new Prefix("pd_verb=")
    val PdUnreachable = new Prefix("pd_unreachable")
  }

  /** Single source of truth for the edge feature set; both the training
    * (Map) and inference (fold) paths stream through here, so hashed
    * indices agree by construction.
    *
    * Each feature reaches the sink as a constant [[Prefix]] (its FNV-1a
    * state precomputed in [[N]]) followed by its variable parts — tokens,
    * labels, class ids, counts and the `~` / `_` separators — so the
    * scoring path folds the name's hash without assembling it.
    * Pair-independent work (stems, mention token ranges and heads,
    * per-token mention classes, per-class mention counts, paths, chain
    * walks) lives in [[SentencePrep]].
    * Names no pair changes go through the sink's memos ([[NameSink]]),
    * except where a token lies in the other mention's span (its class masks
    * it); the pair's own names (order, counts between, distances, path
    * n-grams, `ne_bow=`) are folded per pair.
    */
  private def enumerate(
      prep: SentencePrep,
      m1: Mention, m2: Mention,
      sameSentence: Boolean, sentDist: Int,
      ctx: EdgeCtx, sink: NameSink): Unit = {

    val toks = prep.toks
    def add(p: Prefix, v: Double = 1.0): Unit = { sink.start(p); sink.emit(v) }
    def add2(p: Prefix, s: String, v: Double = 1.0): Unit = {
      sink.start(p); sink.part(s); sink.emit(v)
    }
    // '~'-joined n-gram of rendered(s until s + n)
    def gram(p: Prefix, rendered: Array[String], s: Int, n: Int): Unit = {
      sink.start(p)
      sink.part(rendered(s))
      var j = 1
      while (j < n) { sink.char('~'); sink.part(rendered(s + j)); j += 1 }
      sink.emit(1.0)
    }

    val s1 = prep.span(m1); val s2 = prep.span(m2)
    val h1 = s1.head; val h2 = s2.head
    def masked(i: Int): String =
      if (s1.contains(i)) m1.class_id else if (s2.contains(i)) m2.class_id else prep.maskedBase(i)
    val tables = prep.mentionTables(ctx.sentMentions)
    /** ann class of token i: the edge's entities first, then any other
      * sentence mention containing it (masked_text / ann_type semantics).
      */
    def annClass(i: Int): String =
      if (s1.contains(i)) m1.class_id
      else if (s2.contains(i)) m2.class_id
      else if (tables == null) null
      else tables.classOf(i)
    // a token's pair-independent name, memoized by word (id first: it may
    // add the prep's words); masked(i) is pair-independent off the spans
    def tokName(p: Prefix, i: Int, s: String): Unit = {
      val w = prep.lex(i).id
      sink.memoName(p, s, prep.vocab.memo(p), w)
    }
    def maskedName(p: Prefix, i: Int): Unit =
      if (s1.contains(i) || s2.contains(i)) add2(p, masked(i))
      else tokName(p, i, prep.maskedBase(i))
    val overlap = s1.first >= 0 && s2.first >= 0 && s1.first <= s2.last && s2.first <= s1.last
    val seg1 = prep.segments(1, s1, m1.class_id)
    val seg2 = prep.segments(2, s2, m2.class_id)

    // ==== SentenceFeatureGenerator (`relations/new/sentence.py`) ========
    sink.start(N.Order); sink.part(m1.class_id); sink.char('_'); sink.part(m2.class_id)
    sink.emit(1.0)
    if (m1.class_id < m2.class_id) add(N.FOrder)
    if (sameSentence) add(N.SameSent) else add2(N.SentDist, Integer.toString(sentDist))

    // entity counts in the edge's sentence(s) (`sentence.py:82-105`):
    // per class, individual = count - 1 (one is the edge's own entity)
    if (tables != null) {
      var total = 0
      tables.classCounts.foreach { case (cls, n) =>
        val ind = math.max(0, n - 1)
        total += ind
        add2(N.CountsInd, cls, ind.toDouble)
      }
      add(N.CountsTotal, total.toDouble)
      // entities strictly between the pair (char-span between the
      // earlier mention's end and the later one's begin), per class in
      // class order
      val (lo, hi) =
        if (m1.begin <= m2.begin) (m1.end, m2.begin) else (m2.end, m1.begin)
      var btotal = 0
      tables.classCounts.foreach { case (cls, _) =>
        val n = ctx.sentMentions.count(m => m.class_id == cls && m.begin >= lo && m.end <= hi)
        if (n > 0) {
          btotal += n
          add2(N.CountsBet, cls, n.toDouble)
        }
      }
      add(N.CountsBetTotal, btotal.toDouble)
    }

    // masked-lemma BOW + coarse POS of the whole (combined) sentence
    // (`sentence.py:111-113`)
    var ti = 0
    while (ti < toks.length) {
      maskedName(N.Bow, ti)
      tokName(N.Pos, ti, prep.pos(ti))
      ti += 1
    }
    add(N.TokensCount, toks.length.toDouble)
    if (s1.first >= 0) add(N.TokensBefore, s1.first.toDouble)
    if (s2.last >= 0) add(N.TokensAfter, (toks.length - 1 - s2.last).toDouble)

    val between = if (h1 >= 0 && h2 >= 0) {
      val lo = math.min(h1, h2); val hi = math.max(h1, h2)
      (lo + 1 until hi)
    } else 0 until 0
    add(N.NBetween, between.size.toDouble)
    between.foreach { i => maskedName(N.BowBet, i) }

    // sentence negation + main-verb lemmas (`sentence.py:127-138`)
    if (prep.negated) add(N.SentNegated)
    if (prep.mainVerbStems.isEmpty) add(N.NoMainVerb)
    else prep.mainVerbStems.foreach { v => add2(N.MainVerb, v) }

    // DOCUMENT-level (`sentence.py:140-171`): per-conversation norm-key
    // frequency of each entity, distinct-sentence co-occurrence count
    add(N.Entity1Count, ctx.e1DocCount.toDouble)
    add(N.Entity2Count, ctx.e2DocCount.toDouble)
    if (ctx.togetherCount > 0) add(N.Together, ctx.togetherCount.toDouble)

    // ==== LinearDistance / EntityOrder (`relations/context.py:5-73`) ====
    if (h1 >= 0 && h2 >= 0) {
      val d = math.abs(h1 - h2)
      add(N.TokDist, d.toDouble)
      if (d > 5) add(N.TokDistGt5)
    }

    // ==== Entity-head surface (`relations/entityhead.py:7-229`) =========
    // stem/POS + case/digit/punct flags and char 2/3-grams
    def headSurface(side: SideNames, hi: Int, seg: Array[Array[Int]]): Unit =
      if (hi >= 0 && !sink.replayed(seg, 0)) {
        val w = toks(hi).word
        add2(side.headStem, prep.stem(hi))
        add2(side.headPos, prep.pos(hi))
        if (w.nonEmpty && w.head.isUpper) add(side.headCap)
        if (w.exists(_.isDigit)) add(side.headDigits)
        if (w.contains('-') || w.contains('/')) add(side.headPunct)
        var n = 2
        while (n <= 3) {
          var i = 0
          while (i + n <= w.length) {
            sink.start(side.headGram(n)); sink.part(w, i, i + n); sink.emit(1.0)
            i += 1
          }
          n += 1
        }
        sink.recorded()
      }
    headSurface(N.Side1, h1, seg1)
    headSurface(N.Side2, h2, seg2)

    // per-token surface features of the entities' own tokens —
    // TokenFeatureGenerator.token_features (`relations/__init__.py:127-170`)
    // via the chain generator (`entityhead.py:252-260`): txt, pos, masked
    // text, stem of the masked text (the reference stems the mask — its
    // own TODO notes the oddity; mirrored), and annotated_types = the
    // token's entity class + entityK_class marker.
    def entityTokenFeats(side: SideNames, s: SentencePrep.Span, cls: String,
        seg: Array[Array[Int]]): Unit =
      if (s.first >= 0 && (overlap || !sink.replayed(seg, 1))) {
        var i = s.first
        while (i <= s.last) {
          tokName(side.txt, i, prep.lower(i))
          tokName(side.pos, i, prep.pos(i))
          add2(side.masked, masked(i))
          add2(side.stemMasked, prep.vocab.stem(masked(i)))
          add2(side.ann, cls)
          sink.start(side.ann); sink.part(side.marker); sink.part(cls); sink.emit(1.0)
          i += 1
        }
        if (!overlap) sink.recorded()
      }
    entityTokenFeats(N.Side1, s1, m1.class_id, seg1)
    entityTokenFeats(N.Side2, s2, m2.class_id, seg2)

    // ==== IntermediateTokens (`context.py:76-166`): tokens strictly
    // between the heads, directional (fwd when h1 < h2, bkd otherwise)
    // plus the undirected variants ================================
    if (h1 >= 0 && h2 >= 0) {
      val it = if (h1 < h2) N.ItFwd else N.ItBkd
      between.foreach { i =>
        tokName(it.bow, i, prep.lower(i))
        maskedName(it.masked, i)
        tokName(it.stem, i, prep.stem(i))
        tokName(it.pos, i, prep.pos(i))
        tokName(N.It.bow, i, prep.lower(i))
        maskedName(N.It.masked, i)
        tokName(N.It.stem, i, prep.stem(i))
        tokName(N.It.pos, i, prep.pos(i))
      }
    }

    // ==== NamedEntityCount (`relations/sentence.py:6-30`): count of
    // same-class entities in the edge's sentence(s), count in the name ==
    if (tables != null) tables.classCounts.foreach { case (cls, n) =>
      sink.start(N.NeCount); sink.part(cls); sink.char('_'); sink.part(Integer.toString(n))
      sink.emit(1.0)
    }

    // ==== BagOfWords / StemmedBagOfWords (`relations/sentence.py:33-113`)
    // sentence BOW minus stopwords/punct; per-entity-token word counts ==
    {
      val neCounts = scala.collection.mutable.HashMap.empty[String, Int]
      var i = 0
      while (i < toks.length) {
        val w = toks(i).word
        if (prep.inBowText(i)) {
          tokName(N.BowText, i, w)
          if (annClass(i) != null)
            neCounts.update(w, neCounts.getOrElse(w, 0) + 1)
        }
        if (prep.inBowStem(i))
          tokName(N.BowStem, i, prep.stem(i))
        i += 1
      }
      neCounts.toSeq.sortBy(_._1).foreach { case (w, c) =>
        add2(N.NeBow, w, c.toDouble)
      }
    }

    // ==== DependencyFeatureGenerator LD + PD (`new/dependency.py`) ======
    // LD: linear tokens from e1's last to e2's first (sorted by offset);
    // PD: shortest dependency path between the heads. Both emit masked-
    // lemma and POS n-grams 1..4 with [SOURCE/[TARGET] sentinels, token
    // counts ±punct and path negation; PD adds undirected/directed edge
    // n-grams and full n-grams (`utils/graphs.py` Path string algebra).
    def pathFeatures(names: PathNames, path: Array[Int], withEdges: Boolean): Unit = {
      if (path.length < 2) return
      val last = path.length - 1
      // render every per-node string ONCE (the n-grams below touch each
      // node up to 4× per kind on long linear paths)
      val bowR = new Array[String](path.length)
      val posR = new Array[String](path.length)
      var k = 0
      while (k <= last) {
        val i = path(k)
        bowR(k) = if (k == 0) "[S" else if (k == last) "T]" else masked(i)
        posR(k) = if (k == 0) "[S" else if (k == last) "T]" else prep.pos(i)
        k += 1
      }
      // token-only n-grams: n=1 over middle, n>1 over all nodes
      def tokenNGrams(grams: Array[Prefix], rendered: Array[String]): Unit = {
        var k = 1
        while (k < last) { gram(grams(1), rendered, k, 1); k += 1 }
        var n = 2
        while (n <= 4) {
          var s = 0
          while (s + n <= path.length) { gram(grams(n), rendered, s, n); s += 1 }
          n += 1
        }
      }
      tokenNGrams(names.bow, bowR)
      tokenNGrams(names.pos, posR)
      // counts + negation over the middle tokens
      val middle = path.slice(1, last)
      add(names.tokensCount, middle.length.toDouble)
      add(names.tokensCountNoPunct, middle.count(i => prep.pos(i) != "PUNCT").toDouble)
      if (DepGraph.isNegatedLower(middle.iterator.map(prep.lower(_))))
        add(names.isNegated)
      if (withEdges) {
        // edge n-grams over source+middle steps (PathNode.edge_type)
        val undR = new Array[String](last)
        val dirR = new Array[String](last)
        k = 0
        while (k < last) {
          val lbl = prep.edgeLabel(path(k), path(k + 1))
          undR(k) = lbl
          dirR(k) = lbl + "-" + prep.edgeDir(path(k), path(k + 1))
          k += 1
        }
        var n = 1
        while (n <= 4) {
          var s = 0
          while (s + n <= last) {
            gram(names.undir(n), undR, s, n)
            gram(names.dir(n), dirR, s, n)
            s += 1
          }
          n += 1
        }
        // full n-grams: token + directed edge per node (n=1 over
        // source+middle, n>1 over all nodes)
        val fullR = new Array[String](path.length)
        k = 0
        while (k <= last) {
          fullR(k) = if (k < last) bowR(k) + " " + dirR(k) else bowR(k)
          k += 1
        }
        k = 0
        while (k < last) { gram(names.full(1), fullR, k, 1); k += 1 }
        n = 2
        while (n <= 4) {
          var s = 0
          while (s + n <= path.length) { gram(names.full(n), fullR, s, n); s += 1 }
          n += 1
        }
      }
    }

    // LD path: e1-last .. e2-first in offset order (`dependency.py:163-168`)
    if (s1.first >= 0 && s2.first >= 0) {
      val (ldFrom, ldTo) =
        if (m1.begin <= m2.begin) (s1.last, s2.first) else (s2.last, s1.first)
      pathFeatures(N.Ld, Array.range(ldFrom, ldTo + 1), withEdges = false)
    }

    // PD path (`dependency.py:170`): shortest path between heads
    if (h1 >= 0 && h2 >= 0) {
      val path = prep.path(h1, h2)
      if (path.nonEmpty) {
        add(N.PdLen, path.length.toDouble)
        var k = 1
        while (k < path.length - 1) {
          val i = path(k)
          maskedName(N.PdTok, i)
          tokName(N.PdPos, i, prep.pos(i))
          if (prep.pos(i) == "VERB") tokName(N.PdVerb, i, prep.stem(i))
          k += 1
        }
        pathFeatures(N.Pd, path, withEdges = true)
      } else add(N.PdUnreachable)
    }

    // ==== Entity-head dependency chains, depth 3 (`entityhead.py:230-302`)
    // up = dependency_from (head), down = dependency_to (children); each
    // visited token contributes linear-order features (txt/pos/masked/
    // ann_type). Dep labels come from the deterministic rule set
    // (DepGraph.depLabels), mirroring the reference's
    // `from_<dep>` / `chain..-fw_<dep>` naming (`entityhead.py:264-281`).
    // the walk itself (pair-independent tree structure) is cached per
    // start token in SentencePrep and replayed here as a flat loop; visits
    // off the other mention's span are recorded per (side, span, class)
    def chainsFor(side: SideNames, start: Int, other: SentencePrep.Span,
        seg: Array[Array[Int]]): Unit = {
      if (start < 0) return
      val visits = prep.chainVisitsOf(start)
      var vi = 0
      while (vi < visits.length) {
        val v = visits(vi)
        val live = other.contains(v.token)
        if (live || !sink.replayed(seg, 2 + vi)) {
          val d = v.depth
          add2(if (v.fw) side.depFrom(d) else side.depTo(d), v.label)
          sink.start(side.chain(d)); sink.part(v.chain)
          sink.part(if (v.fw) "-fw_" else "-rv_"); sink.part(v.label)
          sink.emit(1.0)
          val i = v.token
          tokName(side.distTxt(d), i, prep.lower(i))
          tokName(side.distPos(d), i, prep.pos(i))
          maskedName(side.distMasked(d), i)
          val ac = annClass(i)
          if (ac != null) {
            add(side.distAnnEntity(d))
            add2(side.distAnnType(d), ac)
          }
          if (!live) sink.recorded()
        }
        vi += 1
      }
    }
    chainsFor(N.Side1, h1, s2, seg1)
    chainsFor(N.Side2, h2, s1, seg2)
  }

  // ==== Distributed doc-level count aggregations (declarative route) ====

  /** Per-(conv, class, norm-key) mention counts — the distributed form of
    * the doc-level `f_entity{1,2}_count` (`sentence.py:140-154`), as the
    * SALTED two-phase groupBy + join-back the north_rule names: phase 1
    * aggregates within (key, salt) buckets so one hot surface form never
    * pins a single reducer, phase 2 merges the partials. Join the result
    * back to edges on (conv_id, class_id, norm).
    */
  def docEntityCounts(mentions: Dataset[Mention], salts: Int = 16): DataFrame = {
    import mentions.sparkSession.implicits._
    mentions.toDF()
      .withColumn("salt", pmod(xxhash64($"turn_idx", $"begin"), lit(salts)))
      .groupBy($"conv_id", $"class_id", $"norm", $"salt")
      .agg(count(lit(1)).as("n_p"))
      .groupBy($"conv_id", $"class_id", $"norm")
      .agg(sum($"n_p").cast("long").as("n_doc"))
  }

  /** Per-(conv, ordered norm-key pair) DISTINCT-sentence co-occurrence
    * counts — the distributed `f_diff_sents_together_count`
    * (`sentence.py:156-171`): same-sentence candidate pairs, deduped per
    * sentence, then counted per pair key.
    */
  def pairSentenceCounts(mentions: Dataset[Mention],
                         class1: String, class2: String): DataFrame = {
    val m = mentions.toDF()
    val a = m.filter(col("class_id") === class1)
      .select(col("conv_id"), col("turn_idx"), col("sent_idx"),
        col("norm").as("norm1"))
    val b = m.filter(col("class_id") === class2)
      .select(col("conv_id").as("conv_id2"), col("turn_idx").as("turn_idx2"),
        col("sent_idx").as("sent_idx2"), col("norm").as("norm2"))
    a.join(b, col("conv_id") === col("conv_id2") &&
        col("turn_idx") === col("turn_idx2") &&
        col("sent_idx") === col("sent_idx2"))
      .select(col("conv_id"),
        when(lit(class1) < lit(class2), concat_ws("|", col("norm1"), col("norm2")))
          .otherwise(concat_ws("|", col("norm2"), col("norm1"))).as("pair_key"),
        col("turn_idx"), col("sent_idx"))
      .distinct()
      .groupBy("conv_id", "pair_key")
      .agg(count(lit(1)).cast("long").as("n_sents_together"))
  }

  /** A hashed training example as a Dataset row (arrays encode natively). */
  final case class TrainRow(idx: Array[Int], value: Array[Double], label: Int)

  /** DISTRIBUTED training via iterative parameter mixing
    * ([[ParameterMixing]]; McDonald, Hall & Mann 2010): every partition
    * runs warm-started local Pegasos epochs ([[trainFrom]]) over its
    * shard, and the partition models are averaged into the next round's
    * model (no collect of the data; only nPartitions × |w| floats move).
    * Empty input returns the zero model. The driver-local [[train]]
    * remains the default at sample scale (the reference trains
    * single-node, `sklsvm.py:44-55`); this is the path when the edge set
    * itself is cluster-sized.
    */
  def trainDistributed(data: Dataset[TrainRow], rounds: Int = 3,
                       epochsPerRound: Int = 3, lambda: Double = 1e-4,
                       seed: Long = 2727L): LinearModel = {
    import data.sparkSession.implicits._
    ParameterMixing.train(data, LinearModel(new Array[Double](Dims), 0.0), rounds, seed) {
      (model: LinearModel, rows, s) =>
        val m = trainFrom(model, rows.map(tr => (Feats(tr.idx, tr.value), tr.label)),
          epochsPerRound, lambda, s)
        (m.w, m.b)
    } { parts =>
      val n = parts.length
      LinearModel(ParameterMixing.mean(parts.map(p => ArraySeq.unsafeWrapArray(p._1)), Dims, n),
        ParameterMixing.mean(parts.map(p => Seq(p._2)), 1, n)(0))
    }
  }

  def hashFeats(m: Map[String, Double]): Feats = {
    val grouped = m.toSeq.map { case (k, v) => (h(k), v) }
      .groupBy(_._1).map { case (i, vs) => (i, vs.map(_._2).sum) }
      .toArray.sortBy(_._1)
    Feats(grouped.map(_._1), grouped.map(_._2))
  }

  /** Linear model w·x + b. */
  final case class LinearModel(w: Array[Double], b: Double) {
    def score(f: Feats): Double = {
      var s = b
      var i = 0
      while (i < f.idx.length) { s += w(f.idx(i)) * f.value(i); i += 1 }
      s
    }
  }

  /** Driver-local Pegasos-style SVM training (hinge loss, L2, seeded
    * deterministic). The reference also trains single-node
    * (`sklsvm.py:44-55` on one collected scipy matrix); at scale you
    * sample-train and broadcast-score.
    */
  def train(data: Seq[(Feats, Int)], epochs: Int = 10, lambda: Double = 1e-4,
            seed: Long = 2727L): LinearModel =
    trainFrom(LinearModel(new Array[Double](Dims), 0.0), data, epochs, lambda, seed)

  /** Warm-start form — the unit of distributed parameter mixing. */
  def trainFrom(init: LinearModel, data: Seq[(Feats, Int)], epochs: Int,
                lambda: Double, seed: Long): LinearModel = {
    // w kept as scale*v so the per-step L2 shrink is O(1), updates O(nnz)
    val v = java.util.Arrays.copyOf(init.w, Dims)
    var scale = 1.0
    var b = init.b
    val rng = new scala.util.Random(seed)
    var t = 2 // start at 2 so eta*lambda < 1
    (1 to epochs).foreach { _ =>
      rng.shuffle(data.indices.toVector).foreach { di =>
        val (f, y) = data(di)
        val eta = 1.0 / (lambda * t)
        var s = b
        var i = 0
        while (i < f.idx.length) { s += scale * v(f.idx(i)) * f.value(i); i += 1 }
        scale *= (1.0 - eta * lambda)
        if (scale < 1e-9) { // renormalize to keep v in range
          i = 0
          while (i < v.length) { v(i) *= scale; i += 1 }
          scale = 1.0
        }
        if (y * s < 1.0) {
          i = 0
          while (i < f.idx.length) { v(f.idx(i)) += eta * y * f.value(i) / scale; i += 1 }
          b += eta * y * 0.01
        }
        t += 1
      }
    }
    LinearModel(v.map(_ * scale), b)
  }
}
