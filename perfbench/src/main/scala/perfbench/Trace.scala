package perfbench

import scala.collection.mutable
import graft.model.{Mention, Tok, Turn}
import graft.nlp.{DepGraph, TextOps}
import graft.ops.{KgPipeline, RelationScoring}

/** In-memory spans: name, start, end, parent span and trace id (one trace
  * per conversation or per stage chain). `Tracer.Off` runs the same code
  * without recording, so the two differ only by the cost of tracing.
  */
trait Tracer {
  def span[T](name: String)(f: => T): T
  def trace(id: Int): Unit = ()
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(f: => T): T = f
  }
}

final class Recorder extends Tracer {
  private val nameIds = mutable.LinkedHashMap.empty[String, Int]
  private val name = mutable.ArrayBuilder.make[Int]
  private val start = mutable.ArrayBuilder.make[Long]
  private val parent = mutable.ArrayBuilder.make[Int]
  private val traceOf = mutable.ArrayBuilder.make[Int]
  private val ends = mutable.ArrayBuffer.empty[Long]
  private var n = 0
  private var current = -1
  private var traceId = 0

  override def trace(id: Int): Unit = traceId = id

  def span[T](nm: String)(f: => T): T = {
    val id = n
    n += 1
    name += nameIds.getOrElseUpdate(nm, nameIds.size)
    parent += current
    traceOf += traceId
    ends += 0L
    val saved = current
    current = id
    val t0 = System.nanoTime()
    start += t0
    try f
    finally {
      ends(id) = System.nanoTime()
      current = saved
    }
  }

  /** Add a span measured elsewhere (wall-clock stage boundaries). */
  def add(nm: String, startNs: Long, endNs: Long, parentId: Int): Int = {
    val id = n
    n += 1
    name += nameIds.getOrElseUpdate(nm, nameIds.size)
    parent += parentId
    traceOf += traceId
    start += startNs
    ends += endNs
    id
  }

  def size: Int = n

  /** Self time per span name: duration minus the time its direct
    * children cover (children never overlap their parent's siblings:
    * the replay is single-threaded).
    */
  def selfSeconds: Map[String, Double] = {
    val nm = name.result(); val st = start.result(); val pa = parent.result()
    val dur = Array.tabulate(n)(i => ends(i) - st(i))
    val self = dur.clone()
    var i = 0
    while (i < n) { if (pa(i) >= 0) self(pa(i)) -= dur(i); i += 1 }
    val names = nameIds.toVector.sortBy(_._2).map(_._1)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    i = 0
    while (i < n) { out(names(nm(i))) += self(i) / 1e9; i += 1 }
    out.toMap.withDefaultValue(0.0)
  }

  def writeJson(path: String, meta: String): Unit = {
    val nm = name.result(); val st = start.result(); val pa = parent.result()
    val tr = traceOf.result()
    val t0 = if (n == 0) 0L else st.min
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.print(s"""{$meta,"fields":["name","start_ns","end_ns","parent","trace"],"names":""")
      w.print(nameIds.toVector.sortBy(_._2).map(p => "\"" + p._1 + "\"").mkString("[", ",", "]"))
      w.print(""","spans":[""")
      var i = 0
      while (i < n) {
        if (i > 0) w.print(',')
        w.print(s"[${nm(i)},${st(i) - t0},${ends(i) - t0},${pa(i)},${tr(i)}]")
        i += 1
      }
      w.print("]}\n")
    } finally w.close()
  }
}

/** Single-threaded replay of the fused extractor over one conversation at
  * a time, through each layer's public functions, with spans around the
  * calls: `TextOps.segment`, the tagger closure, the `DepGraph` parse,
  * `KgPipeline.foreachCandidate` (tagger, skipKey and emit callbacks
  * wrapped) and `RelationScoring.scoreEdge`.
  *
  * `foreachCandidate` runs with `scorer = None`; the replay scores each
  * emitted pair itself, with the sentence preparation it parsed up front,
  * under the same positive-key short-circuit as `processConversation`.
  * `foreachCandidate` also segments and parses internally; that internal
  * re-execution cannot be hooked from outside and counts in its self time.
  */
final class Replay(cfg: KgPipeline.Config, gaz: Map[String, String],
    scorer: Option[RelationScoring.LinearModel]) {

  val counts: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val convMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  private val baseTagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] =
    toks => toks.flatMap(t => gaz.get(t.word.toLowerCase).map(cls => (cls, t.begin, t.end)))

  /** Keys the replay predicts for one conversation. */
  def conversation(convId: String, turns: Seq[Turn], tr: Tracer): Set[String] = {
    val t0 = System.nanoTime()
    val sorted = turns.sortBy(_.turn_idx).distinctBy(_.turn_idx)
    // (turn_idx, sent_idx, turn text, tokens), in foreachCandidate's order
    val sents = mutable.ArrayBuffer.empty[(Int, Int, String, IndexedSeq[Tok])]
    sorted.foreach { t =>
      val segs = tr.span("textops.segment")(TextOps.segment(t.text, cfg.tokenizer))
      segs.foreach { case (si, _, _, toks) => sents += ((t.turn_idx, si, t.text, toks)) }
    }
    counts("textops.sentences") += sents.length
    counts("textops.tokens") += sents.iterator.map(_._4.length).sum
    val slot = sents.indices.map(i => (sents(i)._1, sents(i)._2) -> i).toMap
    val preps = sents.map { case (_, _, _, toks) =>
      tr.span("depgraph.parse") {
        val sp = DepGraph.sentencePos(toks)
        val hs = DepGraph.heads(toks, sp)
        val adj = DepGraph.adjacency(toks.length, hs)
        val root = hs.indices.find(i => hs(i) == i).getOrElse(0)
        new RelationScoring.SentencePrep(toks, hs, adj, DepGraph.depths(adj, root),
          sentPos = sp)
      }
    }
    counts("depgraph.sentences") += sents.length

    // the k-th tagger call tags the k-th sentence
    val mentions = mutable.ArrayBuffer.empty[Seq[Mention]]
    val tagger: IndexedSeq[Tok] => Seq[(String, Int, Int)] = toks =>
      tr.span("tagger.tag") {
        val tags = baseTagger(toks)
        val (ti, si, text, _) = sents(mentions.length)
        mentions += tags.map { case (cls, b, e) =>
          Mention(convId, ti, si, cls, b, e, text.substring(b, e), 1.0,
            TextOps.normKey(text.substring(b, e)))
        }
        tags
      }

    lazy val docCounts: Map[(String, String), Int] =
      mentions.iterator.flatten.toSeq.groupBy(m => (m.class_id, m.norm))
        .map { case (k, v) => k -> v.size }
    lazy val together: Map[String, Int] = {
      val sentsOf = mutable.HashMap.empty[String, mutable.Set[(Int, Int)]]
      mentions.indices.foreach { i =>
        val ms = mentions(i)
        val n1 = ms.filter(_.class_id == cfg.class1).map(_.norm).distinct
        val n2 = ms.filter(_.class_id == cfg.class2).map(_.norm).distinct
        for (a <- n1; b <- n2) {
          val key = if (cfg.class1 < cfg.class2) s"$a|$b" else s"$b|$a"
          sentsOf.getOrElseUpdate(key, mutable.Set.empty) += ((sents(i)._1, sents(i)._2))
        }
      }
      sentsOf.map { case (k, v) => k -> v.size }.toMap
    }
    val crossMemo = mutable.HashMap.empty[(Int, Int), (RelationScoring.SentencePrep, Int, Seq[Mention])]
    def cross(i1: Int, i2: Int) = crossMemo.getOrElseUpdate((i1, i2),
      tr.span("kgpipeline.cross_ctx") {
        counts("kgpipeline.cross_ctx") += 1
        val c = KgPipeline.combined(sents(i1)._4, sents(i2)._4, preps(i1).heads, preps(i2).heads)
        val prep = new RelationScoring.SentencePrep(c.toks, c.heads, c.adj, c.depth, c.extraLabels)
        val ms = mentions(i1) ++ mentions(i2).map(m =>
          m.copy(begin = m.begin + c.delta, end = m.end + c.delta))
        (prep, c.delta, ms)
      })

    val positive = mutable.HashSet.empty[String]
    val skipKey: String => Boolean = k => tr.span("kgpipeline.skipKey") {
      val s = positive.contains(k)
      if (s) counts("kgpipeline.pairs_skipped") += 1
      s
    }
    tr.span("kgpipeline.foreachCandidate") {
      KgPipeline.foreachCandidate(convId, turns, cfg, tagger, withFeatures = false,
        scorer = None, skipKey = skipKey) { c =>
        tr.span("kgpipeline.emit") {
          counts("kgpipeline.pairs") += 1
          val score = scorer match {
            case None => 1.0
            case Some(lm) =>
              val i1 = slot((c.m1.turn_idx, c.m1.sent_idx))
              val (prep, m2, sentMs) =
                if (c.sameSentence) (preps(i1), c.m2, mentions(i1))
                else {
                  val (p, delta, ms) = cross(i1, slot((c.m2.turn_idx, c.m2.sent_idx)))
                  (p, c.m2.copy(begin = c.m2.begin + delta, end = c.m2.end + delta), ms)
                }
              val pairKey =
                if (cfg.class1 < cfg.class2) s"${c.m1.norm}|${c.m2.norm}"
                else s"${c.m2.norm}|${c.m1.norm}"
              val ctx = RelationScoring.EdgeCtx(sentMs,
                docCounts.getOrElse((c.m1.class_id, c.m1.norm), 0),
                docCounts.getOrElse((c.m2.class_id, c.m2.norm), 0),
                together.getOrElse(pairKey, 0))
              counts("relationscoring.edges_scored") += 1
              tr.span("relationscoring.scoreEdge") {
                RelationScoring.scoreEdge(lm, prep, c.m1, m2, c.sameSentence, c.sentDist, ctx)
              }
          }
          if (score > 0) positive += c.key
        }
      }
    }
    counts("tagger.mentions") += mentions.iterator.map(_.length).sum
    counts("kgpipeline.keys") += positive.size
    counts("replay.turns") += sorted.length
    convMs += (System.nanoTime() - t0) / 1e6
    positive.toSet
  }
}
