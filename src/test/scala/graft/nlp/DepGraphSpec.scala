package graft.nlp

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Tok

/** Port of the reference's shortest-path property suite
  * (tests/utils/test_graphs.py:154-212): dist(u,u)=0, symmetry,
  * adjacency ⇒ dist 1, path reversal, BFS ≡ Floyd-Warshall — over the
  * deterministic rule-parser graphs of seeded random sentences.
  */
class DepGraphSpec extends AnyFunSuite {

  private def randomSentence(rng: scala.util.Random): IndexedSeq[Tok] = {
    val vocab = Vector("the", "service", "calls", "db", "reads", "table",
      "fast", "updates", "cache", "is", "slow", ",", ".")
    val n = 3 + rng.nextInt(10)
    var off = 0
    (0 until n).map { i =>
      val w = vocab(rng.nextInt(vocab.size))
      val t = Tok(i, w, off, off + w.length)
      off += w.length + 1
      t
    }
  }

  test("path properties hold on 100 seeded random sentences") {
    val rng = new scala.util.Random(2727)
    (1 to 100).foreach { _ =>
      val toks = randomSentence(rng)
      val n = toks.length
      val heads = DepGraph.heads(toks)
      val adj = DepGraph.adjacency(n, heads)
      val fw = DepGraph.allPairs(adj)
      for (u <- 0 until n) {
        assert(fw(u)(u) == 0)
        assert(DepGraph.shortestPath(adj, u, u) == Vector(u))
        adj(u).foreach(v => assert(fw(u)(v) == 1))
        for (v <- 0 until n) {
          assert(fw(u)(v) == fw(v)(u)) // symmetry
          val p = DepGraph.shortestPath(adj, u, v)
          val q = DepGraph.shortestPath(adj, v, u)
          // BFS length ≡ Floyd-Warshall distance
          if (fw(u)(v) < Int.MaxValue / 8) {
            assert(p.length - 1 == fw(u)(v), s"u=$u v=$v")
            assert(p.length == q.length)
            // endpoints mirror (paths may differ in the middle on ties,
            // like Dijkstra vs FW in the reference)
            assert(p.head == q.last && p.last == q.head)
          } else assert(p.isEmpty)
        }
      }
      // the dependency tree is connected: all depths reachable
      val root = heads.indices.find(i => heads(i) == i).getOrElse(0)
      assert(DepGraph.depths(adj, root).forall(_ >= 0))
    }
  }

  test("BFS-tree paths == shortestPath for every ordered pair, combined contexts included") {
    import graft.ops.{KgPipeline, RelationScoring}
    val rng = new scala.util.Random(2727)
    val sents = (1 to 100).map(_ => randomSentence(rng))
    val heads = sents.map(DepGraph.heads)
    var unreachable = 0
    def check(toks: IndexedSeq[Tok], adj: Array[List[Int]]): Unit = {
      val prep = new RelationScoring.SentencePrep(toks, Array.tabulate(toks.length)(i => i), adj,
        Array.fill(toks.length)(0))
      for (u <- adj.indices) {
        val tree = DepGraph.bfsTree(adj, u)
        for (v <- adj.indices) {
          val p = DepGraph.shortestPath(adj, u, v)
          assert(DepGraph.treePath(tree, u, v).toVector == p, s"u=$u v=$v")
          assert(prep.path(u, v).toVector == p, s"u=$u v=$v")
          if (p.isEmpty) unreachable += 1
        }
      }
    }
    sents.indices.foreach { i =>
      check(sents(i), DepGraph.adjacency(sents(i).length, heads(i)))
      if (i > 0) {
        val (a, b) = (i - 1, i)
        val c = KgPipeline.combined(sents(a), sents(b), heads(a), heads(b))
        check(c.toks, c.adj)
        // the two parses side by side without the combined links: no
        // path joins them
        check(c.toks, DepGraph.adjacency(c.toks.length, c.heads))
      }
    }
    assert(unreachable > 0)
  }

  test("entity head: minimum-depth noun, first wins") {
    val toks = IndexedSeq(Tok(0, "svc_a", 0, 5), Tok(1, "calls", 6, 11),
      Tok(2, "the", 12, 15), Tok(3, "db", 16, 18), Tok(4, ".", 18, 19))
    val heads = DepGraph.heads(toks)
    val adj = DepGraph.adjacency(toks.length, heads)
    val root = heads.indices.find(i => heads(i) == i).get
    val depth = DepGraph.depths(adj, root)
    assert(DepGraph.entityHead(toks, depth, DepGraph.tokenRange(toks, 12, 18)) == 3) // "the db" → db? both nouns, min depth
    assert(DepGraph.entityHead(toks, depth, DepGraph.tokenRange(toks, 0, 5)) == 0)
  }

  test("negation: odd count of negation tokens") {
    def toks(ws: String*) = ws.zipWithIndex.map { case (w, i) => Tok(i, w, i * 10, i * 10 + w.length) }.toIndexedSeq
    assert(DepGraph.isNegated(toks("this", "is", "not", "fine")))
    assert(!DepGraph.isNegated(toks("this", "is", "fine")))
    assert(!DepGraph.isNegated(toks("not", "never", "ok"))) // double negation
  }

  test("main verbs: first verb layer from root") {
    val toks = IndexedSeq(Tok(0, "svc_a", 0, 5), Tok(1, "calls", 6, 11),
      Tok(2, "db", 12, 14), Tok(3, ".", 14, 15))
    val heads = DepGraph.heads(toks)
    val adj = DepGraph.adjacency(toks.length, heads)
    val root = heads.indices.find(i => heads(i) == i).get
    assert(DepGraph.mainVerbs(toks, adj, root) == Seq(root))
    assert(DepGraph.coarsePos(toks(root).word) == "VERB")
  }
}
