package graft.nlp

import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Tok
import graft.ops.GazetteerTagger

/** Pins the rule parser's output on seeded random sentences: for each
  * function, the number of values it produced and a SHA-256 prefix of
  * their rendering. The sentences mix the gazetteer and documents
  * vocabularies with the shapes the rules special-case (mixed case,
  * digits, hyphens, parentheses, `to` + noun, `-ing` + a binding
  * preposition, capitalised mid-sentence verbs, auxiliaries), and each
  * text is tokenized by both tokenizers. A change to the parser that
  * moves any tag, head, label, main verb or entity head changes a pin.
  */
class ParsePinSpec extends AnyFunSuite {

  private val docsVocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
    "a", "scan", "batch", "dup")
  private val shapes = Vector("Spark", "CYO1", "CpNifS", "snoRNA", "At3g47390", "PyrR",
    "42", "3.5", "1,000", "2x", "-", "Fe-S", "ubiquitin-dependent", "(", ")", ",", ".",
    "to", "membrane", "induce", "mitochondria", "nucleoli", "transport", "determine",
    "targeting", "silencing", "of", "in", "for", "with", "Binds", "Regulates", "Located",
    "Saccharomyces", "was", "is", "are", "may", "have", "been", "be", "found", "taken",
    "located", "shown", "that", "and", "or", "not", "never", "very", "quickly", "also",
    "active", "important", "phosphate", "family", "analysis", "factors", "showed", "calls",
    "reads", "updates", "activates", "protein", "up", "out")
  private val stems = Vector("phos", "regul", "bind", "act", "mark", "transl", "deriv", "stab")
  private val suffixes = Vector("", "s", "ed", "ing", "ly", "ate", "izes", "ify", "tion",
    "al", "ic", "ive", "ors", "sis", "ment", "ase", "ules", "a", "i", "o")

  private def word(rng: scala.util.Random): String = rng.nextInt(10) match {
    case 0 | 1 | 2 => docsVocab(rng.nextInt(docsVocab.size))
    case 3 => GazetteerTagger.gazetteer.keys.toVector.sorted.apply(rng.nextInt(8))
    case 4 | 5 =>
      val w = stems(rng.nextInt(stems.size)) + suffixes(rng.nextInt(suffixes.size))
      if (rng.nextInt(4) == 0) w.capitalize else w
    case _ => shapes(rng.nextInt(shapes.size))
  }

  /** 300 texts of 1-3 sentences, each sentence 2-24 words. */
  private val texts: Vector[String] = {
    val rng = new scala.util.Random(1207)
    Vector.fill(300) {
      Vector.fill(1 + rng.nextInt(3)) {
        Vector.fill(2 + rng.nextInt(23))(word(rng)).mkString(" ") + " ."
      }.mkString(" ")
    }
  }

  private val sentences: Vector[IndexedSeq[Tok]] =
    for (tok <- Vector("generic", "tmvar"); t <- texts;
         (_, _, _, toks) <- TextOps.segment(t, tok) if toks.nonEmpty) yield toks

  private def pin(lines: Iterator[Seq[Any]]): (Int, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    var n = 0
    lines.foreach { l =>
      n += l.length
      md.update((l.mkString(" ") + "\n").getBytes("UTF-8"))
    }
    (n, md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  import ParsePinSpec.Parse
  private lazy val parses = sentences.map { toks =>
    val hs = DepGraph.heads(toks)
    val adj = DepGraph.adjacency(toks.length, hs)
    Parse(toks, hs, adj, DepGraph.depths(adj, DepGraph.root(hs)))
  }

  test("the test sentences cover the shapes the rules special-case") {
    val n = sentences.length
    assert(n == 1288)
    val words = sentences.flatten.map(_.word).toSet
    Seq("CYO1", "42", "-", "(", "to", "targeting", "Binds", "table", "was").foreach(w =>
      assert(words.contains(w), w))
  }

  test("sentencePos pin") {
    assert(pin(sentences.iterator.map(DepGraph.sentencePos)) == ((18030, "d39e72fd1fa1c550")))
  }

  test("heads pin, also given the tags") {
    assert(pin(parses.iterator.map(_.heads.toSeq)) == ((18030, "ac66521d389ddbed")))
    assert(sentences.forall(t => DepGraph.heads(t, DepGraph.sentencePos(t)).sameElements(DepGraph.heads(t))))
  }

  test("depLabels pin") {
    assert(pin(parses.iterator.map(p => DepGraph.depLabels(p.toks, p.heads).toSeq)) == ((18030, "6b6a668ca9e7e880")))
  }

  test("mainVerbs pin, from the root and from every token") {
    assert(pin(parses.iterator.map(p =>
      DepGraph.mainVerbs(p.toks, p.adj, DepGraph.root(p.heads)))) == ((1060, "3a0cae91fab78d9e")))
    assert(pin(parses.iterator.flatMap(p =>
      p.toks.indices.map(r => DepGraph.mainVerbs(p.toks, p.adj, r) :+ -1))) == ((35493, "8e1b8fc956ae9505")))
  }

  test("entityHead pin over every token span") {
    assert(pin(parses.iterator.map(p =>
      for (a <- p.toks.indices; b <- a until p.toks.length)
        yield DepGraph.entityHead(p.toks, p.depth, (a, b)))) == ((170740, "e1de663601f0ae83")))
  }
}

object ParsePinSpec {
  final case class Parse(toks: IndexedSeq[Tok], heads: Array[Int],
      adj: Array[List[Int]], depth: Array[Int])
}
