package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Tok
import graft.nlp.{DepGraph, Porter, TextOps}
import RelationScoring.{SentencePrep, Vocab}

/** The per-conversation lexicon holds, per word, exactly what the direct
  * functions give for that word, and a prep reads its tokens' values from it.
  */
class LexiconSpec extends AnyFunSuite {

  private val chars = "abcdefghijklmnopqrstuvwxyzAEIOUTSXZ0123456789-.,()'/é١İ"
  private val words: Vector[String] = {
    val rng = new scala.util.Random(1109)
    val random = Vector.fill(400)(Vector.fill(1 + rng.nextInt(9))(chars(rng.nextInt(chars.length))).mkString)
    val known = Vector("CpNifS", "snoRNA", "At3g47390", "The", "AND", "is", "Doing", "targeting",
      "Located", "phosphate", "1,000", "3.5", "42", "to", "Spark", "table", "(", "-")
    // every casing of each word, in a shuffled order: a lexicon keyed on
    // anything but the exact word mixes them up
    val all = (random ++ known).flatMap(w => Seq(w, w.toLowerCase, w.toUpperCase, w.capitalize))
    rng.shuffle(all ++ Seq("", "١"))
  }

  test("each lexeme field equals the direct function of its word") {
    val vocab = new Vocab
    words.foreach { w =>
      val l = vocab.lexeme(w)
      val pos = DepGraph.coarsePos(w)
      assert(l.pos == pos, w)
      assert(l.lower == w.toLowerCase, w)
      assert(l.masked == TextOps.maskedWord(w), w)
      assert(l.stem == Porter.stem(w), w)
      assert(l.inBowText == (pos != "PUNCT" && !RelationScoring.stopWords.contains(w.toLowerCase)), w)
      assert(l.inBowStem == (pos != "PUNCT" && !RelationScoring.stopWords.contains(Porter.stem(w))), w)
      assert(vocab.lexeme(w) eq l, w)
    }
    val distinct = words.distinct
    assert(distinct.map(vocab.lexeme(_).id).sorted == distinct.indices)
    // the sample reaches the cases a looser key would get wrong
    assert(distinct.exists(w => DepGraph.coarsePos(w) != DepGraph.coarsePos(w.toLowerCase)))
    assert(distinct.exists(w => TextOps.maskedWord(w) == "NUM"))
    assert(Seq(true, false).forall(b => distinct.exists(vocab.lexeme(_).inBowText == b)))
    assert(distinct.exists(w => vocab.lexeme(w).inBowText != vocab.lexeme(w).inBowStem))
  }

  test("a prep's per-token values are its words' lexemes, from a shared or a fresh lexicon") {
    val rng = new scala.util.Random(1110)
    val shared = new Vocab
    (1 to 50).foreach { _ =>
      var off = 0
      val toks = (0 until 1 + rng.nextInt(20)).map { i =>
        val w = words(rng.nextInt(words.length))
        val t = Tok(i, w, off, off + w.length)
        off += w.length + 1
        t
      }
      for (prep <- Seq(SentencePrep.of(toks, shared), SentencePrep.of(toks))) {
        toks.indices.foreach { i =>
          val w = toks(i).word
          assert(prep.pos(i) == DepGraph.coarsePos(w) && prep.lower(i) == w.toLowerCase, w)
          assert(prep.maskedBase(i) == TextOps.maskedWord(w) && prep.stem(i) == Porter.stem(w), w)
          assert(prep.lex(i) eq prep.vocab.lexeme(w), w)
        }
        assert(prep.heads.sameElements(DepGraph.heads(toks)))
        assert(prep.depLabels.sameElements(DepGraph.depLabels(toks, prep.heads)))
      }
    }
  }
}
