package graft.nlp

import org.scalatest.funsuite.AnyFunSuite

/** Pure-function goldens ported 1:1 from the reference test suite
  * (same inputs, same expected outputs), plus seeded property checks.
  */
class TextOpsSpec extends AnyFunSuite {

  // tests/preprocessing/test_spliters.py:11-25
  test("sentence splitter matches reference golden") {
    val text = "This is one sentence. This is another one.\n This is the third one; here continues."
    val got = TextOps.splitSentences(text).map(_._1)
    assert(got == Vector(
      "This is one sentence.",
      "This is another one.",
      "This is the third one; here continues."))
  }

  test("sentence offsets point at sentence text") {
    val text = "A b c. D e f! Last one?"
    TextOps.splitSentences(text).foreach { case (s, start) =>
      assert(text.substring(start, start + s.length) == s)
    }
  }

  // tests/preprocessing/test_edges.py:24 fixture must yield 4 sentences
  test("edge fixture splits into 4 sentences") {
    val text = "Sentence 1: e_1_yolo may be related to e_2_tool plus hey, e_2_coco. Sentence 2: e_1_nin. Sentence 3: e_2_musk. Sentence 4: nothing"
    assert(TextOps.splitSentences(text).length == 4)
  }

  // tests/preprocessing/test_tokenizers.py:38-41
  test("generic tokenizer matches reference golden (15 tokens)") {
    val s1 = TextOps.genericTokenize("This is some sample text.")
    val s2 = TextOps.genericTokenize("This is another, sample sentence with coma.")
    assert((s1 ++ s2) == Vector(
      "This", "is", "some", "sample", "text", ".",
      "This", "is", "another", ",", "sample", "sentence", "with", "coma", "."))
  }

  // tests/preprocessing/test_tokenizers.py:74-78
  test("tmvar tokenizer matches reference golden (18 tokens)") {
    val s1 = TextOps.tmvarTokenize("this is some sample text.")
    val s2 = TextOps.tmvarTokenize("it contains this c.2708_2711delTTAG mutation.")
    assert((s1 ++ s2) == Vector(
      "this", "is", "some", "sample", "text", ".",
      "it", "contains", "this", "c", ".", "2708", "_", "2711", "del", "TTAG", "mutation", "."))
  }

  test("offset recovery: every token is a substring at its offset") {
    val pieces = Vector(
      "some text", "c.2708_2711delTTAG", "p.V903GfsX905", "hello, world!",
      "naïve café", "A1B2c3", "x")
    val rng = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val text = Vector.fill(1 + rng.nextInt(8))(pieces(rng.nextInt(pieces.size))).mkString(" ")
      val toks = TextOps.withOffsets(text, TextOps.tmvarTokenize(text))
      toks.foreach { t =>
        assert(text.substring(t.begin, t.end) == t.word)
      }
      // tokens are non-overlapping and ordered
      toks.sliding(2).foreach {
        case Seq(a, b) => assert(a.end <= b.begin)
        case _ =>
      }
    }
  }

  test("segment covers multi-sentence text with global offsets") {
    val text = "Sentence 1: e_1_yolo may be related to e_2_tool plus hey, e_2_coco. Sentence 2: e_1_nin. Sentence 3: e_2_musk. Sentence 4: nothing"
    val segs = TextOps.segment(text, "generic")
    assert(segs.length == 4)
    segs.foreach { case (_, _, _, toks) =>
      toks.foreach(t => assert(text.substring(t.begin, t.end) == t.word))
    }
    // e_1_yolo must be one token at offset 12 (underscore kept in \w+)
    val all = segs.flatMap(_._4)
    assert(all.exists(t => t.word == "e_1_yolo" && t.begin == 12))
  }

  test("porter stemmer: classic algorithm samples") {
    val pairs = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing", "conflated" -> "conflat",
      "troubled" -> "troubl", "sized" -> "size", "hopping" -> "hop",
      "tanned" -> "tan", "falling" -> "fall", "hissing" -> "hiss",
      "fizzed" -> "fizz", "failing" -> "fail", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky", "relational" -> "relat",
      "conditional" -> "condit", "rational" -> "ration",
      "valenci" -> "valenc", "digitizer" -> "digit",
      "conformabli" -> "conform", "radicalli" -> "radic",
      "differentli" -> "differ", "vileli" -> "vile",
      "analogousli" -> "analog", "vietnamization" -> "vietnam",
      "predication" -> "predic", "operator" -> "oper",
      "feudalism" -> "feudal", "decisiveness" -> "decis",
      "hopefulness" -> "hope", "callousness" -> "callous",
      "formaliti" -> "formal", "sensitiviti" -> "sensit",
      "sensibiliti" -> "sensibl", "triplicate" -> "triplic",
      "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow",
      "inference" -> "infer", "airliner" -> "airlin",
      "gyroscopic" -> "gyroscop", "adjustable" -> "adjust",
      "defensible" -> "defens", "irritant" -> "irrit",
      "replacement" -> "replac", "adjustment" -> "adjust",
      "dependent" -> "depend", "adoption" -> "adopt",
      "homologou" -> "homolog", "communism" -> "commun",
      "activate" -> "activ", "angulariti" -> "angular",
      "homologous" -> "homolog", "effective" -> "effect",
      "bowdlerize" -> "bowdler", "probate" -> "probat",
      "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll")
    pairs.foreach { case (in, want) =>
      assert(Porter.stem(in) == want, s"stem($in)")
    }
  }

  test("porter stemmer lowercases first: stem(w) == stem(w.toLowerCase)") {
    val rng = new scala.util.Random(19)
    val stems = Vector("connect", "generaliz", "run", "hop", "relat", "agree", "sky", "caress",
      "ponies", "happy", "feud", "motor", "electric", "sensitiv")
    val suffixes = Vector("", "s", "es", "ed", "ing", "ation", "ational", "ness", "ful", "ly",
      "ies", "er", "izer", "ousness", "al", "ive")
    (0 until 3000).foreach { _ =>
      val base = stems(rng.nextInt(stems.length)) + suffixes(rng.nextInt(suffixes.length))
      val w = base.map(c => if (rng.nextInt(3) == 0) c.toUpper else c)
      assert(Porter.stem(w) == Porter.stem(w.toLowerCase), w)
    }
  }

  test("normKey folds case, whitespace and digit runs") {
    assert(TextOps.normKey("  Spark 3.5 ") == "spark 0.0")
    assert(TextOps.normKey("DB_users42") == "db_users0")
  }

  test("maskedWord's number test equals the ^[0-9]+([.,][0-9]+)*$ regex") {
    // the regex is the reference; the loop must agree on the edge cases
    // and on random strings over digits, separators, letters, '-' and an
    // Arabic-Indic digit (which [0-9] rejects)
    val numberRe = java.util.regex.Pattern.compile("^[0-9]+([.,][0-9]+)*$")
    def viaRegex(w: String): String =
      if (numberRe.matcher(w).matches()) "NUM" else w.toLowerCase
    val fixed = Seq("", "1.", ".1", "1,,2", "1.2.3", "1", "12,5", "\u0661")
    val alphabet = "0123456789.,aA-\u0661"
    val rng = new scala.util.Random(7)
    val random = Seq.fill(20000) {
      Seq.fill(rng.nextInt(7))(alphabet.charAt(rng.nextInt(alphabet.length))).mkString
    }
    (fixed ++ random).foreach { w =>
      assert(TextOps.maskedWord(w) == viaRegex(w), s"maskedWord [$w]")
    }
    assert(TextOps.maskedWord("1.2.3") == "NUM" && TextOps.maskedWord("1.") == "1.")
  }
}
