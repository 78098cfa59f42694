package graft.nlp

import graft.model.Tok

/** Pure, deterministic text-segmentation functions — the engine's
  * equivalents of nalaf's splitter/tokenizers
  * (`nalaf/preprocessing/spliters.py`, `tokenizers.py`). They are plain
  * Scala functions so they run inside codegen'd `map`/`flatMap`/
  * `mapPartitions` stages with zero per-row interpreter overhead, and are
  * unit-testable against the reference goldens without a SparkSession.
  */
object TextOps {

  // ---------------------------------------------------------------------
  // Sentence splitting
  // ---------------------------------------------------------------------

  /** Rule-based sentence splitter standing in for NLTK punkt
    * (`spliters.py:23-49`): a sentence boundary is a run of [.!?]
    * (optionally followed by closing quotes/brackets) followed by
    * whitespace. Returns (sentenceText, startOffsetInInput); sentence text
    * is trimmed exactly like punkt returns stripped sentences, and the
    * offset points at its first character in the input.
    *
    * Matches the reference golden
    * (`tests/preprocessing/test_spliters.py:15-25`).
    */
  def splitSentences(text: String): Vector[(String, Int)] = {
    val out = Vector.newBuilder[(String, Int)]
    val n = text.length
    var segStart = 0
    var i = 0
    def emit(endExcl: Int): Unit = {
      var s = segStart
      while (s < endExcl && Character.isWhitespace(text.charAt(s))) s += 1
      var e = endExcl
      while (e > s && Character.isWhitespace(text.charAt(e - 1))) e -= 1
      if (e > s) out += ((text.substring(s, e), s))
      segStart = endExcl
    }
    while (i < n) {
      val c = text.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        var j = i + 1
        while (j < n && (text.charAt(j) == '.' || text.charAt(j) == '!' ||
                 text.charAt(j) == '?')) j += 1
        var k = j
        while (k < n && (text.charAt(k) == '"' || text.charAt(k) == '\'' ||
                 text.charAt(k) == ')' || text.charAt(k) == ']')) k += 1
        if (k >= n || Character.isWhitespace(text.charAt(k))) {
          emit(k)
          i = k
        } else i = j
      } else i += 1
    }
    if (segStart < n) emit(n)
    out.result()
  }

  // ---------------------------------------------------------------------
  // Tokenization
  // ---------------------------------------------------------------------

  private val genericTokenRe = java.util.regex.Pattern.compile("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]")

  /** Word/punct tokenizer standing in for NLTK word_tokenize behind
    * `GenericTokenizer` (`tokenizers.py:32-56`): maximal \w+ runs
    * (underscore included, so `e_1_yolo` stays one token) and single
    * punctuation tokens. Matches the reference golden token lists
    * (`tests/preprocessing/test_tokenizers.py:38-41`).
    */
  def genericTokenize(sentence: String): Vector[String] = {
    val m = genericTokenRe.matcher(sentence)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  // precompiled cascade — String.replaceAll would recompile each regex
  // on every sentence (hot path)
  private val tmvarCascade: Array[(java.util.regex.Pattern, String)] = Array(
    java.util.regex.Pattern.compile("([0-9])([A-Za-z])") -> "$1 $2",
    java.util.regex.Pattern.compile("([a-z])([A-Z])") -> "$1 $2",
    java.util.regex.Pattern.compile("([A-Za-z])([0-9])") -> "$1 $2",
    java.util.regex.Pattern.compile("([a-z])(fs)") -> "$1 $2",
    java.util.regex.Pattern.compile("([^\\x00-\\x7F])") -> " $1 ",
    java.util.regex.Pattern.compile("([\\W\\-_])") -> " $1 ")
  private val wsRe = java.util.regex.Pattern.compile("\\s+")

  /** TmVar tokenizer: the published tmVar regex cascade as re-stated by the
    * reference (`tokenizers.py:64-101`): split digit/letter boundaries,
    * lower→UPPER case boundaries, `fs` frameshift marker, isolate
    * non-ASCII, isolate non-word chars, then split on whitespace.
    * Golden: `tests/preprocessing/test_tokenizers.py:74-78`.
    */
  def tmvarTokenize(sentence: String): Vector[String] = {
    // fast path: on lowercase-letters+spaces text every cascade stage is
    // the identity, so the result is a plain whitespace split (provably —
    // each regex requires a digit, an uppercase letter, a non-ASCII char
    // or a non-word char to fire). This is the common case for cleaned
    // corpora and skips six regex passes per sentence.
    var onlyPlain = true
    var j = 0
    while (onlyPlain && j < sentence.length) {
      val c = sentence.charAt(j)
      if (!((c >= 'a' && c <= 'z') || c == ' ')) onlyPlain = false
      j += 1
    }
    if (onlyPlain) return splitOnSpaces(sentence)
    var s = sentence
    var i = 0
    while (i < tmvarCascade.length) {
      val (p, r) = tmvarCascade(i)
      s = p.matcher(s).replaceAll(r)
      i += 1
    }
    wsRe.split(s).iterator.filter(_.nonEmpty).toVector
  }

  private def splitOnSpaces(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var start = -1
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') {
        if (start >= 0) { out += s.substring(start, i); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out += s.substring(start)
    out.result()
  }

  /** Recover char offsets of tokens inside `text` by forward scan — the
    * exact algorithm of the reference (`tokenizers.py:50-56`:
    * `text.find(token, so_far)`), generalized to start scanning at
    * `from`. Tokens that can't be found (never happens for tokenizers that
    * only delete whitespace) are skipped.
    */
  def withOffsets(text: String, tokens: Seq[String], from: Int = 0): Vector[Tok] = {
    var soFar = from
    var tid = 0
    val out = Vector.newBuilder[Tok]
    tokens.foreach { w =>
      val start = text.indexOf(w, soFar)
      if (start >= 0) {
        soFar = start + w.length
        out += Tok(tid, w, start, start + w.length)
        tid += 1
      }
    }
    out.result()
  }

  /** Tokenize a turn's text into sentences of offset-carrying tokens:
    * (sent_idx, sent_start, sent_text, tokens). tokenizer ∈
    * {"tmvar", "generic"}.
    */
  def segment(text: String, tokenizer: String = "tmvar"): Vector[(Int, Int, String, Vector[Tok])] = {
    val tokFn: String => Vector[String] =
      if (tokenizer == "generic") genericTokenize else tmvarTokenize
    var soFar = 0
    splitSentences(text).zipWithIndex.map { case ((sent, start), idx) =>
      val toks = withOffsets(text, tokFn(sent), soFar)
      if (toks.nonEmpty) soFar = toks.last.end
      (idx, start, sent, toks)
    }
  }

  // ---------------------------------------------------------------------
  // Scalar helpers shared by feature generators
  // ---------------------------------------------------------------------

  /** masked_text semantics (`features/util.py:9-22`) for a token outside
    * any entity (the caller masks entity tokens with their class id): a
    * numeric token becomes "NUM", otherwise the lowercased word.
    */
  def maskedWord(word: String): String =
    if (isNumber(word)) "NUM" else word.toLowerCase

  /** `^[0-9]+([.,][0-9]+)*$` as a char loop: ASCII digit runs separated
    * by single '.' or ',' — no separator first, last or doubled.
    */
  private def isNumber(word: String): Boolean = {
    var i = 0
    var digitRun = false
    while (i < word.length) {
      val c = word.charAt(i)
      if (c >= '0' && c <= '9') digitRun = true
      else if ((c == '.' || c == ',') && digitRun) digitRun = false
      else return false
      i += 1
    }
    digitRun
  }

  private val digitsRe = java.util.regex.Pattern.compile("[0-9]+")

  /** Normalized-surface key for entity linking (north_rule): lowercase,
    * trim, fold digit runs to '0'. Mirrors entity2key
    * (`relations/new/sentence.py:174-180`) with masked-number folding.
    */
  def normKey(surface: String): String = {
    val t = surface.trim.toLowerCase
    if (t.exists(_.isDigit)) digitsRe.matcher(t).replaceAll("0") else t
  }
}
