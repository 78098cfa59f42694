package graft.nlp

/** Classic Porter stemming algorithm (M.F. Porter, 1980, "An algorithm for
  * suffix stripping" — public algorithm), standing in for the reference's
  * `PorterStemFeatureGenerator` (`nalaf/features/stemming.py:109-128`,
  * which delegates to nltk's PorterStemmer). Implemented from the
  * published rule tables; lowercases its input like the reference
  * (`stemming.py:127`: `stem(token.word)` on lowered words).
  */
object Porter {

  // the suffix rule tables of steps 2-4, tried in order
  private val step2: Seq[(String, String)] = Seq(
    "ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
    "anci" -> "ance", "izer" -> "ize", "abli" -> "able",
    "alli" -> "al", "entli" -> "ent", "eli" -> "e", "ousli" -> "ous",
    "ization" -> "ize", "ation" -> "ate", "ator" -> "ate",
    "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
    "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive",
    "biliti" -> "ble")
  private val step3: Seq[(String, String)] = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ful" -> "", "ness" -> "")
  private val step4 = Seq("al", "ance", "ence", "er", "ic", "able", "ible", "ant",
    "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous",
    "ive", "ize")

  def stem(input: String): String = {
    val w = input.toLowerCase
    if (w.length <= 2) return w
    var b = w.toCharArray
    var k = b.length - 1

    def isCons(i: Int): Boolean = b(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y' => if (i == 0) true else !isCons(i - 1)
      case _ => true
    }

    /** m() = number of VC sequences in b[0..j] */
    def m(j: Int): Int = {
      var n = 0
      var i = 0
      var done = false
      while (!done) {
        if (i > j) return n
        if (!isCons(i)) done = true else i += 1
      }
      i += 1
      while (true) {
        var d2 = false
        while (!d2) {
          if (i > j) return n
          if (isCons(i)) d2 = true else i += 1
        }
        i += 1
        n += 1
        var d3 = false
        while (!d3) {
          if (i > j) return n
          if (!isCons(i)) d3 = true else i += 1
        }
        i += 1
      }
      n
    }

    def hasVowel(j: Int): Boolean = (0 to j).exists(i => !isCons(i))
    def doubleCons(j: Int): Boolean =
      j >= 1 && b(j) == b(j - 1) && isCons(j)
    def cvc(i: Int): Boolean = {
      if (i < 2 || !isCons(i) || isCons(i - 1) || !isCons(i - 2)) false
      else b(i) != 'w' && b(i) != 'x' && b(i) != 'y'
    }
    def ends(s: String): Boolean = {
      val from = k + 1 - s.length
      var i = 0
      if (from < 0) return false
      while (i < s.length && b(from + i) == s.charAt(i)) i += 1
      i == s.length
    }
    def setTo(j: Int, s: String): Unit = {
      // replace suffix ending at k whose stem ends at j with s
      b = (new String(b, 0, j + 1) + s).toCharArray
      k = b.length - 1
    }
    def r(stemEnd: Int, s: String): Unit =
      if (m(stemEnd) > 0) setTo(stemEnd, s)

    // Step 1a
    if (ends("sses")) setTo(k - 4, "ss")
    else if (ends("ies")) setTo(k - 3, "i")
    else if (!ends("ss") && ends("s")) setTo(k - 1, "")

    // Step 1b
    var extra = false
    if (ends("eed")) { if (m(k - 3) > 0) setTo(k - 3, "ee") }
    else if (ends("ed") && hasVowel(k - 2)) { setTo(k - 2, ""); extra = true }
    else if (ends("ing") && hasVowel(k - 3)) { setTo(k - 3, ""); extra = true }
    if (extra) {
      if (ends("at")) setTo(k - 2, "ate")
      else if (ends("bl")) setTo(k - 2, "ble")
      else if (ends("iz")) setTo(k - 2, "ize")
      else if (doubleCons(k)) {
        if (b(k) != 'l' && b(k) != 's' && b(k) != 'z') setTo(k - 1, "")
      } else if (m(k) == 1 && cvc(k)) setTo(k, "e")
    }

    // Step 1c
    if (ends("y") && hasVowel(k - 1)) setTo(k - 1, "i")

    // Step 2
    step2.collectFirst { case (suf, rep) if ends(suf) => (suf, rep) }
      .foreach { case (suf, rep) => r(k - suf.length, rep) }

    // Step 3
    step3.collectFirst { case (suf, rep) if ends(suf) => (suf, rep) }
      .foreach { case (suf, rep) => r(k - suf.length, rep) }

    // Step 4
    step4.collectFirst { case suf if ends(suf) => suf }.foreach { suf =>
      val stemEnd = k - suf.length
      val ok =
        if (suf == "ion") stemEnd >= 0 && (b(stemEnd) == 's' || b(stemEnd) == 't') && m(stemEnd) > 1
        else m(stemEnd) > 1
      if (ok) setTo(stemEnd, "")
    }

    // Step 5a
    if (ends("e")) {
      val a = m(k - 1)
      if (a > 1 || (a == 1 && !cvc(k - 1))) setTo(k - 1, "")
    }
    // Step 5b
    if (b(k) == 'l' && doubleCons(k) && m(k) > 1) setTo(k - 1, "")

    new String(b, 0, k + 1)
  }
}
