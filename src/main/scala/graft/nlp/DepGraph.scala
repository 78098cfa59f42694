package graft.nlp

import scala.collection.immutable.ArraySeq
import graft.model.Tok

/** Sentence-local dependency structure + shortest paths — the engine's
  * replacement for nalaf's spaCy-parsed dependency features
  * (`preprocessing/parsers.py:89-104`) and per-sentence path algebra
  * (`utils/graphs.py:12-166`: Dijkstra `compute_shortest_path`,
  * Floyd-Warshall `compute_shortest_paths`, path walks).
  *
  * Since an external statistical parser is out of scope (hermetic build),
  * head assignment is a deterministic rule parser: the first verb-like
  * token is the root; tokens attach left-to-right to the nearest
  * content-token head (verbs attach to the root, punctuation to the
  * previous token). Edges carry deterministic LABELS from [[depLabels]]
  * (POS-pair + position rules), standing in for spaCy's labeled parse in
  * chain features, PD edge n-grams and `neg`-dependency negation. All
  * path properties of the reference's test suite
  * (`tests/utils/test_graphs.py:154-212`) hold: dist(u,u)=0, symmetry,
  * adjacency ⇒ dist 1, path reversal, Dijkstra ≡ Floyd-Warshall.
  */
object DepGraph {

  private val verbSuffixes = Seq("s", "ed", "ing")

  /** Derivational verb suffixes (-ate/-ize/-ise/-ify and their 3sg
    * forms) — strong verb evidence the bare -s rule lacks.
    */
  private val verbStemSuffixes = Seq("ate", "ates", "ize", "izes",
    "ise", "ises", "ify", "ifies")

  /** -ate words that are nouns/adjectives, not verbs. */
  private val ateNouns = Set("phosphate", "substrate", "climate",
    "candidate", "template", "intermediate", "acetate", "sulfate",
    "nitrate", "carbonate", "appropriate", "adequate", "accurate",
    "separate", "state", "estate", "fate", "gate", "plate", "rate",
    "date", "mate", "late", "granulate", "aggregate", "certificate",
    "delegate", "duplicate", "graduate", "chromate", "lysate")

  /** Plural-noun suffix classes the bare -s verb rule must not claim:
    * Greek/Latin -sis, diminutive/structure plurals (-ules/-cles/-omes/
    * -eres/-asts), agent/instrument -ors, and -ssays. Exceptions list
    * the few common verbs inside those classes.
    */
  private val nounPluralSuffixes = Seq("sis", "ules", "cles", "omes",
    "eres", "asts", "ors", "ssays", "isms", "anes")
  private val nounPluralVerbs = Set("comes", "becomes", "welcomes",
    "overcomes", "interferes", "adheres")

  /** Frequency-derived English verb lexicon: auxiliaries, modals and the
    * most frequent irregular verb forms (the ones the -s/-ed/-ing suffix
    * rules cannot catch), from public word-frequency lists. Deliberately
    * NOT tied to any test vocabulary — regular forms of arbitrary domain
    * verbs are caught by the suffix rules.
    */
  private val verbLexicon = Set(
    // be/have/do + modals
    "am", "is", "are", "was", "were", "be", "been",
    "has", "have", "had", "do", "did", "done",
    "will", "would", "can", "could", "shall", "should", "may", "might",
    "must", "ought",
    // frequent irregular past/participle forms
    "went", "gone", "made", "took", "taken", "got", "gotten", "gave",
    "given", "knew", "known", "thought", "saw", "seen", "came", "said",
    "found", "told", "became", "kept", "began", "begun", "brought",
    "bought", "sent", "built", "held", "stood", "heard", "met", "paid",
    "spent", "wrote", "written", "ran", "meant", "felt", "chose",
    "chosen", "spoke", "spoken", "broke", "broken", "drew", "drawn",
    "grew", "grown", "threw", "thrown", "flew", "flown", "drove",
    "driven", "ate", "eaten", "fell", "fallen", "hit", "hurt", "lost",
    "won", "sold", "sat", "lay", "lain", "rose", "risen", "swam", "swum",
    // frequent base forms that are overwhelmingly verbal in usage
    "go", "make", "take", "give", "know", "think", "see", "come", "say",
    "find", "tell", "become", "keep", "begin", "bring", "buy", "send",
    "build", "hold", "stand", "hear", "meet", "pay", "spend", "write",
    "mean", "feel", "choose", "speak", "break", "draw", "grow", "throw",
    "fly", "drive", "eat", "fall", "lose", "win", "sell", "sit", "check")

  private val detLexicon = Set("the", "a", "an", "this", "these", "those")
  // "that" lives here: in scientific/transcript prose it is overwhelmingly
  // the complementizer ("showed that ..."), which the head rules bind to
  // the embedded verb (label "mark")
  private val adpLexicon = Set("of", "to", "in", "on", "at", "for", "with",
    "by", "from", "plus", "then", "and", "or", "nor", "but", "that",
    "up", "down", "out", "into", "onto", "over", "under", "as", "than",
    "through", "across", "between", "within", "without", "during",
    "against", "via", "upon", "among", "toward", "towards", "off",
    "near", "per", "about", "after", "before", "because", "since",
    "whether", "if", "although", "though", "unless", "until")

  /** Frequent adverbs the -ly suffix rule cannot catch. */
  private val advLexicon = Set("however", "also", "very", "only", "often",
    "always", "never", "not", "again", "alone", "here", "there", "well",
    "just", "still", "even", "already", "perhaps", "instead", "together",
    "when", "where", "while", "too", "thus", "moreover", "furthermore",
    "otherwise", "meanwhile", "soon", "once", "twice", "almost", "quite",
    "rather", "now")

  /** -ly words that are nouns, not adverbs. */
  private val lyNouns = Set("family", "supply", "reply", "assembly",
    "disassembly", "anomaly", "monopoly", "butterfly", "jelly", "belly",
    "bully", "italy", "july", "fly", "ally", "rally", "tally", "lily")

  /** Frequent adjectives the suffix rules cannot catch (incl. the -ent/-ant
    * forms, whose suffix class is too noun-heavy for a blanket rule).
    */
  private val adjLexicon = Set("new", "novel", "active", "inactive", "major",
    "minor", "high", "low", "large", "small", "good", "bad", "same",
    "different", "important", "common", "early", "late", "full", "free",
    "present", "recent", "similar", "consistent", "independent",
    "dependent", "necessary", "unnecessary", "frequent", "sufficient",
    "efficient", "significant", "relevant", "constant", "dominant",
    "abundant", "resistant", "slow", "fast", "long", "short", "wide",
    "narrow", "deep", "strong", "weak", "old", "young", "main", "key",
    "whole", "entire", "several", "many", "few", "other", "such", "own",
    "certain", "clear", "simple", "complex", "single", "double", "normal")

  private val adjSuffixes = Seq("ic", "ive", "ous", "able", "ible", "less",
    "ful", "al", "ar")

  /** -al / -ar / -ic / -able words that are nouns, not adjectives. */
  private val adjSuffixNouns = Set("table", "cable", "fable", "gable",
    "stable", "vegetable", "syllable",
    "signal", "animal", "metal", "hospital",
    "interval", "arrival", "removal", "approval", "goal", "deal", "meal",
    "trial", "journal", "proposal", "capital", "crystal", "mammal",
    "terminal", "material", "total", "sugar", "dollar", "cellar", "collar",
    "grammar", "seminar", "scholar", "calendar", "guitar", "radar",
    "logic", "magic", "music", "topic", "clinic", "critic", "traffic",
    "fabric", "republic", "mosaic")

  /** Coarse POS by suffix/lexicon — deterministic stand-in for the
    * reference's spaCy `pos` feature. r5 splits ADJ and ADV out of the
    * NOUN bin (VERDICT r4: amod/advmod/attr edges — ~15% of the parser
    * gold — were structurally unreachable without them).
    */
  /** Digits or internal capitals — gene symbols / identifiers (hot-loop
    * form: no intermediate strings).
    */
  private def isSymbolWord(word: String): Boolean = {
    var i = 0
    while (i < word.length) {
      val c = word.charAt(i)
      if (c.isDigit || (i > 0 && c.isUpper)) return true
      i += 1
    }
    false
  }

  def coarsePos(word: String): String = {
    val w = word.toLowerCase
    if (w.isEmpty) "X"
    else if (w.forall(_.isDigit)) "NUM"
    else if (!w.head.isLetter) "PUNCT"
    else if (detLexicon.contains(w)) "DET"
    else if (adpLexicon.contains(w)) "ADP"
    else if (advLexicon.contains(w)) "ADV"
    else if (verbLexicon.contains(w)) "VERB"
    else if (adjLexicon.contains(w)) "ADJ"
    // symbol-shaped tokens (digits, internal capitals: CYO1, snoRNA,
    // CpNifS, At3g47390) are names — never verbs, whatever their suffix
    else if (isSymbolWord(word)) "NOUN"
    else if (w.length > 4 && w.endsWith("ly") && !lyNouns.contains(w)) "ADV"
    else if (w.length > 4 && adjSuffixes.exists(w.endsWith) &&
      !adjSuffixNouns.contains(w)) "ADJ"
    else if (w.length > 3 && verbStemSuffixes.exists(w.endsWith) &&
      !ateNouns.contains(w)) "VERB"
    // plural-noun suffix classes outrank the bare -s verb rule
    else if (w.length > 3 && nounPluralSuffixes.exists(w.endsWith) &&
      !nounPluralVerbs.contains(w)) "NOUN"
    else if (w.length > 3 && verbSuffixes.exists(w.endsWith)) "VERB"
    else "NOUN"
  }

  /** [[coarsePos]] of each token. */
  def coarsePos(toks: IndexedSeq[Tok]): Array[String] = toks.iterator.map(t => coarsePos(t.word)).toArray

  private def lowerOf(toks: IndexedSeq[Tok]): Array[String] = toks.iterator.map(_.word.toLowerCase).toArray
  private def tagsOf(toks: IndexedSeq[Tok]): Array[String] =
    sentencePos(toks, coarsePos(toks), lowerOf(toks))

  /** Prepositions that turn a directly following -ing form into a nominal
    * gerund ("targeting of", "silencing in") — used by [[sentencePos]].
    */
  private val gerundBinders = Set("of", "in", "on", "at", "for", "with",
    "by", "from")

  /** Noun-shaped suffixes that VETO the to-infinitive promotion in
    * [[sentencePos]] ("to membrane" stays a noun, "to induce" flips).
    */
  private val infinitiveNounSuffixes = Seq("tion", "sion", "ment", "ness",
    "ity", "ism", "ase", "ome", "ule", "cle", "ane", "ein", "gen", "um")

  /** Sentence-context POS: [[coarsePos]] per token plus the adjustments
    * that need a neighbor (r5b widened the set):
    *
    *  - an -ing verb directly followed by a noun-binding preposition is a
    *    nominal gerund ("targeting of Mdv1p", "gene silencing in
    *    Arabidopsis") — keeps deverbal nouns from being picked as root;
    *  - a capitalized MID-SENTENCE word the suffix rules called a verb is
    *    a proper noun ("Arabidopsis thaliana", "Saccharomyces") — names
    *    are never verbs, but sentence-initial capitals say nothing;
    *  - a noun-tagged word DIRECTLY after infinitival "to" whose shape
    *    fits an English bare verb (no plural -s, no Latin-plural -a/-i/-o
    *    ending) is the infinitive ("to induce", "to determine", "to
    *    transport" — vs "to mitochondria", "to nucleoli", where the
    *    vowel ending keeps the noun reading).
    *
    * Shared by [[heads]] and [[depLabels]] so both see the same tags.
    */
  def sentencePos(toks: IndexedSeq[Tok]): IndexedSeq[String] = ArraySeq.unsafeWrapArray(tagsOf(toks))

  /** [[sentencePos]] from each token's [[coarsePos]] (`base`) and lowercase
    * form, which the fused pipeline reads from its conversation's lexicon.
    */
  def sentencePos(toks: IndexedSeq[Tok], base: Array[String], lower: Array[String]): Array[String] =
    Array.tabulate(toks.length) { i =>
      val w = toks(i).word
      val lw = lower(i)
      if (base(i) == "VERB" && lw.endsWith("ing") &&
        i + 1 < toks.length && base(i + 1) == "ADP" &&
        gerundBinders.contains(lower(i + 1))) "NOUN"
      else if (base(i) == "VERB" && i > 0 && w.head.isUpper) "NOUN"
      else if (base(i) == "NOUN" && i > 0 &&
        toks(i - 1).word.equalsIgnoreCase("to") && w.head.isLower &&
        !lw.endsWith("s") && !lw.endsWith("a") && !lw.endsWith("i") &&
        !lw.endsWith("o") && !infinitiveNounSuffixes.exists(lw.endsWith))
        "VERB"
      else base(i)
    }

  /** Auxiliary / modal verb forms — attach to a verbal head as "aux"
    * rather than "conj".
    */
  private val auxLexicon = Set(
    "am", "is", "are", "was", "were", "be", "been",
    "has", "have", "had", "do", "does", "did",
    "will", "would", "can", "could", "shall", "should", "may", "might",
    "must", "ought")

  private val ccLexicon = Set("and", "or", "nor", "but")
  private val copulaLexicon = Set("is", "are", "was", "were", "be", "been", "am")

  /** Closed-class verb particles ("taken up", "ruled out"). */
  private val particleSet = Set("up", "down", "out", "off", "away", "back")

  /** Deterministic dependency LABEL of each token's edge to its head —
    * the hermetic stand-in for spaCy's labeled parse (nalaf reads
    * `token.features['dep']` in chain features `entityhead.py:264-281`,
    * PD edge n-grams `new/dependency.py:96-127` and neg-counting
    * `data.py:1104-1118`). Rules are POS-pair + relative-position only
    * (no external model): negation tokens are "neg" wherever they
    * attach; punctuation "punct"; determiners "det" ("nsubj" when they
    * head to a verb — demonstrative subjects); coordinators "cc", the
    * complementizer "that" under a following verb "mark", "to <verb>"
    * "aux", other adpositions "prep"; numbers "nummod"; auxiliaries
    * "aux", pre-nominal participles "amod", verbs coordinated across a
    * cc word "conj", other verbs under a verbal head "dep"; adjectives
    * "amod" under a nominal and "acomp" under a verb; adverbs "advmod";
    * a noun after a copular head is "attr", before its verbal head
    * "nsubj", after it "dobj"; noun-under-noun "compound" (rightward)
    * or "conj" (leftward, via coordination), noun-under-adposition
    * "pobj"; anything else "dep". The root's self-edge is labeled
    * "root" (never emitted as an edge feature). A fixed small label
    * vocabulary keeps hashed feature space stable across corpora.
    */
  def depLabels(toks: IndexedSeq[Tok], heads: Array[Int]): Array[String] =
    depLabels(heads, tagsOf(toks), lowerOf(toks))

  /** [[depLabels]] from the [[sentencePos]] tags and lowercase forms — the
    * fused pipeline shares both with [[heads]] (hot-loop form).
    */
  def depLabels(heads: Array[Int], pos: Array[String], lower: Array[String]): Array[String] = {
    def ccBetween(a: Int, b: Int): Boolean = {
      val lo = math.min(a, b); val hi = math.max(a, b)
      (lo + 1 until hi).exists(j => ccLexicon.contains(lower(j)))
    }
    Array.tabulate(heads.length) { i =>
      val w = lower(i)
      if (heads(i) == i) "root"
      else if (negWords.contains(w)) "neg"
      else {
        val h = heads(i)
        val hp = pos(h)
        pos(i) match {
          case "PUNCT" => "punct"
          case "DET" => if (hp == "VERB") "nsubj" else "det"
          case "ADP" =>
            if (ccLexicon.contains(w)) "cc"
            else if (w == "that" && hp == "VERB" && h > i) "mark"
            else if (w == "to" && h == i + 1 && hp == "VERB") "aux"
            // verb particle: "taken up" — a closed-class particle bound
            // to the directly preceding verb is prt (fixed vocab: dep)
            else if (particleSet.contains(w) && h == i - 1 && hp == "VERB") "dep"
            else "prep"
          case "NUM" => "nummod"
          case "VERB" =>
            // aux only on a FORWARD chain ("was found"); an aux-form verb
            // heading BACKWARD is a complement ("found to be ..." — be)
            if (auxLexicon.contains(w) && h > i) "aux"
            else if (hp == "NOUN" || hp == "NUM") "amod"
            else if (hp == "VERB" && ccBetween(h, i)) "conj"
            else "dep"
          case "ADJ" =>
            if (hp == "NOUN" || hp == "NUM") "amod"
            else if (hp == "VERB") "acomp"
            else "dep"
          case "ADV" => "advmod"
          case "NOUN" =>
            if (hp == "VERB") {
              if (copulaLexicon.contains(lower(h)) && i > h) "attr"
              else if (i < h) "nsubj" else "dobj"
            }
            else if (hp == "NOUN" || hp == "NUM") {
              if (i < h) "compound" else "conj"
            }
            else if (hp == "ADP") "pobj"
            else "dep"
          case _ => "dep"
        }
      }
    }
  }

  /** Irregular past participles (forms the -ed rule cannot catch) for the
    * pre-nominal-participle test.
    */
  private val participleLexicon = Set("taken", "given", "known", "seen",
    "shown", "done", "broken", "chosen", "drawn", "driven", "grown",
    "hidden", "proven", "spoken", "written", "thrown", "frozen", "bound")

  /** head(i) for every token; root points to itself.
    *
    * Projective rule grammar over the coarse POS sequence (r4, widened
    * in r5 with ADJ/ADV attachment — the r3 "nearest preceding verb"
    * flat attachment measured 21.1% head agreement and the r4 grammar
    * 44.8% on the reference's own 18 parser-test sentences; see
    * DepGraphAgreementSpec for the measured numbers):
    *
    *  - root = first plain verb (not a forward-binding auxiliary, not a
    *    pre-nominal participle); else first verb; else the head of the
    *    first noun run — verbless titles root on their NP head;
    *  - noun runs (maximal contiguous NOUN/NUM spans) are RIGHT-headed:
    *    every non-final token attaches to the run-final token (English
    *    compound/modifier order);
    *  - a run-final noun looks left past its modifier cluster
    *    (determiners, adjectives, adverbs, pre-nominal participles): a
    *    preceding adposition makes it a pobj; a preceding coordinator
    *    after another noun makes it a conj of that noun; else it is an
    *    argument of the nearest preceding plain verb, else of the next
    *    verb (aux chains followed), else the root;
    *  - adjectives attach to the head of the noun run they precede
    *    (amod, through intervening adjectives/participles); predicative
    *    adjectives to the nearest plain verb (acomp);
    *  - adverbs attach forward through the adverb cluster to a directly
    *    following verb/adjective, else to the nearest plain verb;
    *  - pre-nominal participles (-ed/-ing/irregular forms in attributive
    *    position: preceded by DET/ADP/ADJ/ADV/hyphen, nominal to their
    *    right) attach to the following noun-run head (amod);
    *  - determiners attach to the following noun run's head through the
    *    modifier cluster; a determiner directly before a verb is a
    *    demonstrative subject ("this indicates");
    *  - the complementizer "that" binds the next plain verb (mark);
    *    "to" binds a directly following verb (aux); coordinators and
    *    other adpositions bind the noun phrase they follow, else the
    *    nearest preceding plain verb;
    *  - auxiliaries with a verb within the next two tokens attach to it
    *    (auxpass chains); other verbs to the nearest preceding PLAIN
    *    verb (skipping forward-binding auxiliaries and pre-nominal
    *    participles — both attach forward, and attaching back to one
    *    would close a cycle disconnected from the root; tree-ness is
    *    what the path property tests pin);
    *  - hyphens bind the following token, other punctuation the root.
    */
  def heads(toks: IndexedSeq[Tok]): Array[Int] = heads(toks, tagsOf(toks), lowerOf(toks))

  /** [[heads]] with a precomputed [[sentencePos]]. */
  def heads(toks: IndexedSeq[Tok], pos: IndexedSeq[String]): Array[Int] =
    heads(toks, pos.toArray, lowerOf(toks))

  /** [[heads]] from the [[sentencePos]] tags and lowercase forms (hot-loop
    * form). Each per-token predicate of the rules (aux form, forward-binding
    * aux, pre-nominal participle, reduced relative, plain verb, symbol
    * shape) is computed once per token into an array, as is the nearest
    * verb of each kind before or after each token; the rules read them.
    */
  def heads(toks: IndexedSeq[Tok], pos: Array[String], lower: Array[String]): Array[Int] = {
    val n = toks.length
    if (n == 0) return Array.empty
    def nominal(p: String) = p == "NOUN" || p == "NUM"
    val verb = Array.tabulate(n)(j => pos(j) == "VERB")
    val isAux = Array.tabulate(n)(j => auxLexicon.contains(lower(j)))
    // run-final / run-start index per nominal token
    val runEnd = Array.tabulate(n)(identity)
    var i = n - 2
    while (i >= 0) {
      if (nominal(pos(i)) && nominal(pos(i + 1))) runEnd(i) = runEnd(i + 1)
      i -= 1
    }
    val runStart = Array.tabulate(n)(identity)
    i = 1
    while (i < n) {
      if (nominal(pos(i)) && nominal(pos(i - 1))) runStart(i) = runStart(i - 1)
      i += 1
    }
    // the first verb after each token, -1 if none
    val nextVerb = new Array[Int](n)
    var next = -1
    i = n - 1
    while (i >= 0) { nextVerb(i) = next; if (verb(i)) next = i; i -= 1 }
    // forward-binding auxiliary: chains INTO a verb within the next two
    // tokens ("was found", "are taken", "may have been taken")
    val fwdAux = Array.tabulate(n)(j =>
      verb(j) && isAux(j) && nextVerb(j) >= 0 && nextVerb(j) - j <= 2)
    def participleForm(j: Int): Boolean =
      lower(j).endsWith("ed") || lower(j).endsWith("ing") ||
        participleLexicon.contains(lower(j))
    // prenom(j): pre-nominal participle; nomThrough(j): the noun-phrase
    // modifier target reachable at/after j crossing only adjectives/
    // participles. Mutually dependent, resolved right-to-left.
    // modTarget: where a run's MODIFIERS (and its non-final tokens)
    // attach — normally the run-final token, but a run ending in a
    // symbol-like name ("biogenesis factor CYO1") heads its modifiers on
    // the last COMMON noun (factor), which itself compounds into the name.
    val symbolLike = Array.tabulate(n)(j => isSymbolWord(toks(j).word))
    val modTarget = Array.tabulate(n)(identity)
    i = 0
    while (i < n) {
      if (nominal(pos(i)) && runStart(i) == i) {
        val e = runEnd(i)
        var t = e
        if (symbolLike(e)) {
          var j = e - 1
          while (j >= i && symbolLike(j)) j -= 1
          if (j >= i) t = j
        }
        var j = i
        while (j <= e) { modTarget(j) = t; j += 1 }
      }
      i += 1
    }
    val prenom = new Array[Boolean](n)
    val nomThrough = Array.fill(n + 1)(-1)
    i = n - 1
    while (i >= 0) {
      prenom(i) = pos(i) == "VERB" && !isAux(i) && participleForm(i) &&
        i > 0 && (pos(i - 1) == "DET" || pos(i - 1) == "ADP" ||
          pos(i - 1) == "ADJ" || pos(i - 1) == "ADV" || lower(i - 1) == "-") &&
        nomThrough(i + 1) >= 0
      nomThrough(i) =
        if (nominal(pos(i))) modTarget(i)
        else if (pos(i) == "ADJ" || prenom(i)) nomThrough(i + 1)
        else -1
      i -= 1
    }
    // reduced relative clause: a participle directly after the noun it
    // modifies, continued by a preposition or adverb ("lipase located
    // in...", never "chloroplasts showed that..." — a following
    // complementizer or NP means a main verb)
    val redRel = Array.tabulate(n)(j =>
      verb(j) && !prenom(j) && !fwdAux(j) && participleForm(j) &&
        j > 0 && nominal(pos(j - 1)) && j + 1 < n &&
        ((pos(j + 1) == "ADP" && lower(j + 1) != "that") || pos(j + 1) == "ADV"))
    val plainVerb = Array.tabulate(n)(j => verb(j) && !fwdAux(j) && !prenom(j) && !redRel(j))
    // nearest preceding verb for ARGUMENT attachment (subjects/objects
    // skip reduced relatives — "lipase located in X binds Y" arguments
    // belong to the main verb) ...
    val prevPlainVerb = new Array[Int](n)
    // ... while PPs and adverbs attach to the closest verbal form,
    // reduced relatives included ("located IN lipid particles")
    val prevAttachVerb = new Array[Int](n)
    var plain, attach = -1
    i = 0
    while (i < n) {
      prevPlainVerb(i) = plain; prevAttachVerb(i) = attach
      if (plainVerb(i)) plain = i
      if (verb(i) && !fwdAux(i) && !prenom(i)) attach = i
      i += 1
    }
    // first verb to the right (participle modifiers excluded);
    // forward-binding auxiliaries are chased into their target verb
    val nextChainVerb = new Array[Int](n)
    next = -1
    i = n - 1
    while (i >= 0) {
      nextChainVerb(i) = next
      if (verb(i) && !prenom(i) && !redRel(i)) next = i
      i -= 1
    }
    def nextVerbChain(j0: Int): Int = {
      val j = nextChainVerb(j0)
      var t = j
      while (t >= 0 && fwdAux(t)) t = nextVerb(t)
      if (t >= 0) t else j
    }
    // parenthesis depth: the main verb of a sentence never sits inside a
    // parenthetical ("maize ( Zea mays ) PyrR ... restored")
    val depth = new Array[Int](n)
    var d = 0
    i = 0
    while (i < n) {
      if (lower(i) == "(") d += 1
      depth(i) = d
      if (lower(i) == ")" && d > 0) d -= 1
      i += 1
    }
    val root = pos.indices.find(j => plainVerb(j) && depth(j) == 0)
      .orElse(pos.indices.find(plainVerb(_)))
      .orElse(pos.indices.find(verb(_)))
      .getOrElse {
        val firstNoun = pos.indexWhere(nominal)
        if (firstNoun >= 0) runEnd(firstNoun) else 0
      }
    // left-walk skip set for determiners and run-final nouns: the
    // modifier cluster plus hyphenated modifier chunks ("Dnm1p -
    // independent" — a nominal directly followed by a hyphen)
    def modSkip(j: Int): Boolean =
      pos(j) == "DET" || pos(j) == "ADJ" || pos(j) == "ADV" || prenom(j) ||
        lower(j) == "-" ||
        (nominal(pos(j)) && j + 1 < n && lower(j + 1) == "-")
    Array.tabulate(n) { k =>
      if (k == root) root
      else pos(k) match {
        case "PUNCT" =>
          if (lower(k) == "-" && k + 1 < n) k + 1
          // parentheses attach to the head of the enclosed noun phrase
          else if (lower(k) == "(" && k + 1 < n && nominal(pos(k + 1)))
            runEnd(k + 1)
          else if (lower(k) == ")" && k > 0 && nominal(pos(k - 1)))
            runEnd(k - 1)
          else root
        case "VERB" =>
          if (prenom(k)) nomThrough(k + 1)
          else if (fwdAux(k)) nextVerb(k)
          else if (redRel(k)) k - 1
          else {
            val p = prevPlainVerb(k)
            if (p >= 0) p else root
          }
        case "DET" =>
          var j = k + 1
          while (j < n && (pos(j) == "ADJ" || pos(j) == "ADV" || prenom(j) ||
            lower(j) == "-" ||
            (nominal(pos(j)) && j + 1 < n && lower(j + 1) == "-"))) j += 1
          if (j < n && nominal(pos(j))) modTarget(j)
          else if (k + 1 < n && pos(k + 1) == "VERB") k + 1
          else { val p = prevPlainVerb(k); if (p >= 0) p else root }
        case "ADP" =>
          if (lower(k) == "that") {
            val v = nextVerbChain(k)
            if (v >= 0) v
            else if (k > 0 && nominal(pos(k - 1))) k - 1
            else { val p = prevAttachVerb(k); if (p >= 0) p else root }
          }
          else if (lower(k) == "to" && k + 1 < n && pos(k + 1) == "VERB") k + 1
          else if (ccLexicon.contains(lower(k)) && {
            // VP coordination: "colocalizes ... and is required" — the
            // coordinator binds back to the verb, not the preceding NP
            (k + 1 < n && pos(k + 1) == "VERB") ||
              (k + 2 < n && pos(k + 1) == "ADV" && pos(k + 2) == "VERB")
          }) { val p = prevPlainVerb(k); if (p >= 0) p else root }
          else if (k > 0 && nominal(pos(k - 1))) k - 1
          else { val p = prevAttachVerb(k); if (p >= 0) p else root }
        case "ADJ" =>
          val t = nomThrough(k + 1)
          if (t >= 0) t
          else {
            val p = prevAttachVerb(k)
            if (p >= 0) p
            else { val v = nextVerbChain(k); if (v >= 0) v else root }
          }
        case "ADV" =>
          var j = k + 1
          while (j < n && pos(j) == "ADV") j += 1
          if (j < n && (pos(j) == "VERB" || pos(j) == "ADJ")) j
          else {
            val p = prevAttachVerb(k)
            if (p >= 0) p
            else { val v = nextVerbChain(k); if (v >= 0) v else root }
          }
        case _ => // NOUN / NUM
          if (runEnd(k) != k) {
            if (k < modTarget(k)) modTarget(k) else runEnd(k)
          }
          // a run-final noun directly before a hyphenated modifier heads
          // into it: "ubiquitin - dependent", "Fe - S"
          else if (k + 1 < n && lower(k + 1) == "-" && k + 2 < n) k + 2
          else {
            var j = runStart(k) - 1
            while (j >= 0 && modSkip(j)) j -= 1
            if (j >= 0 && pos(j) == "ADP") {
              if (ccLexicon.contains(lower(j)) && j > 0 && nominal(pos(j - 1)))
                j - 1
              else if (lower(j) == "that") {
                // subject of the embedded clause: "showed that PyrR ...
                // are taken"
                val v = nextVerbChain(k)
                if (v >= 0) v else j
              }
              else j
            }
            // parenthetical apposition: "pea ( Pisum sativum )" — the
            // enclosed NP belongs to the noun before the parenthesis
            else if (j >= 0 && lower(j) == "(" && j > 0 &&
              nominal(pos(j - 1))) modTarget(j - 1)
            else {
              val p = prevPlainVerb(k)
              if (p >= 0) p
              else { val v = nextVerbChain(k); if (v >= 0) v else root }
            }
          }
      }
    }
  }

  /** Undirected adjacency list from head assignments plus extra links
    * (e.g. the combined-sentence synthetic root↔root and same-lemma
    * links of `data.py:1617-1666`).
    */
  def adjacency(n: Int, heads: Array[Int], extra: Seq[(Int, Int)] = Nil): Array[List[Int]] = {
    val adj = Array.fill(n)(List.empty[Int])
    def link(a: Int, b: Int): Unit = if (a != b) {
      adj(a) ::= b; adj(b) ::= a
    }
    heads.zipWithIndex.foreach { case (h, i) => link(i, h) }
    extra.foreach { case (a, b) => link(a, b) }
    adj
  }

  /** BFS shortest path (unweighted, mirrors the reference's
    * uniform-weight Dijkstra, `utils/graphs.py:78-125`): returns node
    * sequence u..v inclusive, or empty when unreachable.
    */
  def shortestPath(adj: Array[List[Int]], u: Int, v: Int): Vector[Int] = {
    if (u == v) return Vector(u)
    val n = adj.length
    val prev = Array.fill(n)(-1)
    val q = scala.collection.mutable.Queue(u)
    prev(u) = u
    while (q.nonEmpty) {
      val x = q.dequeue()
      // visit neighbors in ascending order for determinism
      adj(x).sorted.foreach { y =>
        if (prev(y) < 0) {
          prev(y) = x
          if (y == v) {
            var path = List(v)
            var c = v
            while (c != u) { c = prev(c); path ::= c }
            return path.toVector
          }
          q.enqueue(y)
        }
      }
    }
    Vector.empty
  }

  /** [[shortestPath]]'s BFS from `u` run to the end: each node's predecessor
    * (u for u, -1 if unreachable), set once in the same ascending order, so
    * [[treePath]] gives `shortestPath(adj, u, v)` for every v. */
  def bfsTree(adj: Array[List[Int]], u: Int): Array[Int] = {
    val prev = Array.fill(adj.length)(-1)
    val q = new Array[Int](adj.length)
    var qh = 0; var qt = 1
    prev(u) = u; q(0) = u
    while (qh < qt) {
      val x = q(qh); qh += 1
      adj(x).sorted.foreach { y =>
        if (prev(y) < 0) { prev(y) = x; q(qt) = y; qt += 1 }
      }
    }
    prev
  }

  /** The path u..v in `u`'s [[bfsTree]], empty when v is unreachable. */
  def treePath(prev: Array[Int], u: Int, v: Int): Array[Int] =
    if (prev(v) < 0) Array.emptyIntArray
    else {
      var n = 1; var c = v
      while (c != u) { c = prev(c); n += 1 }
      val path = new Array[Int](n)
      c = v
      while (n > 0) { n -= 1; path(n) = c; c = prev(c) }
      path
    }

  /** All-pairs distances (Floyd-Warshall, `utils/graphs.py:128-166`) —
    * used by the property tests to cross-check BFS.
    */
  def allPairs(adj: Array[List[Int]]): Array[Array[Int]] = {
    val n = adj.length
    val INF = Int.MaxValue / 4
    val d = Array.fill(n, n)(INF)
    (0 until n).foreach(i => d(i)(i) = 0)
    adj.zipWithIndex.foreach { case (ns, i) => ns.foreach(j => d(i)(j) = 1) }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
    d
  }

  /** The root of a head assignment: the first token that is its own
    * head, 0 when none is.
    */
  def root(heads: Array[Int]): Int = {
    var i = 0
    while (i < heads.length) { if (heads(i) == i) return i; i += 1 }
    0
  }

  /** BFS depth of every token from the root — `Part.compute_tokens_depth`
    * (`data.py:1124-1159`).
    */
  def depths(adj: Array[List[Int]], root: Int): Array[Int] = {
    val n = adj.length
    val d = Array.fill(n)(-1)
    d(root) = 0
    val q = scala.collection.mutable.Queue(root)
    while (q.nonEmpty) {
      val x = q.dequeue()
      adj(x).foreach { y => if (d(y) < 0) { d(y) = d(x) + 1; q.enqueue(y) } }
    }
    d
  }

  private val negWords = Set("not", "no", "never", "n't", "nor", "neither", "cannot")

  /** Negation parity over an arbitrary token subsequence (used for path
    * middles, where no contiguous parse exists): negated iff the count of
    * negation tokens is odd. For a full parsed sentence, prefer
    * [[isNegatedLabeled]], which counts `neg`-LABELED dependencies
    * exactly like `Part.is_sentence_negated` (`data.py:1106-1118`) — the
    * two agree whenever no negation token is the sentence root, since
    * [[depLabels]] labels every non-root negation token "neg".
    */
  def isNegated(toks: IndexedSeq[Tok]): Boolean = isNegatedLower(toks.iterator.map(_.word.toLowerCase))

  /** [[isNegated]] over words already lowercased. */
  def isNegatedLower(words: Iterator[String]): Boolean = words.count(negWords.contains) % 2 == 1

  /** `Part.is_sentence_negated` (`data.py:1106-1118`): odd number of
    * dependencies labeled `neg`.
    */
  def isNegatedLabeled(labels: Array[String]): Boolean = {
    var n = 0
    var i = 0
    while (i < labels.length) { if (labels(i) == "neg") n += 1; i += 1 }
    n % 2 == 1
  }

  /** First verbs reachable from the root — `Part.get_main_verbs`
    * (`data.py:1087-1104`): BFS from the root, collect the first layer
    * of verb tokens encountered.
    */
  def mainVerbs(toks: IndexedSeq[Tok], adj: Array[List[Int]], root: Int): Seq[Int] =
    mainVerbs(adj, root, coarsePos(toks))

  /** [[mainVerbs]] over each token's [[coarsePos]] (hot-loop form): the BFS
    * layers sit one after another in one queue, each sorted ascending once
    * it is complete, and a seen array keeps every token in one layer.
    */
  def mainVerbs(adj: Array[List[Int]], root: Int, pos: Array[String]): Seq[Int] = {
    if (pos.isEmpty) return Nil
    if (pos(root) == "VERB") return List(root)
    val seen = new Array[Boolean](pos.length)
    val queue = new Array[Int](pos.length)
    seen(root) = true; queue(0) = root
    var from = 0; var until = 1
    while (from < until) {
      var end = until
      var k = from
      while (k < until) {
        adj(queue(k)).foreach { y => if (!seen(y)) { seen(y) = true; queue(end) = y; end += 1 } }
        k += 1
      }
      java.util.Arrays.sort(queue, until, end)
      val verbs = (until until end).iterator.map(queue(_)).filter(pos(_) == "VERB").toList
      if (verbs.nonEmpty) return verbs
      from = until; until = end
    }
    Nil
  }

  /** Index range (first, last) of the tokens lying fully inside [begin,
    * end], (-1, -1) if none: one range, as tokens are offset-ascending.
    */
  def tokenRange(toks: IndexedSeq[Tok], begin: Int, end: Int): (Int, Int) = {
    def inside(t: Tok) = t.begin >= begin && t.end <= end
    (toks.indexWhere(inside), toks.lastIndexWhere(inside))
  }

  /** Head token of an entity's [[tokenRange]] (-1 if empty): the token
    * with minimum depth, nouns preferred, first wins —
    * `Part.set_entities_head_tokens` (`data.py:1162-1220`).
    */
  def entityHead(toks: IndexedSeq[Tok], depth: Array[Int], range: (Int, Int)): Int =
    entityHead(depth, range, coarsePos(toks))

  /** [[entityHead]] over each token's [[coarsePos]] (hot-loop form): the
    * first minimum-depth noun of the range, else its first minimum-depth
    * non-punctuation token, else its first minimum-depth token.
    */
  def entityHead(depth: Array[Int], range: (Int, Int), pos: Array[String]): Int = {
    var noun, word, any = -1
    var i = range._1
    while (i >= 0 && i <= range._2) {
      if (any < 0 || depth(i) < depth(any)) any = i
      if (pos(i) != "PUNCT" && (word < 0 || depth(i) < depth(word))) word = i
      if (pos(i) == "NOUN" && (noun < 0 || depth(i) < depth(noun))) noun = i
      i += 1
    }
    if (noun >= 0) noun else if (word >= 0) word else any
  }
}
