package graft.pipeline

import java.util.Locale

/** The Porter stemming algorithm in TWO published flavors:
  *
  *  - [[stemOriginal]]: M.F. Porter, "An algorithm for suffix
  *    stripping", Program 14(3), 1980 — the original algorithm.
  *  - [[stem]] (default): the NLTK_EXTENSIONS mode of nltk's
  *    PorterStemmer — the original plus nltk's published extension
  *    rules (an irregular-form pool: dying→die, skies→sky, …; the
  *    length-4 "ies"/"ied" → "ie" special case: dies→die, died→die;
  *    Martin Porter's later step-1c revision: y→i only after a
  *    consonant, so enjoy→enjoy but happy→happi; the step-2 "alli"
  *    early rule with re-run, and the "logi"→"log" rule). The METEOR
  *    stem-match stage uses THIS mode because the reference scores
  *    METEOR via nltk (eval_ocr.py:90), whose default stemmer is
  *    NLTK_EXTENSIONS — with the original algorithm, stem-stage
  *    alignments diverge on exactly those words.
  *
  * Pure, deterministic, allocation-light: operates on a char buffer.
  */
object PorterStemmer {

  // nltk's irregular_forms pool (NLTK_EXTENSIONS only): form -> stem
  private val Pool: Map[String, String] = Map(
    "sky" -> "sky", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "news" -> "news", "innings" -> "inning",
    "inning" -> "inning", "outings" -> "outing", "outing" -> "outing",
    "cannings" -> "canning", "canning" -> "canning", "howe" -> "howe",
    "proceed" -> "proceed", "exceed" -> "exceed", "succeed" -> "succeed")

  // rule tables pre-sorted longest-suffix-first ONCE (stem() runs per
  // token in the METEOR alignment hot path; sorting constants per call
  // was measurable waste). Longest-first equals nltk's first-match rule
  // order for these tables (no shorter suffix shadows a longer one).
  private val Step2Base: Seq[(String, String)] = Seq(
    "ational" -> "ate", "tional" -> "tion", "enci" -> "ence", "anci" -> "ance",
    "izer" -> "ize", "abli" -> "able", "alli" -> "al", "entli" -> "ent",
    "eli" -> "e", "ousli" -> "ous", "ization" -> "ize", "ation" -> "ate",
    "ator" -> "ate", "alism" -> "al", "iveness" -> "ive", "fulness" -> "ful",
    "ousness" -> "ous", "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble")
  private val Step2Rules: Seq[(String, String)] = Step2Base.sortBy(-_._1.length)
  private val Step2RulesNltk: Seq[(String, String)] =
    (Step2Base :+ ("logi" -> "log")).sortBy(-_._1.length)
  private val Step3Rules: Seq[(String, String)] = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ful" -> "", "ness" -> "").sortBy(-_._1.length)
  private val Step4Rules: Seq[(String, String)] = Seq("al", "ance", "ence",
    "er", "ic", "able", "ible", "ant", "ement", "ment", "ent", "ou", "ism",
    "ate", "iti", "ous", "ive", "ize").map(_ -> "").sortBy(-_._1.length)

  /** nltk NLTK_EXTENSIONS behavior — what `nltk.meteor_score` stems
    * with. */
  def stem(word: String): String = {
    val lower = word.toLowerCase(Locale.ROOT)
    Pool.get(lower) match {
      case Some(s) => s
      case None => run(lower, nltk = true)
    }
  }

  /** The unextended 1980 algorithm. */
  def stemOriginal(word: String): String = run(word.toLowerCase(Locale.ROOT), nltk = false)

  private def run(word: String, nltk: Boolean): String = {
    if (word.length <= 2) return word
    val b = word.toCharArray
    var end = b.length // exclusive
    def isCons(i: Int): Boolean = b(i) match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => false
      case 'y' => i == 0 || !isCons(i - 1)
      case _ => true
    }
    /** measure m of b[0, limit): [C](VC)^m[V] */
    def measure(limit: Int): Int = {
      var m = 0; var i = 0
      while (i < limit && isCons(i)) i += 1
      while (i < limit) {
        while (i < limit && !isCons(i)) i += 1
        if (i < limit) { m += 1; while (i < limit && isCons(i)) i += 1 }
      }
      m
    }
    def hasVowel(limit: Int): Boolean = (0 until limit).exists(!isCons(_))
    def endsWith(s: String): Boolean = {
      if (s.length > end) return false
      var i = 0
      while (i < s.length) {
        if (b(end - s.length + i) != s.charAt(i)) return false
        i += 1
      }
      true
    }
    def setTo(suffixLen: Int, repl: String): Unit = {
      var i = 0
      while (i < repl.length) { b(end - suffixLen + i) = repl.charAt(i); i += 1 }
      end = end - suffixLen + repl.length
    }
    def doubleCons: Boolean =
      end >= 2 && b(end - 1) == b(end - 2) && isCons(end - 1)
    /** *o: CVC where final C is not w, x, y */
    def cvc(at: Int): Boolean =
      at >= 2 && isCons(at) && !isCons(at - 1) && isCons(at - 2) &&
        b(at) != 'w' && b(at) != 'x' && b(at) != 'y'

    // ---- step 1a
    // nltk extension: length-4 "ies" keeps the e ('dies'->'die' but
    // 'flies'->'fli')
    if (nltk && end == 4 && endsWith("ies")) setTo(3, "ie")
    else if (endsWith("sses")) setTo(4, "ss")
    else if (endsWith("ies")) setTo(3, "i")
    else if (endsWith("ss")) ()
    else if (endsWith("s")) setTo(1, "")

    // ---- step 1b
    // nltk extension: "ied" short-circuits the whole step (no fixups):
    // 'died'->'die', 'spied'->'spi'
    if (nltk && endsWith("ied")) {
      if (end == 4) setTo(3, "ie") else setTo(3, "i")
    } else {
      var step1bFired = false
      if (endsWith("eed")) {
        if (measure(end - 3) > 0) setTo(3, "ee")
      } else if (endsWith("ed") && hasVowel(end - 2)) {
        setTo(2, ""); step1bFired = true
      } else if (endsWith("ing") && hasVowel(end - 3)) {
        setTo(3, ""); step1bFired = true
      }
      if (step1bFired) {
        if (endsWith("at")) setTo(2, "ate")
        else if (endsWith("bl")) setTo(2, "ble")
        else if (endsWith("iz")) setTo(2, "ize")
        else if (doubleCons && !endsWith("l") && !endsWith("s") && !endsWith("z")) end -= 1
        else if (measure(end) == 1 && cvc(end - 1)) setTo(0, "e")
      }
    }

    // ---- step 1c
    // original: (*v*) Y -> I. nltk uses Martin Porter's later revision:
    // y -> i only when preceded by a consonant and the stem is longer
    // than one char ('happy'->'happi' but 'enjoy'->'enjoy', 'by'->'by')
    if (endsWith("y")) {
      val fire =
        if (nltk) end - 1 > 1 && isCons(end - 2)
        else hasVowel(end - 1)
      if (fire) setTo(1, "i")
    }

    // Porter's rule-selection contract: within a step, the LONGEST
    // matching suffix is selected first and only then is its condition
    // tested; a failed condition ends the step (no fall-through to a
    // shorter suffix). Rule tables are pre-sorted at object init.
    def applyStep(rules: Seq[(String, String)], minM: Int): Unit = {
      rules.find { case (s, _) => endsWith(s) }.foreach {
        case (s, r) => if (measure(end - s.length) > minM - 1) setTo(s.length, r)
      }
    }

    // ---- step 2 (m > 0 over the stem before the suffix)
    // nltk extension: the ALLI -> AL rule is tried FIRST and, when it
    // fires, step 2 is re-run on the result
    if (nltk) {
      var again = true
      while (again) {
        again = false
        if (endsWith("alli") && measure(end - 4) > 0) { setTo(4, "al"); again = true }
        else applyStep(Step2RulesNltk, minM = 1)
      }
    } else applyStep(Step2Rules, minM = 1)

    // ---- step 3
    applyStep(Step3Rules, minM = 1)

    // ---- step 4 (m > 1; "ion" additionally requires *S or *T before it)
    if (endsWith("ion")) {
      if (measure(end - 3) > 1 && end >= 4 && (b(end - 4) == 's' || b(end - 4) == 't'))
        setTo(3, "")
    } else applyStep(Step4Rules, minM = 2)

    // ---- step 5a
    if (endsWith("e")) {
      val m = measure(end - 1)
      if (m > 1 || (m == 1 && !cvc(end - 2))) end -= 1
    }
    // ---- step 5b
    if (end >= 2 && b(end - 1) == 'l' && doubleCons && measure(end) > 1) end -= 1

    new String(b, 0, end)
  }
}
