package graft.pipeline

/** Corpus-eval metric kernel (SURVEY.md §2.5 A1-A8), re-derived from the
  * published definitions the reference invokes via nltk/jieba
  * (GOT/eval/pyevaltools/eval_ocr.py:64-104):
  *
  *  - tokenization: whitespace split for Latin text; per-character for
  *    text containing CJK (the reference uses the jieba segmenter —
  *    unavailable offline; per-char is the documented deterministic
  *    stand-in, equivalent to the reference's scene-text char mode,
  *    eval_ocr_scene.py:30-52)
  *  - BLEU: nltk default semantics — 4-gram uniform weights, clipped
  *    modified precision, no smoothing (any zero p_n → 0), brevity
  *    penalty exp(1 - r/h)
  *  - f_measure/precision/recall: token-SET based (nltk.metrics.scores)
  *  - edit_dist: levenshtein(pred, gt) / max(len)
  *  - chrF: deterministic replacement for METEOR (WordNet dependency —
  *    documented gap, SURVEY.md A5)
  *  - category split: the reference's three regexes ported byte-exactly
  */
object Metrics {

  private val chinesePattern = "[一-龥]".r

  def containsChinese(s: String): Boolean = chinesePattern.findFirstIn(s).isDefined

  /** eval tokenization (eval_ocr.py:80-85). Default zh handling is
    * per-character (deterministic scene-text semantics); `zhWords=true`
    * swaps in the lexicon-based forward-maximum-matching segmenter
    * (graft.functions.ZhSegment) — the documented stand-in for the
    * reference's jieba dependency. */
  def tokens(s: String, zhWords: Boolean = false): Array[String] =
    if (containsChinese(s)) {
      if (zhWords) graft.functions.ZhSegment.segment(s)
      else s.toCharArray.map(_.toString).filterNot(_.isBlank)
    } else s.split("\\s+").filter(_.nonEmpty)

  // ------------------------------------------------------------- BLEU (A4)

  private def ngramCounts(toks: Array[String], n: Int): Map[Seq[String], Int] = {
    if (toks.length < n) return Map.empty
    val m = scala.collection.mutable.HashMap.empty[Seq[String], Int]
    var i = 0
    while (i + n <= toks.length) {
      val g = toks.slice(i, i + n).toSeq
      m.update(g, m.getOrElse(g, 0) + 1)
      i += 1
    }
    m.toMap
  }

  /** Sentence BLEU, nltk-default semantics. */
  def bleu(reference: Array[String], hypothesis: Array[String], maxN: Int = 4): Double = {
    if (hypothesis.isEmpty || reference.isEmpty) return 0.0
    val logPs = (1 to maxN).map { n =>
      val hyp = ngramCounts(hypothesis, n)
      val ref = ngramCounts(reference, n)
      val clipped = hyp.map { case (g, c) => math.min(c, ref.getOrElse(g, 0)) }.sum
      val total = hyp.values.sum
      if (total == 0 || clipped == 0) return 0.0 // no smoothing
      math.log(clipped.toDouble / total.toDouble)
    }
    val bp =
      if (hypothesis.length > reference.length) 1.0
      else math.exp(1.0 - reference.length.toDouble / hypothesis.length.toDouble)
    bp * math.exp(logPs.sum / maxN)
  }

  // ------------------------------------- set precision / recall / F1 (A3)

  def precision(reference: Set[String], hypothesis: Set[String]): Double =
    if (hypothesis.isEmpty) 0.0
    else (reference & hypothesis).size.toDouble / hypothesis.size.toDouble

  def recall(reference: Set[String], hypothesis: Set[String]): Double =
    if (reference.isEmpty) 0.0
    else (reference & hypothesis).size.toDouble / reference.size.toDouble

  /** nltk f_measure with alpha=0.5 (harmonic mean). */
  def fMeasure(reference: Set[String], hypothesis: Set[String], alpha: Double = 0.5): Double = {
    val p = precision(reference, hypothesis)
    val r = recall(reference, hypothesis)
    if (p == 0.0 || r == 0.0) 0.0
    else 1.0 / (alpha / p + (1 - alpha) / r)
  }

  // ------------------------------------------------- edit distance (A6)

  def editDistance(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      i += 1
    }
    prev(b.length)
  }

  def normalizedEditDistance(pred: String, gt: String): Double =
    if (pred.isEmpty && gt.isEmpty) 0.0
    else editDistance(pred, gt).toDouble / math.max(pred.length, gt.length).toDouble

  // ----------------------------------------------------------- chrF (A5)

  /** chrF (Popović 2015): character n-gram F-score, n=1..6, beta=2.
    * Deterministic METEOR replacement (documented, SURVEY.md A5). */
  def chrF(reference: String, hypothesis: String, maxN: Int = 6, beta: Double = 2.0): Double = {
    val ref = reference.replaceAll("\\s+", "")
    val hyp = hypothesis.replaceAll("\\s+", "")
    if (ref.isEmpty || hyp.isEmpty) return 0.0
    var sumP = 0.0; var sumR = 0.0; var orders = 0
    (1 to maxN).foreach { n =>
      if (ref.length >= n || hyp.length >= n) {
        val rg = ngramCounts(ref.toCharArray.map(_.toString), n)
        val hg = ngramCounts(hyp.toCharArray.map(_.toString), n)
        val overlap = hg.map { case (g, c) => math.min(c, rg.getOrElse(g, 0)) }.sum
        val hTot = hg.values.sum
        val rTot = rg.values.sum
        sumP += (if (hTot == 0) 0.0 else overlap.toDouble / hTot)
        sumR += (if (rTot == 0) 0.0 else overlap.toDouble / rTot)
        orders += 1
      }
    }
    if (orders == 0) return 0.0
    val p = sumP / orders
    val r = sumR / orders
    if (p == 0.0 && r == 0.0) 0.0
    else (1 + beta * beta) * p * r / (beta * beta * p + r)
  }

  // --------------------------------------------------------- METEOR (A5)

  /** METEOR (Banerjee & Lavie 2005), re-derived from the published
    * definition with the parameters the reference's scorer defaults to
    * (alpha=0.9, beta=3, gamma=0.5; eval_ocr.py:90 calls nltk
    * meteor_score): unigram alignment in ordered stages — exact match,
    * then Porter-stem match — followed by the fragmentation penalty over
    * chunk count. Tokens are lowercased on entry (nltk meteor_score's
    * preprocess=str.lower — without it the exact stage diverges on any
    * case difference). The third nltk stage (WordNet synonymy) requires
    * the WordNet database and is omitted — the one documented residual
    * gap; on transcription-style text synonym matches are rare, so this
    * covers the metric's mass. The stemmer runs in nltk's default
    * NLTK_EXTENSIONS mode (PorterStemmer.stem: irregular-form pool,
    * ies/ied length-4 rules, revised step 1c — pinned by MeteorSpec
    * vectors), matching what nltk meteor_score actually stems with.
    * chrF remains available alongside.
    */
  def meteor(refTokens: Array[String], hypTokens: Array[String],
      alpha: Double = 0.9, beta: Double = 3.0, gamma: Double = 0.5): Double = {
    if (refTokens.isEmpty || hypTokens.isEmpty) return 0.0
    val reference = refTokens.map(_.toLowerCase(java.util.Locale.ROOT))
    val hypothesis = hypTokens.map(_.toLowerCase(java.util.Locale.ROOT))
    val refMatched = new Array[Boolean](reference.length)
    val hypMatched = new Array[Boolean](hypothesis.length)
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (hypIdx, refIdx)
    def stage(key: String => String): Unit = {
      val refKeys = reference.map(key)
      val hypKeys = hypothesis.map(key)
      var i = 0
      while (i < hypothesis.length) {
        if (!hypMatched(i)) {
          var j = 0
          var found = -1
          while (found < 0 && j < reference.length) {
            if (!refMatched(j) && refKeys(j) == hypKeys(i)) found = j
            j += 1
          }
          if (found >= 0) {
            refMatched(found) = true; hypMatched(i) = true
            pairs += ((i, found))
          }
        }
        i += 1
      }
    }
    stage(identity)             // stage 1: exact
    stage(PorterStemmer.stem)   // stage 2: stems
    val m = pairs.length
    if (m == 0) return 0.0
    val sorted = pairs.sortBy(_._1)
    var chunks = 1
    var k = 1
    while (k < sorted.length) {
      if (sorted(k)._1 != sorted(k - 1)._1 + 1 || sorted(k)._2 != sorted(k - 1)._2 + 1)
        chunks += 1
      k += 1
    }
    val p = m.toDouble / hypothesis.length
    val r = m.toDouble / reference.length
    val fmean = p * r / (alpha * p + (1 - alpha) * r)
    val penalty = gamma * math.pow(chunks.toDouble / m, beta)
    fmean * (1.0 - penalty)
  }

  // ------------------------------------------- category split (§2.8, A2)

  /** The reference's three output-category regexes, ported byte-exactly
    * (eval_ocr.py:39-41): inline math \( .. \) with a lookbehind for an
    * escaped close, display math \[ .. \], and tabular environments
    * (DOTALL, unterminated-at-EOF allowed). */
  val inlineReg = "\\\\\\((.*?)(?<!\\\\)\\\\\\)".r
  val displayReg = "\\\\\\[(.+?)(?<!\\\\)\\\\\\]".r
  val tableReg = "(?s)\\\\begin\\{tabular\\}(.+?)(?:\\\\end\\{tabular\\}|$)".r

  /** split_text (eval_ocr.py:44-62): per page → (text, math, table)
    * where math = inline matches + display matches joined by \n. */
  def splitCategories(page: String): (String, String, String) = {
    val inline = inlineReg.findAllMatchIn(page).map(_.group(1)).mkString("\n")
    val display = displayReg.findAllMatchIn(page).map(_.group(1)).mkString("\n")
    val table = tableReg.findAllMatchIn(page).map(_.group(1)).mkString("\n")
    (page.strip(), inline + display, table)
  }

  /** Single-label categorization used by the golden table. */
  def categoryOf(page: String): String = {
    if (tableReg.findFirstIn(page).isDefined) "table"
    else if (inlineReg.findFirstIn(page).isDefined || displayReg.findFirstIn(page).isDefined) "math"
    else "text"
  }

  // ----------------------------------------- full per-doc metric record

  /** nougat_per_metrics (eval_ocr.py:64-104) heavy_mode=2, with chrF in
    * METEOR's slot. Returns empty map below minlen, like the reference. */
  def perDoc(pred: String, gt: String, minLen: Int = 1): Map[String, Double] = {
    if (pred.length < minLen || gt.length < minLen) return Map.empty
    val ref = tokens(gt)
    val hyp = tokens(pred)
    val refSet = ref.toSet
    val hypSet = hyp.toSet
    Map(
      "bleu" -> bleu(ref, hyp),
      "meteor" -> meteor(ref, hyp),
      "chrf" -> chrF(gt, pred),
      "f_measure" -> fMeasure(refSet, hypSet),
      "precision" -> precision(refSet, hypSet),
      "recall" -> recall(refSet, hypSet),
      "edit_dist" -> normalizedEditDistance(pred, gt))
  }
}
