package graft.functions

import java.util.Locale

/** N-gram-heuristic language identifier (training-data pipeline op).
  *
  * Deterministic and dependency-free: scores a text against small
  * built-in profiles — distinctive character sequences and function
  * words per language — plus a CJK script gate. Profiles are
  * hand-derived from public descriptions of each language's
  * orthography (not trained on any corpus).
  */
object LangId {

  private val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of ", " is ", " that ", " with ", "ing ", " to "),
    "de" -> Seq(" der ", " die ", " das ", " und ", " ist ", " nicht ", "sch", " mit ", "ß"),
    "es" -> Seq(" el ", " la ", " los ", " que ", " es ", " con ", "ción", " una ", "ñ"),
    "fr" -> Seq(" le ", " la ", " les ", " est ", " que ", " avec ", " une ", "é", "ç"),
    "it" -> Seq(" il ", " la ", " che ", " di ", " è ", " con ", "zione"),
    "pt" -> Seq(" o ", " a ", " que ", " de ", " é ", " com ", "ção", "ã"))

  def isCjk(c: Char): Boolean = c >= '一' && c <= '龥'
  def isKana(c: Char): Boolean = (c >= 'ぁ' && c <= 'ヺ')
  def isHangul(c: Char): Boolean = c >= '가' && c <= '힣'
  def isCyrillic(c: Char): Boolean = c >= 'А' && c <= 'я'

  private def countOcc(hay: String, needle: String): Int = {
    var c = 0; var i = hay.indexOf(needle)
    while (i >= 0) { c += 1; i = hay.indexOf(needle, i + 1) }
    c
  }

  /** Best-guess language code, or "und" when nothing scores. */
  def detect(text0: String): String = {
    if (text0 == null || text0.isEmpty) return "und"
    val probe = if (text0.length > 2000) text0.substring(0, 2000) else text0
    // script gates first (cheap, decisive)
    var cjk = 0; var kana = 0; var hangul = 0; var cyr = 0
    var i = 0
    while (i < probe.length) {
      val c = probe.charAt(i)
      if (isCjk(c)) cjk += 1
      else if (isKana(c)) kana += 1
      else if (isHangul(c)) hangul += 1
      else if (isCyrillic(c)) cyr += 1
      i += 1
    }
    val scriptChars = probe.length.max(1)
    if (kana * 20 > scriptChars) return "ja"
    if (hangul * 20 > scriptChars) return "ko"
    if (cjk * 20 > scriptChars) return "zh"
    if (cyr * 5 > scriptChars) return "ru"
    // latin-script languages: profile n-gram hit rate per 1000 chars
    val hay = " " + probe.toLowerCase(Locale.ROOT) + " "
    val scored = profiles.map { case (lang, grams) =>
      lang -> grams.map(g => countOcc(hay, g)).sum
    }
    val (best, hits) = scored.maxBy { case (lang, h) => (h, lang) }
    if (hits == 0) "und" else best
  }
}
