package graft.classify

import graft.html.Block

/** Boilerpipe/Readability-family block classifier, re-derived natively:
  * deterministic text-density / link-density rules over flat blocks
  * (BASELINE.json north_star: "text-density/link-density DOM heuristics").
  *
  * The reference has no such component (its model learns layout
  * end-to-end); these rules are the non-neural re-derivation of its
  * content/no-content decision, mirroring the published Boilerpipe
  * NumWordsRules shape: link-density gate + word-count gate, with
  * semantic-HTML5 containers (nav/footer/aside/header/form) as hard
  * boilerplate evidence.
  */
object BlockClassifier {

  /** Max link density a content block may have (Boilerpipe uses 1/3). */
  final val MaxLinkDensity = 0.333333
  /** Free-floating text (div/section/body) needs this much mass. */
  final val MinFreeTextWords = 8
  /** Structured content (li/dt/dd) needs a minimum of substance. */
  final val MinListItemWords = 2

  /** Tags that are content whenever they carry text and pass the
    * link-density gate. r6: a literal match (compiles to a hashCode
    * switch over mostly hash-memoized interned names) instead of an
    * immutable-Set trie walk — keep() runs once per block per doc. */
  private def isContentTag(k: String): Boolean = k match {
    case "p" | "pre" | "blockquote" | "table" | "caption" |
         "figcaption" | "td" | "summary" => true
    case _ => false
  }

  def keep(b: Block): Boolean = {
    if (b.text.isEmpty) false
    else if (b.inBoilerplateContainer) false
    else if (b.linkDensity > MaxLinkDensity) false
    else if (b.headingLevel > 0) b.words >= 1
    else if (isContentTag(b.kind)) true
    else if (b.kind == "li" || b.kind == "dt" || b.kind == "dd")
      b.words >= MinListItemWords && b.linkDensity <= 0.2
    else b.words >= MinFreeTextWords
  }
}
