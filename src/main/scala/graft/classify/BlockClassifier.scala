package graft.classify

import graft.html.{Block, Tags}

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

  /** The rule over a block's fields: `flags` are the kind's `Tags.flags`
    * (`FContent`: content whenever it carries text and passes the
    * link-density gate; `FListItem`: structured, needs substance), `len`
    * the text length and `words` its word count. The extractor calls it
    * at block flush, with no `Block` built. */
  def keep(flags: Int, headingLevel: Int, len: Int, words: Int, linkChars: Int,
      inBoilerplateContainer: Boolean): Boolean = {
    if (len == 0 || inBoilerplateContainer) false
    else {
      val linkDensity = linkChars.toDouble / len.toDouble
      if (linkDensity > MaxLinkDensity) false
      else if (headingLevel > 0) words >= 1
      else if ((flags & Tags.FContent) != 0) true
      else if ((flags & Tags.FListItem) != 0) words >= MinListItemWords && linkDensity <= 0.2
      else words >= MinFreeTextWords
    }
  }

  def keep(b: Block): Boolean =
    keep(Tags.flags(b.kind), b.headingLevel, b.text.length, b.words, b.linkChars,
      b.inBoilerplateContainer)
}
