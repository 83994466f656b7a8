package graft.html

/** The one owner of tag-name knowledge: the role sets the tokenizer, the
  * block builder and the classifier read, and the intern table their
  * names come from.
  *
  * One fixed open-addressing table (linear probe on `String.hashCode`,
  * which a String caches, so `flags` on a seen name hashes nothing) is seeded
  * from the role sets and the common tag/attribute names a crawl
  * serves. A slot holds the interned name and its role bits, so
  * `intern` returns the same String instance for every spelling of a
  * seeded name (no allocation per tag, and `flags` on that instance
  * hits the `eq` fast path), and `flags` costs one probe. The table is
  * never written after seeding, so hostile unique-name floods cannot
  * grow it; a miss costs one probe chain to the first null slot.
  */
object Tags {
  /** Content is raw text: no entities, no nested tags. */
  final val FRawtext = 1
  /** Content is text with entities but no nested tags. */
  final val FRcdata = 2
  /** Entire content is suppressed (never extracted). */
  final val FSuppress = 4
  /** Starts a new block. */
  final val FBlock = 8
  /** Semantic-HTML5 boilerplate container (classifier hard-drop). */
  final val FBoiler = 16
  /** Content whenever it carries text and passes the link-density gate (classifier). */
  final val FContent = 32
  /** List item: kept with a minimum of words and few links (classifier). */
  final val FListItem = 64

  private val rawtext: Set[String] = Set("script", "style", "xmp", "iframe", "noembed", "noframes")
  private val rcdata: Set[String] = Set("textarea", "title")
  /** `head` is absent: its text-bearing children (title, script, style,
    * noscript, template) suppress themselves, and HTML5's "in head"
    * insertion mode sends any other text to the body. So the block
    * builder never waits for an optional `</head>`; where the head ends
    * is `Meta`'s alone to decide. */
  private val suppress: Set[String] = Set("script", "style", "noscript", "template",
    "svg", "title", "textarea", "select", "button", "iframe",
    "object", "xmp", "noembed", "noframes")
  private val block: Set[String] = Set("p", "h1", "h2", "h3", "h4", "h5", "h6", "li",
    "pre", "blockquote", "div", "section", "article", "main", "nav",
    "header", "footer", "aside", "ul", "ol", "dl", "dt", "dd", "figure",
    "figcaption", "caption", "body", "tr", "hr", "address", "details", "summary")
  private val boilerplate: Set[String] = Set("nav", "footer", "aside", "header", "form")
  private val content: Set[String] = Set("p", "pre", "blockquote", "table", "caption",
    "figcaption", "td", "summary")
  private val listItem: Set[String] = Set("li", "dt", "dd")

  /** Each role set with its bit. */
  val roles: Seq[(Set[String], Int)] = Seq(rawtext -> FRawtext, rcdata -> FRcdata,
    suppress -> FSuppress, block -> FBlock, boilerplate -> FBoiler,
    content -> FContent, listItem -> FListItem)

  /** Names interned beside the role sets: with them, the tags and
    * attributes that cover essentially every name a crawl serves. */
  private val common = Seq(
    // elements
    "a", "abbr", "area", "b", "base", "br", "code", "col", "em", "embed",
    "fieldset", "head", "html", "i", "img", "input", "label", "legend",
    "link", "meta", "option", "param", "small", "source", "span",
    "strong", "sup", "table", "tbody", "td", "tfoot", "th", "thead",
    "time", "track", "u", "wbr",
    // attributes
    "class", "id", "href", "src", "style", "rel", "type", "name",
    "content", "charset", "alt", "title", "width", "height", "lang",
    "target", "value", "role", "data-src")

  private final val Mask = 511
  private val names = new Array[String](Mask + 1)
  private val vals = new Array[Int](Mask + 1)
  locally {
    def add(n: String, f: Int): Unit = {
      var slot = n.hashCode & Mask
      while (names(slot) != null && names(slot) != n) slot = (slot + 1) & Mask
      names(slot) = n
      vals(slot) |= f
    }
    roles.foreach { case (set, f) => set.foreach(add(_, f)) }
    common.foreach(add(_, 0))
  }

  /** Role bits of a lowercased name; 0 for a name in no role set. */
  def flags(name: String): Int = {
    var slot = name.hashCode & Mask
    var e = names(slot)
    while (e != null) {
      if ((e eq name) || e == name) return vals(slot)
      slot = (slot + 1) & Mask
      e = names(slot)
    }
    0
  }

  /** 1..6 for h1..h6, else 0: a block's heading level. */
  def headingLevel(name: String): Int =
    if (name.length == 2 && name.charAt(0) == 'h' && name.charAt(1).isDigit) name.charAt(1) - '0' else 0

  /** ASCII-lowercased string from a char range — the HTML5 tag/attr name
    * rule (ASCII case-insensitivity only). Seeded names return the
    * table's instance; the rest allocate a fresh string. */
  def intern(a: Array[Char], from: Int, len: Int): String = {
    // single pass: case-folded hash + uppercase detection
    var h = 0 // String.hashCode of the lowercased name
    var hasUpper = false
    var k = 0
    while (k < len) {
      var c = a(from + k)
      if (c >= 'A' && c <= 'Z') { hasUpper = true; c = (c + 32).toChar }
      h = 31 * h + c
      k += 1
    }
    var slot = h & Mask
    var entry = names(slot)
    while (entry != null) {
      if (entry.length == len) {
        var j = 0
        var eq = true
        while (eq && j < len) {
          var c = a(from + j)
          if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
          if (c != entry.charAt(j)) eq = false
          j += 1
        }
        if (eq) return entry
      }
      slot = (slot + 1) & Mask
      entry = names(slot)
    }
    if (!hasUpper) new String(a, from, len)
    else {
      val out = new Array[Char](len); var j = 0
      while (j < len) {
        val c = a(from + j)
        out(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(out)
    }
  }
}
