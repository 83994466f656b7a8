package graft

import graft.html.Tags
import org.scalatest.funsuite.AnyFunSuite

class TagsSpec extends AnyFunSuite {
  import Tags._

  // The role sets written out here, not read back from Tags: the
  // tokenizer's states and the block builder's output depend on exactly
  // these names.
  private val expected: Seq[(Set[String], Int)] = Seq(
    Set("script", "style", "xmp", "iframe", "noembed", "noframes") -> FRawtext,
    Set("textarea", "title") -> FRcdata,
    Set("script", "style", "noscript", "template", "svg", "title",
      "textarea", "select", "button", "iframe", "object", "xmp", "noembed",
      "noframes") -> FSuppress,
    Set("p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote",
      "div", "section", "article", "main", "nav", "header", "footer", "aside",
      "ul", "ol", "dl", "dt", "dd", "figure", "figcaption", "caption", "body",
      "tr", "hr", "address", "details", "summary") -> FBlock,
    Set("nav", "footer", "aside", "header", "form") -> FBoiler,
    Set("p", "pre", "blockquote", "table", "caption", "figcaption", "td",
      "summary") -> FContent,
    Set("li", "dt", "dd") -> FListItem)

  private def bits(name: String): Int =
    expected.collect { case (set, f) if set(name) => f }.foldLeft(0)(_ | _)

  test("every role-set name resolves to exactly the union of its role bits") {
    assert(Tags.roles.map(_._2) == expected.map(_._2))
    assert(Tags.roles.map(_._1) == expected.map(_._1))
    for ((set, _) <- expected; name <- set)
      assert(Tags.flags(name) == bits(name), name)
    assert(Tags.flags("div") == FBlock)
    assert(Tags.flags("nav") == (FBlock | FBoiler))
    assert(Tags.flags("script") == (FRawtext | FSuppress))
    assert(Tags.flags("title") == (FRcdata | FSuppress))
    assert(Tags.flags("p") == (FBlock | FContent))
    assert(Tags.flags("table") == FContent)
    assert(Tags.flags("li") == (FBlock | FListItem))
  }

  test("a name in no role set has no flags, interned or not") {
    for (name <- Seq("span", "a", "tbody", "th", "br", "img", "class", "href",
        "x-widget", ""))
      assert(Tags.flags(name) == 0, name)
  }

  test("intern folds ASCII case onto one instance") {
    def at(s: String) = { val a = ("<" + s + ">").toCharArray; Tags.intern(a, 1, s.length) }
    val div = at("div")
    assert(div == "div")
    assert(at("DIV") eq div)
    assert(at("Div") eq div)
    assert(at("data-SRC") eq at("data-src"))
  }

  test("an unknown mixed-case name comes back as a fresh lowercased string") {
    val a = "xMyWidGet".toCharArray
    val s1 = Tags.intern(a, 0, a.length)
    val s2 = Tags.intern(a, 0, a.length)
    assert(s1 == "xmywidget")
    assert(!(s1 eq s2))
    // non-ASCII letters keep their case (HTML5 names fold ASCII only)
    val b = "ÉCOLE".toCharArray
    assert(Tags.intern(b, 0, b.length) == "École")
  }
}
