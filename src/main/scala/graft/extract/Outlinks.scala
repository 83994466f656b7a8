package graft.extract

import graft.html.{Html5Tokenizer, TagOpen}
import scala.collection.mutable.ArrayBuffer

/** Outlink extraction — the web-graph construction operator a crawl-scale
  * engine needs beside main-content extraction: every `<a href>` in a page
  * becomes a (href, resolved target host, anchor text, external?) record,
  * and the per-(src_host, dst_host) aggregate is the host link graph.
  *
  * The reference has no link layer (it consumes images,
  * GOT/demo/run_ocr_2.0.py:35-41); this is the Common-Crawl-payload analog
  * mandated by BASELINE.json's web-page input shape — link extraction is
  * how crawl frontiers, PageRank-style quality priors, and domain-level
  * dedup lists get built from the same pages table.
  *
  * Scale shape: pure map over the page payload (reuses the streaming
  * HTML5 tokenizer; no DOM build), so the operator fans out link rows
  * map-side and the ONLY shuffle is the downstream edge aggregate keyed by
  * (src_host, dst_host) — the standard webgraph build at 10^12 pages.
  * Non-HTML payloads (PDF/binary, by magic-byte dispatch) yield no links
  * rather than erroring, matching the pipeline's quarantine discipline.
  */
object Outlinks {

  /** One extracted link: raw href, resolved absolute target host,
    * entity-decoded anchor text, and whether it leaves the source host. */
  final case class Link(href: String, targetHost: String, anchor: String,
      external: Boolean)

  /** Host of an absolute http(s) URL; "" when unparseable. Manual parse —
    * no java.net.URI (throws on hostile crawl URLs) and no allocation
    * beyond the substring. Strips userinfo and port, lowercases. */
  def host(url: String): String = {
    val sep = url.indexOf("://")
    val start =
      if (sep >= 0) sep + 3
      else if (url.startsWith("//")) 2 // protocol-relative
      else return ""
    var end = start
    while (end < url.length && {
      val c = url.charAt(end)
      c != '/' && c != '?' && c != '#'
    }) end += 1
    var s = start
    // userinfo@host
    var at = -1
    var i = start
    while (i < end) { if (url.charAt(i) == '@') at = i; i += 1 }
    if (at >= 0) s = at + 1
    // host:port
    var colon = end
    i = s
    while (i < colon) { if (url.charAt(i) == ':') colon = i else i += 1 }
    if (s >= colon) "" else url.substring(s, colon).toLowerCase
  }

  /** Resolve an href against the page's host. Returns "" for
    * non-navigational schemes (mailto:, javascript:, tel:, data:) and
    * bare fragments. */
  def resolveHost(href: String, baseHost: String): String = {
    val h = href.trim
    if (h.isEmpty || h.startsWith("#")) ""
    else if (h.startsWith("//")) host(h)
    else {
      val colon = h.indexOf(':')
      val slash = h.indexOf('/')
      if (colon > 0 && (slash < 0 || colon < slash)) {
        // scheme-qualified
        val scheme = h.substring(0, colon).toLowerCase
        if (scheme == "http" || scheme == "https") host(h) else ""
      } else baseHost // relative or root-relative path
    }
  }

  /** Extract all anchor links from a page payload. Anchor text is the
    * concatenated entity-decoded text between `<a>` and its `</a>`
    * (nested inline tags contribute their text; a nested `<a>` — invalid
    * HTML the crawl serves anyway — closes the previous anchor, the HTML5
    * "in body" behavior). Streams tokenizer events — no token list is
    * materialized (same fused shape as the extraction kernel). */
  def extract(bytes: Array[Byte], pageUrl: String): Seq[Link] = {
    if (Extractor.payloadKind(bytes) != "html") return Nil
    val baseHost = host(pageUrl)
    val out = ArrayBuffer.empty[Link]
    val sink = new Html5Tokenizer.TokenSink {
      private var href: String = null
      private val anchor = new java.lang.StringBuilder
      def close(): Unit = {
        if (href != null) {
          val target = resolveHost(href, baseHost)
          if (target.nonEmpty)
            out += Link(href, target, anchor.toString.trim,
              external = target != baseHost)
          href = null
          anchor.setLength(0)
        }
      }
      def tagOpen(t: TagOpen): Unit = if (t.name == "a") {
        close() // implicit close of an unterminated anchor
        val h = t.attrOrEmpty("href")
        if (h.nonEmpty) { href = h; anchor.setLength(0) }
      }
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        if (name == "a") close()
      def text(buf: CharSequence, startByte: Int, endByte: Int): Unit =
        if (href != null) anchor.append(buf)
      def comment(chars: Array[Char], from: Int, len: Int, sb: Int, eb: Int): Unit = ()
      def doctype(chars: Array[Char], from: Int, len: Int, sb: Int, eb: Int): Unit = ()
    }
    Html5Tokenizer.stream(bytes, sink)
    sink.close() // EOF closes an open anchor (lenient on truncated payloads)
    out.toSeq
  }
}
