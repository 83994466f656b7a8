package graft.extract

import graft.html.{Html5Tokenizer, KernelScratch, TagOpen, TextBuf}
import java.util.Locale
import scala.util.control.ControlThrowable

/** Page metadata extraction — title, description, OpenGraph, canonical
  * URL, published time, declared language — the per-document header
  * fields a training corpus carries beside the extracted text (and the
  * web analog of the reference's per-image result metadata;
  * GOT/demo/run_ocr_2.0.py keeps filename/mode beside each output).
  *
  * Semantics:
  *  - fields come from the document HEAD only: the scan stops at the
  *    earlier of `</head>` or `<body>` (metadata is head-scoped per the
  *    HTML spec; a body-placed og tag is spam-shaped, not metadata) —
  *    and because `<head>` precedes all content, the kernel reads a few
  *    KB of a crawl payload, not the whole document. Early exit rides a
  *    ControlThrowable (no stack trace cost; thrown once per doc). This
  *    is the only code that knows where the head ends: the block builder
  *    gives `head` no role (`Tags`);
  *  - FIRST occurrence wins for every field (browser/crawler behavior);
  *  - `<title>` text is entity-decoded by the tokenizer and
  *    whitespace-collapsed as it arrives ([[graft.html.TextBuf]], the
  *    extraction kernel's collapse);
  *  - `<meta name="description">`, `<meta property="og:title">`,
  *    `og:description`, `article:published_time` read `content`;
  *    name/property match case-insensitively (crawl HTML mixes case);
  *  - `<link rel="canonical">` reads `href` (rel matched as a
  *    whitespace-separated token list, case-insensitive);
  *  - `<html lang>` reads the attribute, lowercased;
  *  - absent fields are "" — never null (the column stays total);
  *  - truncated payloads keep every field seen before the cut (the
  *    extraction kernel's leniency discipline).
  *
  * Scale shape: pure map over the payload prefix via the streaming
  * tokenizer — no DOM, no token list; shuffle-free until the caller's
  * aggregate (the Outlinks/TableMd kernel shape).
  */
object Meta {

  final case class PageMeta(title: String, description: String,
      ogTitle: String, ogDescription: String, canonical: String,
      publishedTime: String, htmlLang: String)

  val Empty: PageMeta = PageMeta("", "", "", "", "", "", "")

  private final class Done extends ControlThrowable

  def extract(bytes: Array[Byte]): PageMeta = {
    if (!Extractor.isKernelHtml(bytes)) return Empty
    var title = ""; var desc = ""; var ogt = ""; var ogd = ""
    var canon = ""; var pub = ""; var lang = ""
    val ks = KernelScratch.get()
    val sink = new Html5Tokenizer.TokenSink {
      private var inTitle = false
      private val titleBuf = new TextBuf(ks)

      private def relHasToken(rel: String, tok: String): Boolean =
        rel.toLowerCase(Locale.ROOT).split("[ \t\r\n]+").contains(tok)

      def tagOpen(t: TagOpen): Unit = t.name match {
        case "html" =>
          if (lang.isEmpty) lang = t.attrOrEmpty("lang").toLowerCase(Locale.ROOT)
        case "title" if !t.selfClosing =>
          inTitle = title.isEmpty
          titleBuf.clear()
        case "meta" =>
          val key = {
            val n = t.attrOrEmpty("name")
            if (n.nonEmpty) n else t.attrOrEmpty("property")
          }.toLowerCase(Locale.ROOT)
          val v = t.attrOrEmpty("content")
          key match {
            case "description"            => if (desc.isEmpty) desc = v
            case "og:title"               => if (ogt.isEmpty) ogt = v
            case "og:description"         => if (ogd.isEmpty) ogd = v
            case "article:published_time" => if (pub.isEmpty) pub = v
            case _                        => ()
          }
        case "link" =>
          if (canon.isEmpty && relHasToken(t.attrOrEmpty("rel"), "canonical"))
            canon = t.attrOrEmpty("href")
        case "body" => throw new Done // head is over
        case _      => ()
      }
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        name match {
          case "title" =>
            if (inTitle) { title = titleBuf.take(); inTitle = false }
          case "head" => throw new Done
          case _      => ()
        }
      def text(chars: Array[Char], from: Int, len: Int, sb: Int, eb: Int): Unit =
        if (inTitle) titleBuf.append(chars, from, len)
    }
    try Html5Tokenizer.stream(bytes, sink, ks)
    catch { case _: Done => () }
    finally KernelScratch.release(ks)
    PageMeta(title, desc, ogt, ogd, canon, pub, lang)
  }
}
