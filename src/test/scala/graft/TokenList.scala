package graft

import graft.html._
import scala.collection.immutable.ArraySeq

/** A tokenizer event other than a start tag, materialized. Tokens carry
  * the BYTE span [startByte, endByte) they were decoded from. */
sealed trait HtmlToken { def startByte: Int; def endByte: Int }
final case class TagClose(name: String, startByte: Int, endByte: Int) extends HtmlToken
/** `text` is entity-decoded; the byte span covers the raw (encoded) run. */
final case class TextRun(text: String, startByte: Int, endByte: Int) extends HtmlToken
final case class CommentTok(text: String, startByte: Int, endByte: Int) extends HtmlToken
final case class DoctypeTok(text: String, startByte: Int, endByte: Int) extends HtmlToken

/** The token-list path, kept as the fused path's reference: the
  * tokenizer's events materialized (each a `TagOpen` or an `HtmlToken`),
  * and a replay of such a list through the one block builder
  * (`Dom.BlockSink`). The extraction kernel streams the events straight
  * into the builder. */
object TokenList {

  def tokenize(bytes: Array[Byte]): ArraySeq[AnyRef] = {
    val out = Array.newBuilder[AnyRef]
    Html5Tokenizer.stream(bytes, new Html5Tokenizer.TokenSink {
      def tagOpen(t: TagOpen): Unit = out += t
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        out += TagClose(name, startByte, endByte)
      def text(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += TextRun(new String(chars, from, len), startByte, endByte)
      override def comment(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += CommentTok(new String(chars, from, len), startByte, endByte)
      override def doctype(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += DoctypeTok(new String(chars, from, len), startByte, endByte)
    })
    ArraySeq.unsafeWrapArray(out.result())
  }

  /** The byte span [startByte, endByte) of a listed token. */
  def span(tok: AnyRef): (Int, Int) = tok match {
    case t: TagOpen   => (t.startByte, t.endByte)
    case t: HtmlToken => (t.startByte, t.endByte)
  }

  def blocks(tokens: scala.collection.IndexedSeq[AnyRef]): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    val sink = new Dom.BlockSink(KernelScratch.get(), b => out += b.toBlock)
    tokens.foreach {
      case t: TagOpen  => sink.tagOpen(t)
      case t: TagClose => sink.tagClose(t.name, t.startByte, t.endByte)
      case t: TextRun  =>
        val chars = t.text.toCharArray
        sink.text(chars, 0, chars.length, t.startByte, t.endByte)
      case _           => () // comments, doctype
    }
    sink.finish()
    out.result()
  }
}
