package graft

import graft.html._
import scala.collection.immutable.ArraySeq

/** The token-list path, kept as the fused path's reference: the
  * tokenizer's events materialized as `HtmlToken`s, and a replay of
  * such a list through the one block builder (`Dom.BlockSink`). The
  * extraction kernel streams the events straight into the builder. */
object TokenList {

  def tokenize(bytes: Array[Byte]): ArraySeq[HtmlToken] = {
    val out = Array.newBuilder[HtmlToken]
    Html5Tokenizer.stream(bytes, new Html5Tokenizer.TokenSink {
      def tagOpen(t: TagOpen): Unit = out += t
      def tagClose(name: String, startByte: Int, endByte: Int): Unit =
        out += TagClose(name, startByte, endByte)
      def text(buf: CharSequence, startByte: Int, endByte: Int): Unit =
        out += TextRun(buf.toString, startByte, endByte)
      def comment(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += CommentTok(new String(chars, from, len), startByte, endByte)
      def doctype(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit =
        out += DoctypeTok(new String(chars, from, len), startByte, endByte)
    })
    ArraySeq.unsafeWrapArray(out.result())
  }

  def blocks(tokens: scala.collection.IndexedSeq[HtmlToken]): Vector[Block] = {
    val sink = new Dom.BlockSink(KernelScratch.get())
    tokens.foreach {
      case t: TagOpen  => sink.tagOpen(t)
      case t: TagClose => sink.tagClose(t.name, t.startByte, t.endByte)
      case t: TextRun  => sink.text(t.text, t.startByte, t.endByte)
      case _           => () // comments, doctype
    }
    sink.resultBuffer().toVector
  }
}
