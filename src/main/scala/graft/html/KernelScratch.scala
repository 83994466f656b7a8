package graft.html

/** All per-thread scratch state of the extraction kernel in ONE object,
  * fetched with a SINGLE ThreadLocal.get per document and passed down
  * (r6b): on Spark executor threads (long ThreadLocalMap probe chains
  * from the framework's own ThreadLocals) per-buffer lookups were ~5%
  * of the extract-stage profile. This is the kernel's only ThreadLocal.
  *
  * Buffers and their one writer each: `decChars`/`decOffs`, the decoded
  * chars and their byte offsets (`Html5Tokenizer.decode`; offsets for
  * non-ASCII UTF-8 only); `tokBuf`, a text run of several segments
  * (the tokenizer; one-segment runs are handed over from `decChars`);
  * `sinkBuf`, text collapsed as it arrives (`TextBuf`: a block's text
  * or a table cell's in `Dom.BlockSink`, the title in `Meta`);
  * `outText`, the output text (`Extractor`). Every buffer
  * is consumed within one kernel call, and kernel calls never
  * interleave on one thread.
  *
  * Arrays grow through `grow`. The entries that fetch the scratch
  * (`Extractor.extract`, `Dom.stream`, `Html5Tokenizer.stream`, `Meta`)
  * `release` it after the document: a scratch with a buffer above
  * `RetainMark` elements is dropped, so the thread's next document
  * starts from the initial sizes (under 0.5 MiB) instead of keeping the
  * largest page's buffers for life (~135 MiB after a 15 MiB and an
  * 11 MiB single-block page).
  */
final class KernelScratch {
  var decChars: Array[Char] = new Array[Char](64 * 1024)
  var decOffs: Array[Int] = new Array[Int](64 * 1024 + 1)
  var tokBuf: Array[Char] = new Array[Char](4 * 1024)
  var sinkBuf: Array[Char] = new Array[Char](8 * 1024)
  var outText: Array[Char] = new Array[Char](8 * 1024)

  private def oversized: Boolean = {
    import KernelScratch.RetainMark
    decChars.length > RetainMark || decOffs.length > RetainMark || tokBuf.length > RetainMark ||
      sinkBuf.length > RetainMark || outText.length > RetainMark
  }
}

object KernelScratch {
  /** Largest buffer, in elements, a thread keeps past the end of a document. */
  final val RetainMark: Int = 1 << 20

  private val tl = new ThreadLocal[KernelScratch] {
    override def initialValue(): KernelScratch = new KernelScratch
  }
  def get(): KernelScratch = tl.get()

  /** End of a document for the entry that fetched `ks`. */
  def release(ks: KernelScratch): Unit = if (ks.oversized) tl.remove()

  /** `a` when it holds `need` elements, else a copy 1.5× `need` long:
    * the one grow rule of the scratch arrays (geometric, so appends stay
    * amortized). */
  def grow(a: Array[Char], need: Int): Array[Char] =
    if (a.length >= need) a else java.util.Arrays.copyOf(a, newLength(need))
  def grow(a: Array[Int], need: Int): Array[Int] =
    if (a.length >= need) a else java.util.Arrays.copyOf(a, newLength(need))
  private def newLength(need: Int): Int =
    math.min(Int.MaxValue - 8L, need + (need.toLong >> 1)).toInt
}
