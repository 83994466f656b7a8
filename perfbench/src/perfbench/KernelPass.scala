package perfbench

import graft.classify.BlockClassifier
import graft.extract.{ExtractMode, Extractor}
import graft.gen.SynthCorpus
import graft.html.Dom
import graft.pdf.PdfParser
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The kernel layers timed outside Spark tasks, over a fixed
  * sample of the crawl corpus's payloads: `Dom.blocksStreaming` (html),
  * `BlockClassifier.keep` (classify), `PdfParser.extractText` (pdf) and
  * `Extractor.extract` (extract), single-threaded and on a thread pool.
  * Each figure is the median of `Reps` passes after one untimed pass. */
object KernelPass {
  final val SampleDocs = 6000
  final val Reps = 3
  /** Written with every timed result, so no timed call is dead code. */
  @volatile var blackhole = 0L

  /** Payloads of generator docs `[seed·n, seed·n + SampleDocs)`, built on `threads` threads. */
  def sample(seed: Long, threads: Int): Array[Array[Byte]] = {
    val lo = seed * Crawl.Docs
    val out = new Array[Seq[Array[Byte]]](SampleDocs)
    parallel(threads, SampleDocs)(k => out(k) = SynthCorpus.docRows(lo + k, Crawl.Docs)._1.map(_.html))
    out.flatten
  }

  /** Runs `f(k)` for every k in [0, n) on `threads` threads; returns wall seconds. */
  private def parallel(threads: Int, n: Int)(f: Int => Unit): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    try {
      val futs = (0 until threads).map(_ => pool.submit(new Runnable {
        def run(): Unit = { var k = next.getAndAdd(16); while (k < n) {
          val end = math.min(n, k + 16); while (k < end) { f(k); k += 1 }; k = next.getAndAdd(16) } }
      }))
      futs.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    (System.nanoTime() - t0) / 1e9
  }

  private def timeNs(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }

  def run(payloads: Array[Array[Byte]], threads: Int): Seq[(String, Double)] = {
    val kinds = payloads.map(Extractor.payloadKind)
    val html = payloads.indices.filter(kinds(_) == "html").map(payloads)
    val pdf = payloads.indices.filter(kinds(_) == "pdf").map(payloads)
    val quarantined = payloads.indices.filter(k => kinds(k) != "html" && kinds(k) != "pdf").map(payloads)
    val htmlBytes = html.map(_.length.toDouble).sum
    val blocks = html.map(Dom.blocksStreaming)
    val nBlocks = blocks.map(_.length).sum.toDouble
    val allChars = blocks.map(_.map(_.text.length.toLong).sum).sum.toDouble
    var kept = 0L; var keptChars = 0L
    blocks.foreach(_.foreach(b => if (BlockClassifier.keep(b)) { kept += 1; keptChars += b.text.length }))

    def reps(body: => Unit): Double = { body; Stats.median((1 to Reps).map(_ => timeNs(body))) }
    var sink = 0L
    val htmlNs = reps(html.foreach(p => sink += Dom.blocksStreaming(p).length))
    val classifyNs = reps(blocks.foreach(_.foreach(b => if (BlockClassifier.keep(b)) sink += 1)))
    val pdfNs = reps(pdf.foreach(p => sink += PdfParser.extractText(p).length))
    def extractAll(ps: Seq[Array[Byte]]): Unit =
      ps.foreach(p => Extractor.extract(p, ExtractMode.Plain).foreach(r => sink += r.text.length))
    val exHtmlNs = reps(extractAll(html))
    val exPdfNs = reps(extractAll(pdf))
    val exQNs = reps(extractAll(quarantined))
    val outChars = payloads.iterator.map(p => Extractor.extract(p, ExtractMode.Plain).map(_.text.length.toLong).getOrElse(0L)).sum
    val one = reps(extractAll(payloads.toSeq)) / 1e9
    val poolS = { parallel(threads, payloads.length)(k => Extractor.extract(payloads(k), ExtractMode.Plain))
      Stats.median((1 to Reps).map(_ => parallel(threads, payloads.length)(k => Extractor.extract(payloads(k), ExtractMode.Plain)))) }
    blackhole = sink
    val n = payloads.length.toDouble
    val perHtml = math.max(html.size, 1).toDouble
    Seq(
      "html.ns_per_doc" -> htmlNs / perHtml,
      "html.ns_per_byte" -> htmlNs / math.max(htmlBytes, 1.0),
      "html.blocks_per_doc" -> nBlocks / perHtml,
      "classify.ns_per_doc" -> classifyNs / perHtml,
      "classify.keep_ratio" -> kept / math.max(nBlocks, 1.0),
      "classify.kept_char_ratio" -> keptChars / math.max(allChars, 1.0),
      "pdf.ns_per_doc" -> pdfNs / math.max(pdf.size, 1),
      "extract.ns_per_doc.html" -> exHtmlNs / perHtml,
      "extract.ns_per_doc.pdf" -> exPdfNs / math.max(pdf.size, 1),
      "extract.ns_per_doc.quarantined" -> exQNs / math.max(quarantined.size, 1),
      "extract.assembly_ns_per_doc" -> (exHtmlNs - htmlNs - classifyNs) / perHtml,
      "extract.out_chars_per_doc" -> outChars / n,
      "extract.docs_per_s_1t" -> n / one,
      "extract.docs_per_s_nt" -> n / poolS,
      "extract.scaling_1_to_n" -> (one / poolS) / threads)
  }
}
