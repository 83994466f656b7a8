package perfbench

import graft.extract.Extractor
import graft.gen.{PageRow, SynthCorpus}
import graft.icelite.IceLite
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** On-disk input cache. Every input derives from the benchmark seed and
  * lives under the benchmark's own work directory, keyed by seed, size
  * and generator versions. A directory is published by renaming it into
  * place after a `_READY` marker (holding the generation seconds) is
  * written, so an interrupted generation is never reused. */
object Cache {
  def ready(dir: String): Option[Double] = {
    val f = new File(dir, "_READY")
    if (f.isFile) Some(new String(Files.readAllBytes(f.toPath), UTF_8).trim.toDouble) else None
  }

  /** Returns (dir, generation seconds, generated now). */
  def ensure(cache: String, key: String, keep: Int)(gen: String => Unit): (String, Double, Boolean) = {
    val dir = s"$cache/$key"
    ready(dir) match {
      case Some(s) => (dir, s, false)
      case None =>
        evict(cache, key.takeWhile(_ != '-'), keep - 1)
        val tmp = s"$dir.tmp"
        delete(new File(tmp)); delete(new File(dir))
        val t0 = System.nanoTime()
        gen(tmp)
        val s = (System.nanoTime() - t0) / 1e9
        Files.write(new File(tmp, "_READY").toPath, s.toString.getBytes(UTF_8))
        if (!new File(tmp).renameTo(new File(dir))) sys.error(s"cannot publish $dir")
        (dir, s, true)
    }
  }

  /** Keeps at most `keep` ready entries of one kind, dropping the oldest. */
  private def evict(cache: String, kind: String, keep: Int): Unit = {
    val entries = Option(new File(cache).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(kind + "-") && new File(f, "_READY").isFile)
      .sortBy(f => new File(f, "_READY").lastModified())
    entries.dropRight(math.max(keep, 0)).foreach(delete)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** The crawl corpus of `crawl-extract` and `host-rollup`: the generator
  * docs `[seed·n, (seed+1)·n)` of `SynthCorpus.docRows` plus a tail of
  * large pages and one page above `Extractor.MaxDocBytes`. */
object Crawl {
  /** Bump when anything below changes the generated bytes. */
  final val Version = 9
  final val Docs = 10000L
  /** Large-page tail, under a tenth of the payload bytes: each page
    * concatenates distinct generator pages of the same seed. Six top-
    * size pages, so every task thread meets one within a run. */
  final val TailBytes: Seq[Int] = Seq.fill(6)(384 << 10)
  final val OversizeBytes: Int = Extractor.MaxDocBytes + (64 << 10)
  final val Files = 32

  final case class Dirs(root: String) {
    def pages: String = s"$root/pages"
    /** (url, mode, expected_text) for the plain and multicrop goldens. */
    def golden: String = s"$root/golden"
    /** (url, expected, hostile): the status each input row must come out
      * with, and whether the generator planted it as a hostile payload. */
    def expect: String = s"$root/expect"
  }

  def key(seed: Long): String =
    s"crawl-s$seed-n$Docs-g${SynthCorpus.GenVersion}-v$Version"

  def ensure(spark: () => SparkSession, cache: String, seed: Long): (Dirs, Double, Boolean) = {
    val (dir, s, fresh) = Cache.ensure(cache, key(seed), keep = 12)(tmp => generate(spark(), Dirs(tmp), seed))
    (Dirs(dir), s, fresh)
  }

  private def generate(spark: SparkSession, d: Dirs, seed: Long): Unit = {
    import spark.implicits._
    val n = Docs
    val lo = seed * n
    val parts = 4 * spark.sparkContext.defaultParallelism
    // one generator pass yields the pages and their goldens together
    val docs = spark.range(lo, lo + n, 1, parts).map { i =>
      val (pages, goldens) = SynthCorpus.docRows(i, n)
      (pages, goldens.collect { case g if g.mode == "plain" || g.mode == "multicrop" =>
        (g.url, g.mode, g.expected_text) })
    }.persist()
    try {
      val main = docs.flatMap(_._1)
      val specs = TailBytes.zipWithIndex.map { case (b, k) => (k, b) }
      val tail = spark.createDataset(specs).repartition(specs.size)
        .map { case (k, b) => bigPage(seed, k, b, n) }
        .union(Seq(oversizePage(seed, n)).toDS())
      IceLite.commit(spark, d.pages, main.union(tail).repartition(Files, col("url")).toDF())
      IceLite.read(spark, d.pages).select("url", "html", "text").as[(String, Array[Byte], String)]
        .map { case (url, html, text) => (url, expected(html, text), text == null) }
        .toDF("url", "expected", "hostile")
        .write.parquet(d.expect)
      docs.flatMap(_._2).toDF("url", "mode", "expected_text").write.parquet(d.golden)
    } finally docs.unpersist()
  }

  /** The status a planted row must come out with: `too_large` above the
    * size guard; for the generator's hostile rows (random bytes, `text`
    * null) `binary_payload` when the first 512 bytes hold a NUL or more
    * than a fifth control bytes, the binary sniff `Extractor` documents.
    * A hostile row whose head reads as text is extracted as html, so it
    * must come out `ok`; the report counts those rows. */
  def expected(html: Array[Byte], text: String): String =
    if (html.length > Extractor.MaxDocBytes) "too_large"
    else if (text == null && binaryHead(html)) "binary_payload"
    else "ok"

  private def binaryHead(b: Array[Byte]): Boolean = {
    val head = b.iterator.take(512).map(_ & 0xff).toSeq
    head.contains(0) || head.count(x => x < 9 || (x > 13 && x < 32)) * 5 > head.size
  }

  /** Concatenates html pages of generator docs `-(seed+1)·10^7 - k·10^5 - j`
    * (disjoint from every seed's main range) until `bytes` is reached. */
  def bigPage(seed: Long, k: Int, bytes: Int, n: Long): PageRow = {
    val out = new java.io.ByteArrayOutputStream(bytes + (64 << 10))
    val base = -(seed + 1) * 10000000L - k * 100000L
    var j = 0L
    while (out.size() < bytes) {
      SynthCorpus.docRows(base - j, n)._1.foreach { p =>
        if (Extractor.payloadKind(p.html) == "html") out.write(p.html)
      }
      j += 1
    }
    PageRow(s"https://tail.example.org/big/$seed/$k", new java.sql.Timestamp(1704067200000L),
      out.toByteArray, "tail", "en")
  }

  /** A page just above `Extractor.MaxDocBytes`: the html pages of a few
    * generator docs repeated. It is quarantined on its size before any
    * parsing, so its blocks need not be distinct. */
  def oversizePage(seed: Long, n: Long): PageRow = {
    val pages = (0L until 64L).flatMap(j => SynthCorpus.docRows(-(seed + 1) * 10000000L + 5000000L - j, n)._1)
      .map(_.html).filter(Extractor.payloadKind(_) == "html")
    val out = new java.io.ByteArrayOutputStream(OversizeBytes + (64 << 10))
    Iterator.continually(pages).flatten.takeWhile(_ => out.size() < OversizeBytes).foreach(p => out.write(p))
    PageRow(s"https://tail.example.org/oversize/$seed", new java.sql.Timestamp(1704067200000L),
      out.toByteArray, "tail", "en")
  }
}

final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
    l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: java.sql.Timestamp)
final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** The three tables the suite's queries read (lineitem, documents,
  * embeddings), in the shape and value ranges of the TPC-H-ish testdata
  * tables, generated from the seed at scale factor `Sf` (documents:
  * 50000·sf rows, lineitem ≈ 6M·sf). */
object QueryTables {
  final val Version = 2
  final val Sf = 0.01
  final val Names = Seq("lineitem", "documents", "embeddings")

  def key(seed: Long): String = s"tables-s$seed-sf$Sf-v$Version"

  def ensure(spark: () => SparkSession, cache: String, seed: Long): (String, Double, Boolean) =
    Cache.ensure(cache, key(seed), keep = 12)(tmp => generate(spark(), tmp, seed))

  private def count(base: Double): Long = math.max(1L, math.round(base * Sf))
  val nCustomer: Long = count(150000)
  val nSupplier: Long = count(10000)
  val nPart: Long = count(200000)
  val nOrders: Long = count(1500000)
  val nDocs: Long = count(50000)
  val nEmbeddings: Long = math.max(500L, count(20000))

  private def rng(seed: Long, table: Int, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ (table.toLong << 56) ^ (i * 0xbf58476d1ce4e5b9L))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0
  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val langs = Vector("en", "en", "en", "zh", "de", "fr", "es")
  private val vocab = Vector("join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg",
    "value", "key", "stream", "window", "spark", "a", "group", "part", "big", "sort",
    "query", "fast", "the")
  private val DayMs = 86400000L
  private val OrderEpoch = 788918400000L // 1995-01-01

  /** The order a lineitem belongs to; only its key and date reach the table. */
  def order(seed: Long, i: Long): Order = {
    val r = rng(seed, 5, i)
    Order(i, r.nextLong(nCustomer), pick(r, Vector("F", "O", "P")), money(r, 1000, 500000),
      new java.sql.Timestamp(OrderEpoch + r.nextInt(2404) * DayMs), pick(r, priorities))
  }

  def lineItems(seed: Long, o: Order): Seq[LineItem] = {
    val r = rng(seed, 6, o.o_orderkey)
    (1 to 1 + r.nextInt(7)).map { j =>
      val qty = (1 + r.nextInt(50)).toDouble
      LineItem(o.o_orderkey, r.nextLong(nPart), r.nextLong(nSupplier), j, qty,
        math.round(qty * (900 + r.nextDouble() * 1200) * 100.0) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")),
        pick(r, Vector("O", "F")),
        new java.sql.Timestamp(o.o_orderdate.getTime + (1 + r.nextInt(121)) * DayMs))
    }
  }

  private def words(seed: Long, i: Long): String = {
    val r = rng(seed, 8, i)
    Seq.fill(10 + r.nextInt(90))(pick(r, vocab)).mkString(" ")
  }

  /** One doc in twenty is an earlier doc plus " dup" (planted near-duplicates). */
  def document(seed: Long, i: Long): Document = {
    val r = rng(seed, 9, i)
    val text = if (i > 0 && r.nextInt(20) == 0) words(seed, r.nextLong(i)) + " dup" else words(seed, i)
    Document(i, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
  }

  def embedding(seed: Long, i: Long): Embedding = {
    val r = rng(seed, 10, i)
    val v = Array.fill(64)(gaussian(r))
    val norm = math.sqrt(v.map(x => x * x).sum)
    Embedding(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  private def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    val s = seed
    write("lineitem", spark.range(nOrders).flatMap(i => lineItems(s, order(s, i))).toDF())
    write("documents", spark.range(nDocs).map(i => document(s, i)).toDF())
    write("embeddings", spark.range(nEmbeddings).map(i => embedding(s, i)).toDF())
  }
}
