package perfbench

import graft.SparkEntry
import graft.extract.{ExtractMode, Extractor}
import graft.icelite.IceLite
import graft.pipeline.Pipeline
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `budget`: seconds the JVM may run before it must be checking and
  * reporting; set-up rounds and the measured loop are cut short when a
  * slow host would otherwise overrun it. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, cores: Int, budget: Double)

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

object Session {
  def start(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (8 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Order-insensitive row fingerprints. Doubles and floats are rendered
  * to 12 significant digits, so a last-bit difference from a different
  * summation order is not reported as a changed result. */
object Fingerprint {
  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => f"$d%.12g"
    case f: Float => f"${f.toDouble}%.7g"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  /** (fingerprint, rendered bytes) of a result. */
  def of(rows: Array[Row]): (String, Long) = {
    val lines = rows.map(r => render(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    lines.foreach { l => val b = l.getBytes(UTF_8); bytes += b.length + 1; md.update(b); md.update('\n'.toByte) }
    (md.digest().take(12).map(x => f"${x & 0xff}%02x").mkString + s":${rows.length}", bytes)
  }

  /** Compares with the fingerprints an earlier run of the same inputs
    * stored under `key`, then stores any new ones. Returns mismatches. */
  def againstStored(work: String, key: String, fps: Map[String, String]): Seq[String] = {
    val f = new File(s"$work/fingerprints/$key.tsv")
    val stored: Map[String, String] =
      if (!f.isFile) Map.empty
      else new String(Files.readAllBytes(f.toPath), UTF_8).split('\n').filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap
    val bad = fps.collect { case (k, v) if stored.get(k).exists(_ != v) =>
      s"$key/$k: fingerprint $v differs from an earlier run's ${stored(k)}" }.toSeq
    f.getParentFile.mkdirs()
    Files.write(f.toPath, (stored ++ fps).toSeq.sorted.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes(UTF_8))
    bad
  }
}

/** One benchmark workload: a closed loop of identical jobs. */
abstract class Workload(val a: Args) {
  /** Warm set-up rounds (session start + open + warm-up job) of an
    * untraced run after the cold one, and the fewest measured jobs. */
  def setupRounds: Int = 3
  def minJobs: Int = 3
  /** True when an untraced run starts a fresh session and opens the
    * inputs before every job, timing that as set-up instead of rounds. */
  def sessionPerJob: Boolean = false
  /** Untimed jobs before the measured loop, after the set-up rounds,
    * while the JIT compiler and a new session's task threads are still
    * making jobs faster. */
  def extraWarmUps: Int = 0
  /** Opens the cached inputs, generating them in a session from
    * `spark` when missing; returns (seconds, generated now). */
  def prepare(spark: () => SparkSession): (Double, Boolean)
  /** Opens the inputs in a fresh session (part of set-up). */
  def open(spark: SparkSession, tr: Tracer): Unit
  /** Runs one job; returns (bytes of output it delivered, seconds it took).
    * Calls `afterUnit` after each unit of work, outside the timed part. */
  def job(spark: SparkSession, tr: Tracer): (Long, Double)
  var afterUnit: () => Unit = () => ()
  /** Input rows one job processes. */
  def inputRows: Long
  /** Correctness failures of everything run so far (empty = correct). */
  def check(spark: SparkSession): Seq[String]
  /** Report lines beyond the metrics. */
  def notes: Seq[String] = Seq.empty
  /** Per-layer metrics of the traced run, beyond the `spark.*` ones. */
  def layers(spark: SparkSession, tr: Tracer, ls: StageListener): Seq[(String, Double)]
}

/** Shared pages-table logic of crawl-extract and host-rollup. */
abstract class CrawlWorkload(a0: Args) extends Workload(a0) {
  protected var dirs: Crawl.Dirs = _
  private var rows = 0L
  def inputRows: Long = rows

  def prepare(spark: () => SparkSession): (Double, Boolean) = {
    val (d, s, fresh) = Crawl.ensure(spark, s"${a.work}/cache", a.seed)
    dirs = d
    (s, fresh)
  }

  def open(spark: SparkSession, tr: Tracer): Unit =
    rows = IceLite.readManifest(spark, dirs.pages, IceLite.currentSnapshotId(spark, dirs.pages).get).rowCount

  protected def pages(spark: SparkSession, tr: Tracer): DataFrame =
    tr.span("IceLite.read", "icelite")(IceLite.read(spark, dirs.pages))

  protected def extracted(spark: SparkSession, tr: Tracer) = {
    val p = pages(spark, tr)
    tr.span("Pipeline.extract", "extract")(Pipeline.extract(p, ExtractMode.Plain))
  }

  /** Isolating jobs on the same table, each the median of three runs. */
  def layers(spark: SparkSession, tr: Tracer, ls: StageListener): Seq[(String, Double)] = {
    def iso(name: String)(body: => Unit): Double =
      Stats.median((1 to 3).map(_ => Main.timed(tr.span(s"isolate.$name", "pipeline")(body))))
    val sink = s"${a.work}/sink/isolate"
    val scan = iso("scan_noop")(pages(spark, tr).select("url", "warc_ts", "html")
      .write.format("noop").mode("overwrite").save())
    val count = iso("extract_count")(tr.span("count", "spark")(extracted(spark, tr).count()))
    val noop = iso("extract_noop")(tr.span("write.noop", "spark")(
      extracted(spark, tr).write.format("noop").mode("overwrite").save()))
    val parquet = iso("extract_parquet")(tr.span("write.parquet", "spark")(
      extracted(spark, tr).write.mode("overwrite").parquet(sink)))
    val rollup = iso("extract_rollup")(tr.span("collect", "spark")(
      Pipeline.perHostStats(extracted(spark, tr).toDF()).collect()))
    val status = tr.span("isolate.status_counts", "pipeline")(
      extracted(spark, tr).groupBy("status").count().collect()).map(r => r.getString(0) -> r.getLong(1)).toMap
    val payload = pages(spark, tr).agg(sum(length(col("html")))).first().getLong(0)
    val kernel = tr.span("kernel.pass", "extract")(KernelPass.run(KernelPass.sample(a.seed, a.cores), a.cores))
    val known = Set("ok", "binary_payload", "too_large")
    val total = if (writesSink) parquet else rollup
    Seq(
      "icelite.scan_s" -> scan,
      "icelite.rows" -> rows.toDouble,
      "icelite.payload_bytes" -> payload.toDouble,
      "pipeline.extract_count_s" -> count,
      "pipeline.encode_s" -> (noop - count),
      "pipeline.sink_s" -> (parquet - noop),
      "pipeline.agg_s" -> (rollup - count),
      "pipeline.scan_noop_s" -> scan,
      "pipeline.extract_noop_s" -> noop,
      "pipeline.extract_parquet_s" -> parquet,
      "pipeline.extract_rollup_s" -> rollup,
      "extract.quarantined.binary_payload" -> status.getOrElse("binary_payload", 0L).toDouble,
      "extract.quarantined.too_large" -> status.getOrElse("too_large", 0L).toDouble,
      "extract.quarantined.other" -> status.collect { case (k, v) if !known(k) => v }.sum.toDouble,
      "share.icelite" -> scan / total,
      "share.extract" -> (count - scan) / total,
      "share.encode" -> (if (writesSink) (noop - count) / total else 0.0),
      "share.sink" -> (if (writesSink) (parquet - noop) / total else 0.0),
      "share.agg" -> (if (writesSink) 0.0 else (rollup - count) / total)) ++ kernel
  }

  /** Job times kept falling for about eight jobs after the cold one,
    * and again for a few jobs in each new session. */
  override def extraWarmUps: Int = 4

  /** True when the job writes the parquet sink, false when it aggregates. */
  protected def writesSink: Boolean
}

final class CrawlExtract(a0: Args) extends CrawlWorkload(a0) {
  private val sink = s"${a.work}/sink/crawl"
  private var checked = Seq.empty[String]

  def job(spark: SparkSession, tr: Tracer): (Long, Double) = {
    val s = Main.timed {
      val docs = extracted(spark, tr)
      tr.span("write.parquet", "spark")(docs.write.mode("overwrite").parquet(sink))
    }
    afterUnit()
    (Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum, s)
  }

  def check(spark: SparkSession): Seq[String] = {
    val out = spark.read.parquet(sink).select("url", "status", "text")
    val expect = spark.read.parquet(dirs.expect)
    val golden = spark.read.parquet(dirs.golden)
    val outRows = out.count()
    val statusBad = expect.join(out, Seq("url"), "full_outer")
      .where(not(col("expected") <=> col("status"))).count()
    val goldenStats = golden.join(out, Seq("url"), "left")
      .groupBy("mode")
      .agg(count(lit(1)).as("n"),
        sum(when(col("status") === "ok" && col("text").cast("binary") === col("expected_text"), 0L)
          .otherwise(1L)).as("bad"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val hostileOk = expect.where(col("hostile") && col("expected") === "ok").count()
    val got = out.groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checked = goldenStats.sortBy(_._1).map { case (m, n, b) => s"golden $m: ${n - b}/$n byte-identical" }.toSeq ++
      Seq(s"rows: $outRows out of $inputRows in; status by reason ${got.toSeq.sorted.mkString(", ")}",
        s"planted hostile rows whose 512-byte head reads as text (must come out ok): $hostileOk")
    Seq(
      if (outRows != inputRows) Some(s"sink holds $outRows rows for $inputRows input rows") else None,
      if (statusBad > 0) Some(s"$statusBad rows came out with another status than planted") else None,
      if (goldenStats.map(_._2).sum == 0) Some("no golden rows checked") else None) .flatten ++
      goldenStats.collect { case (m, _, b) if b > 0 => s"$b $m goldens not byte-identical" }
  }

  override def notes: Seq[String] = checked
  protected def writesSink = true
}

final class HostRollup(a0: Args) extends CrawlWorkload(a0) {
  private val fps = ArrayBuffer.empty[String]
  private var first: Array[Row] = _

  def job(spark: SparkSession, tr: Tracer): (Long, Double) = {
    var rows: Array[Row] = null
    val s = Main.timed {
      val docs = extracted(spark, tr)
      val agg = tr.span("Pipeline.perHostStats", "pipeline")(Pipeline.perHostStats(docs.toDF()))
      rows = tr.span("collect", "spark")(agg.collect())
    }
    afterUnit()
    if (first == null) first = rows
    val (fp, bytes) = Fingerprint.of(rows)
    fps += fp
    (bytes, s)
  }

  def check(spark: SparkSession): Seq[String] = {
    val expect = spark.read.parquet(dirs.expect)
      .groupBy(parse_url(col("url"), lit("HOST")).as("host"))
      .agg(count(lit(1)).as("n_docs"), sum(when(col("expected") === "ok", 1L).otherwise(0L)).as("n_ok"))
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val got = first.map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    val nDocs = first.map(_.getLong(1)).sum
    Seq(
      if (nDocs != inputRows) Some(s"per-host n_docs sum $nDocs != $inputRows input rows") else None,
      if (got != expect) Some(s"${(got.keySet ++ expect.keySet).count(k => got.get(k) != expect.get(k))} hosts differ from the planted per-host counts") else None,
      if (fps.distinct.size != 1) Some(s"per-host rows changed between jobs: ${fps.distinct.mkString(", ")}") else None
    ).flatten ++ Fingerprint.againstStored(a.work, s"host-rollup-${Crawl.key(a.seed)}", Map("per_host" -> fps.head))
  }

  override def notes: Seq[String] = Seq(s"hosts: ${first.length}; n_docs sum ${first.map(_.getLong(1)).sum}")
  protected def writesSink = false
}

final class QuerySuite(a0: Args) extends Workload(a0) {
  /** Five of the 28 headline queries of `graft.Bench`, one for each
    * operator family the suite stands for: relational, exact dedup,
    * cosine similarity, Count-Min sketch and PageRank. A query costs
    * 0.5–5 s warm and about 1.5 times that cold, nearly all planning and
    * job overhead, so all 28 (about 25 s warm plus a 50 s cold pass), or
    * even eight (about 12 s warm plus a 21 s cold pass), do not fit the
    * benchmark's run budget. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q09_dedup_exact", "q13_cosine_topk", "q67_countmin_sketch",
    "q76_pagerank")
  /** The seed sets the query order. */
  private val order = new scala.util.Random(a.seed).shuffle(Queries)
  private var dir: String = _
  private var rows = 0L
  private val fps = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
  /** (query, span id, seconds) of every traced execution. */
  private val traced = ArrayBuffer.empty[(String, Long, Double)]
  def inputRows: Long = rows

  /** A pass takes about 7 s warm and 15 s cold, so a warm set-up round
    * with a warm-up pass would cost as much as a measured job. Instead
    * only the cold set-up runs warm-up passes, and every measured pass
    * starts a fresh session and opens the tables, timed as set-up. */
  override def setupRounds: Int = 0
  override def minJobs: Int = 2
  override def sessionPerJob: Boolean = true
  /** The first pass after the cold one is still about 15% slower than
    * the next (q76's per-hop planning most of all). */
  override def extraWarmUps: Int = 1

  def prepare(spark: () => SparkSession): (Double, Boolean) = {
    val (d, s, fresh) = QueryTables.ensure(spark, s"${a.work}/cache", a.seed)
    dir = d
    (s, fresh)
  }

  def open(spark: SparkSession, tr: Tracer): Unit =
    rows = QueryTables.Names.map(n => spark.read.parquet(s"$dir/$n.parquet").count()).sum

  /** A pass over the queries; its time is the sum of the query times. */
  def job(spark: SparkSession, tr: Tracer): (Long, Double) = {
    val done = order.map { name =>
      var res: Array[Row] = null
      val dt = Main.timed {
        res = tr.span(s"SparkEntry.queries:$name", "functions")(SparkEntry.queries(name)(spark, dir).collect())
      }
      if (tr.enabled) traced += ((name, tr.lastClosed, dt))
      System.err.println(f"query $name%-22s $dt%.3f s")
      afterUnit()
      val (fp, bytes) = Fingerprint.of(res)
      fps.getOrElseUpdate(name, ArrayBuffer.empty) += fp
      (bytes, dt)
    }
    (done.map(_._1).sum, done.map(_._2).sum)
  }

  def check(spark: SparkSession): Seq[String] =
    fps.collect { case (q, xs) if xs.distinct.size > 1 => s"$q: results changed between executions: ${xs.distinct.mkString(", ")}" }.toSeq ++
      Fingerprint.againstStored(a.work, s"query-suite-${QueryTables.key(a.seed)}", fps.map { case (k, v) => k -> v.head }.toMap)

  override def notes: Seq[String] = Seq(s"queries: ${fps.size} fingerprinted, ${fps.values.map(_.size).sum} executions")

  def layers(spark: SparkSession, tr: Tracer, ls: StageListener): Seq[(String, Double)] =
    Queries.flatMap { q =>
      val xs = traced.filter(_._1 == q)
      Seq(s"query.${q}_s" -> Stats.median(xs.map(_._3).toSeq),
        s"query.$q.jobs" -> Stats.median(xs.map(x => ls.jobs(x._2).toDouble).toSeq))
    }
}

object Main {
  def timed(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")).getAbsolutePath, need("cores").toInt, need("budget").toDouble)
  }

  /** Live heap after a full GC, taken after every unit of measured work
    * (a job; a query on query-suite), so no unit pays for garbage an
    * earlier one left. The pause lets Spark's cleaner drop the blocks of
    * unreachable datasets before the second collection. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val started = System.nanoTime()
    val a = parse(argv)
    def used = (System.nanoTime() - started) / 1e9
    val w: Workload = a.workload match {
      case "crawl-extract" => new CrawlExtract(a)
      case "host-rollup" => new HostRollup(a)
      case "query-suite" => new QuerySuite(a)
      case other => sys.error(s"unknown workload $other")
    }
    // inputs: generated once per seed and cached, never part of set-up
    var s0: SparkSession = null
    val (genS, fresh) = w.prepare { () => if (s0 == null) s0 = Session.start(a); s0 }
    if (s0 != null) Session.stop(s0)
    // fresh input files reach the disk before anything is timed
    if (fresh && new ProcessBuilder("sync").inheritIO().start().waitFor() != 0) sys.error("sync failed")
    System.err.println(f"inputs: ${if (fresh) f"generated in $genS%.2f s" else "cached"}")

    var spark: SparkSession = null
    var attempted = 0L
    /** Session start + input open, plus one warm-up job when `warm`; seconds. */
    def setUp(warm: Boolean): Double = {
      if (spark != null) Session.stop(spark)
      val session = timed { spark = Session.start(a) }
      val off = new Tracer(spark.sparkContext)
      val open = timed(w.open(spark, off))
      val warmS = if (warm) { attempted += 1; w.job(spark, off)._2 } else 0.0
      System.err.println(f"set-up: session $session%.3f s, open $open%.3f s, warm-up job $warmS%.3f s")
      session + open + warmS
    }
    // The first set-up of the JVM also loads classes and compiles the
    // hot code: it is reported, but setup_s is the median of the warm ones.
    val coldSetup = setUp(warm = true)
    val setup = ArrayBuffer.empty[Double]
    if (!a.trace)
      while (setup.size < w.setupRounds && (setup.isEmpty || used < 0.4 * a.budget)) setup += setUp(warm = true)
    // in the session the loop measures: a fresh session's first jobs are
    // slower again (its task threads grow their kernel scratch anew)
    (1 to w.extraWarmUps).takeWhile(_ => used < 0.4 * a.budget).foreach { _ =>
      attempted += 1
      System.err.println(f"warm-up job ${w.job(spark, new Tracer(spark.sparkContext))._2}%.3f s")
    }
    val tr = new Tracer(spark.sparkContext)
    val ls = new StageListener
    if (a.trace) spark.sparkContext.addSparkListener(ls)

    // measured closed loop; the traced run alternates untraced and traced jobs
    var failed = 0L
    val plain = ArrayBuffer.empty[Double]
    val tracedTimes = ArrayBuffer.empty[Double]
    val outBytes = ArrayBuffer.empty[Double]
    val jobSpanIds = ArrayBuffer.empty[Long]
    heapAfterGcMb()
    val heap = ArrayBuffer.empty[Double]
    // the traced run reports no heap metric and keeps collections out of its spans
    if (!a.trace) w.afterUnit = () => heap += heapAfterGcMb()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def wanted = elapsed < a.seconds || plain.size < w.minJobs || (a.trace && tracedTimes.size < w.minJobs)
    while ((wanted && used < 0.8 * a.budget) || plain.isEmpty || (a.trace && tracedTimes.isEmpty)) {
      val traceThis = a.trace && tracedTimes.size < plain.size
      if (w.sessionPerJob && !a.trace) setup += setUp(warm = false)
      tr.enabled = traceThis
      attempted += 1
      try {
        val (bytes, dt) = tr.span(s"job.${a.workload}", "job")(w.job(spark, tr))
        if (traceThis) { tracedTimes += dt; jobSpanIds += tr.lastClosed }
        else plain += dt
        outBytes += bytes.toDouble
      } catch { case e: Exception => failed += 1; System.err.println(s"job failed: $e") }
      tr.enabled = false
      if (failed > 0 && (plain.isEmpty || (a.trace && tracedTimes.isEmpty)) && used > 0.8 * a.budget)
        sys.error("every job failed")
    }
    w.afterUnit = () => ()
    val failures = w.check(spark)

    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "job_s" -> Stats.median(plain.toSeq),
        "out_bytes_per_row" -> Stats.median(outBytes.toSeq) / w.inputRows,
        "heap_after_gc_mb" -> Stats.median(heap.toSeq),
        "setup_s" -> Stats.median(setup.toSeq))
      else {
        tr.enabled = true
        val extra = w.layers(spark, tr, ls)
        tr.enabled = false
        ls.drain(spark.sparkContext)
        val spans = tr.spans.toArray(new Array[SpanRec](0)).toSeq
        val within = descendants(spans, jobSpanIds.toSet)
        val stages = ls.stagesOf(within)
        val taskMs = ls.tasksOf(within).map(_.toDouble)
        val nJobs = jobSpanIds.size.toDouble
        def perJob(f: StageRec => Long) = stages.map(f).sum / nJobs
        val m = Seq(
          "spark.stages" -> stages.size / nJobs,
          "spark.tasks" -> perJob(_.tasks.toLong),
          "spark.task_ms_p50" -> Stats.median(taskMs),
          "spark.task_ms_max" -> (if (taskMs.isEmpty) 0.0 else taskMs.max),
          "spark.executor_cpu_ms" -> perJob(_.executorCpuMs),
          "spark.gc_ms" -> perJob(_.gcMs),
          "spark.shuffle_write_bytes" -> perJob(_.shuffleWriteBytes),
          "spark.shuffle_read_bytes" -> perJob(_.shuffleReadBytes),
          "spark.spill_bytes" -> perJob(_.spillBytes),
          "spark.output_bytes" -> perJob(_.outputBytes),
          "trace.job_s_untraced" -> Stats.median(plain.toSeq),
          "trace.job_s_traced" -> Stats.median(tracedTimes.toSeq),
          "trace.overhead_ratio" -> (Stats.median(tracedTimes.toSeq) / Stats.median(plain.toSeq) - 1),
          "trace.spans" -> spans.size.toDouble) ++ extra
        SpanFile.write(a, tr, spans, ls, m)
        m
      }
    Session.stop(spark)

    val correct = failures.isEmpty && failed == 0
    println(s"workload ${a.workload} seed ${a.seed} cores ${a.cores} trace ${if (a.trace) 1 else 0}")
    println(f"inputs: ${w.inputRows} rows, generated once in $genS%.2f s")
    println(f"cold set-up (s): $coldSetup%.3f")
    println(s"set-up rounds (s): ${setup.map(s => f"$s%.3f").mkString(" ")}")
    println(s"untraced jobs (s): ${plain.map(s => f"$s%.3f").mkString(" ")}")
    if (a.trace) println(s"traced jobs (s): ${tracedTimes.map(s => f"$s%.3f").mkString(" ")}")
    val rowsPerS = w.inputRows / Stats.median(plain.toSeq)
    println(f"rows_per_s = $rowsPerS%.1f 1/s (docs_per_s on crawl-extract and host-rollup)")
    w.notes.foreach(println)
    failures.foreach(f => println(s"MISMATCH: $f"))
    val body = metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Ids of the given spans and of every span below them. */
  def descendants(spans: Seq[SpanRec], roots: Set[Long]): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    roots.toSeq.flatMap(walk).toSet
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

/** The span file of a traced run: every span with its self time and the
  * stages its jobs ran, each layer's self time and share of the traced
  * wall time, and the per-layer metrics. */
object SpanFile {
  def write(a: Args, tr: Tracer, spans: Seq[SpanRec], ls: StageListener, metrics: Seq[(String, Double)]): Unit = {
    val kids = spans.groupBy(_.parent)
    def self(s: SpanRec): Long = (s.endNs - s.startNs) - kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
    val origin = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val wall = spans.filter(_.parent == 0).map(s => s.endNs - s.startNs).sum.toDouble
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(self).sum }
    val stages = ls.stages.toArray(new Array[StageRec](0)).groupBy(_.span)
    val sb = new StringBuilder
    sb.append(s"""{"run_id":${Json.str(tr.runId)},"workload":${Json.str(a.workload)},"seed":${a.seed},"cores":${a.cores},""")
    sb.append(""""layers":{""")
    sb.append(byLayer.toSeq.sortBy(-_._2).map { case (l, ns) =>
      s"""${Json.str(l)}:{"self_s":${Json.num(ns / 1e9)},"share":${Json.num(ns / math.max(wall, 1.0))}}""" }.mkString(","))
    sb.append("""},"metrics":{""")
    sb.append(metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(","))
    sb.append("""},"spans":[""")
    sb.append(spans.sortBy(_.id).map { s =>
      val st = stages.getOrElse(s.id, Array.empty).sortBy(_.stageId).map { r =>
        s"""{"job":${r.jobId},"stage":${r.stageId},"name":${Json.str(r.name)},"tasks":${r.tasks},"wall_ms":${r.wallMs},""" +
        s""""cpu_ms":${r.executorCpuMs},"gc_ms":${r.gcMs},"shuffle_write":${r.shuffleWriteBytes},""" +
        s""""shuffle_read":${r.shuffleReadBytes},"spill":${r.spillBytes},"output":${r.outputBytes},"records_in":${r.inputRecords}}"""
      }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      s""""start_ms":${Json.num((s.startNs - origin) / 1e6)},"dur_ms":${Json.num((s.endNs - s.startNs) / 1e6)},""" +
      s""""self_ms":${Json.num(self(s) / 1e6)},"jobs":${ls.jobs(s.id)},"stages":[$st]}"""
    }.mkString(",\n"))
    sb.append("]}\n")
    val f = new File(s"${a.work}/out/trace-${a.workload}-s${a.seed}.json")
    f.getParentFile.mkdirs()
    Files.write(f.toPath, sb.toString.getBytes(UTF_8))
    println(s"span file: ${f.getPath} (${spans.size} spans, run ${tr.runId})")
    byLayer.toSeq.sortBy(-_._2).foreach { case (l, ns) =>
      println(f"layer $l%-10s self ${ns / 1e9}%8.3f s  share ${ns / math.max(wall, 1.0)}%.3f") }
  }
}
