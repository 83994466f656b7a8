package graft

import graft.extract.{ExtractMode, Extractor}
import graft.html.{Dom, Html5Tokenizer, KernelScratch}
import graft.icelite.IceLite
import graft.obs.StageListener
import graft.pipeline.Pipeline
import graft.util.{HwCalib, Sessions}
import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The measurement tool besides `graft.Bench`: one session config
  * (`Sessions.local`; other keys go in as `-Dspark.k=v`), one listener
  * (`StageListener`) and one kernel-dump reader. Subcommands: `Usage`.
  * The `kernel` ones are single-threaded and Spark-free; a dump holds raw
  * payload bytes only, so one round's kernel can run over another's dump. */
object Probe {

  private val Usage = """usage: graft.Probe
    |  queries <sfDir> <cores> <reps> <name,…|all>   timed .count() runs + last run's job table
    |  extract <cores> <plain|salted|chunked|kinds>  SPARK_GRAFT_BENCH_DOCS corpus: 3 timed passes
    |  kernel gen <file> <n> | run <file> <reps> | sum <file> | phase <file> <reps> | bw""".stripMargin

  def main(args: Array[String]): Unit = args.toList match {
    case "queries" :: sfDir :: cores :: reps :: names :: Nil =>
      queries(sfDir, cores.toInt, reps.toInt,
        if (names == "all") Bench.headline else names.split(",").toSeq)
    case "extract" :: cores :: what :: Nil => extract(cores.toInt, what)
    case "kernel" :: "gen" :: file :: n :: Nil => gen(file, n.toLong)
    case "kernel" :: "run" :: file :: reps :: Nil => kernelCost(file, reps.toInt, phases = false)
    case "kernel" :: "sum" :: file :: Nil => sum(file)
    case "kernel" :: "phase" :: file :: reps :: Nil => kernelCost(file, reps.toInt, phases = true)
    case "kernel" :: "bw" :: Nil => Seq(1, 8, 32).foreach { t =>
      println(f"bw threads=$t%2d  ${HwCalib.calibrateBandwidth(t) / 1e9}%8.2f GB/s")
    }
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def gcMillis(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.stream().mapToLong(_.getCollectionTime).sum()

  /** A warm-up run of `job` (JIT, plan, codegen), then `reps` timed runs,
    * each from a collected heap: (result, seconds, GC ms, its jobs). */
  private def timedRuns[T](s: SparkSession, reps: Int)(job: => T) = {
    job
    (1 to reps).map { _ =>
      System.gc()
      val g0 = gcMillis()
      val ((r, sec), rec) = StageListener.record(s.sparkContext)(Bench.timed(job))
      (r, sec, gcMillis() - g0, rec)
    }
  }

  private def queries(sfDir: String, cores: Int, reps: Int, names: Seq[String]): Unit = {
    val s = Sessions.local(cores)
    s.range(1000).selectExpr("sum(id)").collect() // session warm-up, as in Bench
    names.foreach { name =>
      try {
        val runs = timedRuns(s, reps)(SparkEntry.queries(name)(s, sfDir).count())
        val secs = runs.map(_._2)
        println(f"QUERY $name%-24s min=${secs.min}%.3f  samples=[${secs.map(x => f"$x%.3f").mkString(",")}]")
        val (_, last, _, rec) = runs.last
        rec.jobs.zip(rec.jobs.scanLeft(-1L)(_ max _.endMs)).foreach { case (j, prevEnd) =>
          println(f"  job=${j.id}%3d dur=${j.durationMs}%5d ms gap_before=${if (prevEnd > 0) j.startMs - prevEnd else 0L}%5d ms " +
            f"stages=${j.stageIds.size}%2d tasks=${j.tasks}%4d  ${j.description.take(80)}")
        }
        val (jobMs, wallMs) = (rec.jobs.map(_.durationMs).sum, (last * 1000).toLong)
        println(s"  jobs=${rec.jobs.size} job_sum=$jobMs ms  wall=$wallMs ms  non-job(driver/planning)=${wallMs - jobMs} ms")
      } catch { case NonFatal(e) => println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    s.stop()
  }

  private def extract(cores: Int, what: String): Unit = {
    require(Set("plain", "salted", "chunked", "kinds")(what), Usage)
    val s = Sessions.local(cores)
    val pages = IceLite.read(s, Bench.benchPages(s))
    if (what == "kinds") kinds(s, pages)
    else {
      val runs = timedRuns(s, 3) {
        if (what == "chunked") Pipeline.extractChunked(pages).count()
        else Pipeline.extract(pages, ExtractMode.Plain, repartitionByHost = what == "salted").count()
      }
      runs.zipWithIndex.foreach { case ((n, sec, gcMs, rec), i) =>
        println(f"EXTRACT pass=${i + 1} cores=$cores variant=$what docs=$n secs=$sec%.2f dps=${n / sec}%.0f gc_ms=$gcMs")
        rec.stages.foreach(st => println(f"  stage=${st.id}%3d tasks=${st.tasks}%4d " +
          f"task_ms sum=${st.taskMsSum}%7d p50=${st.taskMsMedian}%5d max=${st.taskMsMax}%5d " +
          s"shuffle_read=${st.shuffleReadBytes} shuffle_write=${st.shuffleWriteBytes} " +
          s"spill=${st.spillBytes} gc_ms=${st.gcMs}"))
      }
      val (n, best, _, _) = runs.minBy(_._2)
      println(f"EXTRACT BEST cores=$cores variant=$what docs=$n secs=$best%.2f dps=${n / best}%.0f")
    }
    s.stop()
  }

  /** Kernel cost per payload kind, per input split, and the 10 dearest
    * docs, from one timed extraction pass. */
  private def kinds(s: SparkSession, pages: DataFrame): Unit = {
    import s.implicits._
    pages.select("url", "html").as[(String, Array[Byte])].map { case (url, html) =>
      val t0 = System.nanoTime()
      Extractor.extract(html, ExtractMode.Plain)
      (TaskContext.getPartitionId(), url, Extractor.payloadKind(html), html.length.toLong,
        System.nanoTime() - t0)
    }.toDF("pid", "url", "kind", "bytes", "ns").cache().createOrReplaceTempView("doc")
    val split = "select pid, count(*) docs, sum(bytes) bytes, sum(ns)/1e9 cpu_sec from doc group by pid"
    Seq("select kind, count(*) n, sum(bytes)/1e6 mb, sum(ns)/1e9 cpu_sec, avg(ns)/1e3 avg_us, " +
        "max(ns)/1e6 max_ms, avg(bytes) avg_bytes from doc group by kind order by cpu_sec desc",
      s"select min(cpu_sec), avg(cpu_sec), max(cpu_sec), min(docs), avg(docs), max(docs) from ($split)",
      s"$split order by cpu_sec desc limit 8",
      "select url, bytes, ns/1e6 ms from doc order by ns desc limit 10"
    ).foreach(s.sql(_).show(false))
  }

  private def gen(file: String, n: Long): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 20))
    try (0L until n).foreach(i => graft.gen.SynthCorpus.docRows(i, n)._1.foreach { p =>
      out.writeInt(p.html.length); out.write(p.html)
    }) finally out.close()
  }

  /** Feeds each payload of a dump (int length, then that many bytes) to
    * `f`. A length outside [0, MaxDocBytes] or a cut-short record fails
    * with the file and record index, before anything is allocated. */
  private[graft] def readDump(file: String)(f: Array[Byte] => Unit): Unit = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file), 1 << 20))
    def corrupt(i: Long, why: String): Nothing =
      throw new IllegalArgumentException(s"corrupt dump $file: record $i $why")
    try {
      var i = 0L
      var b0 = in.read() // -1 only at a record boundary: a clean end
      while (b0 >= 0) {
        val b = try {
          val len = (b0 << 24) | (in.readUnsignedByte() << 16) | in.readUnsignedShort()
          if (len < 0 || len > Extractor.MaxDocBytes)
            corrupt(i, s"has length $len outside [0, ${Extractor.MaxDocBytes}]")
          val b = new Array[Byte](len)
          in.readFully(b)
          b
        } catch { case _: EOFException => corrupt(i, "is cut short") }
        f(b)
        i += 1; b0 = in.read()
      }
    } finally in.close()
  }

  /** Output-identity checksum: total extracted chars and an order-sensitive
    * FNV over every text, span and quarantine reason. */
  private def sum(file: String): Unit = {
    var total = 0L
    var fnv = 0xcbf29ce484222325L
    def mix(x: Long): Unit = fnv = (fnv ^ x) * 0x100000001b3L
    readDump(file)(b => Extractor.extract(b, ExtractMode.Plain) match {
      case Right(res) =>
        total += res.text.length
        res.text.foreach(c => mix(c))
        res.spans.foreach { sp => mix(sp.start); mix(sp.end) }
      case Left(reason) => reason.foreach(c => mix(c))
    })
    println(s"SUM total_chars=$total fnv=$fnv")
  }

  /** `run` (all docs: extract cost per payload kind) and `phase` (html
    * docs: decode, fused bytes→blocks and full extract, each timed per
    * doc in the same rep): two warm-up passes, then `reps` timed passes.
    * Each rep is ANCHORED: host speed drifts ~2x with hypervisor burst
    * state, so `anchor` (by default the single-thread xxh64 calibration)
    * runs right before and after it, and cost is reported as anchor ops
    * per doc (kernel seconds per doc × anchor ops/s): drift cancels. */
  private[graft] def kernelCost(file: String, reps: Int, phases: Boolean,
      anchor: () => Double = () => HwCalib.calibrate(1)): Unit = {
    val dump = Array.newBuilder[Array[Byte]]
    readDump(file)(dump += _)
    val docs = dump.result().filter(b => !phases || Extractor.payloadKind(b) == "html")
    val extract: Array[Byte] => Any = Extractor.extract(_, ExtractMode.Plain)
    val ks = KernelScratch.get()
    val decode: Array[Byte] => Any = Html5Tokenizer.decode(_, ks)
    val steps = if (phases) Array(decode, Dom.blocksStreaming _, extract) else Array(extract)
    (1 to 2).foreach(_ => docs.foreach(extract))
    anchor()
    val perRep = (1 to reps).map { _ =>
      val a0 = anchor()
      val ns = Array.ofDim[Long](steps.length, docs.length) // ns(step)(doc)
      for (i <- docs.indices; k <- steps.indices) {
        val t0 = System.nanoTime()
        steps(k)(docs(i))
        ns(k)(i) = System.nanoTime() - t0
      }
      (ns, (a0 + anchor()) / 2)
    }
    val rows = // (label, step, docs)
      if (phases) Seq("decode only", "fused bytes->blocks", "extract full").zipWithIndex
        .map { case (label, k) => (label, k, docs.indices) }
      else docs.indices.groupBy(i => Extractor.payloadKind(docs(i))).toSeq.sortBy(_._1)
        .map { case (kind, ix) => (kind, 0, ix) }
    rows.foreach { case (label, k, ix) =>
      def ns(r: Array[Array[Long]]): Long = ix.iterator.map(r(k)(_)).sum
      val bytes = ix.iterator.map(docs(_).length.toLong).sum
      val us = Bench.median(perRep.map { case (r, _) => ns(r) / 1e3 / ix.size })
      val perByte = Bench.median(perRep.map { case (r, _) => ns(r).toDouble / bytes })
      val anchored = Bench.median(perRep.map { case (r, a) => ns(r) / 1e9 * a / ix.size })
      println(f"$label%-20s n=${ix.size}%8d  avg_us=$us%9.2f  ns_per_byte=$perByte%7.2f  anchor_ops_per_doc=$anchored%9.1f")
    }
    val total = Bench.median(perRep.map { case (r, a) => docs.length / (r(0).sum / 1e9) / a })
    if (!phases) println(f"TOTAL    docs_per_anchor_op=$total%.4f  (docs/s per hw-anchor op/s; drift-immune)")
  }
}
