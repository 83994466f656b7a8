package graft

import graft.streaming.{HostSession, PageEvent, StreamingExtract}
import graft.util.Sessions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Custom-state streaming (flatMapGroupsWithState + event-time timeout):
  * per-host crawl sessionization with data-dependent session boundaries. */
class SessionizationSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def ev(host: String, ts: String, bytes: Long = 100L): PageEvent =
    PageEvent(host, java.sql.Timestamp.valueOf(ts), bytes)

  test("sessions close on gap within a batch and on watermark timeout") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    val q = StreamingExtract.crawlSessions(input.toDS(), gapMinutes = 60)
      .writeStream.format("memory").queryName("sessions_t1")
      .outputMode("append").start()
    try {
      // batch 1: two fetches 30 min apart (one session), then a fetch
      // 2.5 h later — the gap closes session 1 inside the batch
      input.addData(
        ev("a.example.com", "2024-01-01 10:00:00"),
        ev("a.example.com", "2024-01-01 10:30:00", bytes = 50L),
        ev("a.example.com", "2024-01-01 13:00:00"))
      q.processAllAvailable()
      val afterB1 = spark.table("sessions_t1").as[HostSession].collect()
      assert(afterB1.toSeq == Seq(HostSession("a.example.com",
        ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"), 2L, 150L)))

      // batch 2 advances event time far ahead (another host); batch 3
      // runs with the advanced watermark -> a.example.com's open session
      // fires its event-time timeout and is emitted
      input.addData(ev("b.example.com", "2024-01-05 00:00:00"))
      q.processAllAvailable()
      input.addData(ev("b.example.com", "2024-01-05 00:01:00"))
      q.processAllAvailable()
      val all = spark.table("sessions_t1").as[HostSession].collect().toSet
      assert(all.contains(HostSession("a.example.com",
        ts("2024-01-01 13:00:00"), ts("2024-01-01 13:00:00"), 1L, 100L)),
        all.toString)
      // b's session is still open (no gap, no timeout) -> not emitted
      assert(!all.exists(_.host == "b.example.com"), all.toString)
    } finally q.stop()
  }

  test("out-of-order events within a batch are sorted before sessionizing") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    val q = StreamingExtract.crawlSessions(input.toDS(), gapMinutes = 60)
      .writeStream.format("memory").queryName("sessions_t2")
      .outputMode("append").start()
    try {
      // delivered out of order; sorted they form session [09:00-09:20]
      // then a gap to 12:00
      input.addData(
        ev("c.example.com", "2024-02-01 09:20:00"),
        ev("c.example.com", "2024-02-01 12:00:00"),
        ev("c.example.com", "2024-02-01 09:00:00"))
      q.processAllAvailable()
      val got = spark.table("sessions_t2").as[HostSession].collect().toSeq
      assert(got == Seq(HostSession("c.example.com",
        ts("2024-02-01 09:00:00"), ts("2024-02-01 09:20:00"), 2L, 200L)))
    } finally q.stop()
  }

  test("cross-batch LATE events: backwards extension within gap, disjoint emit beyond") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PageEvent]
    val q = StreamingExtract.crawlSessions(input.toDS(), gapMinutes = 60)
      .writeStream.format("memory").queryName("sessions_t3")
      .outputMode("append").start()
    try {
      // batch 1 opens a session at 12:00
      input.addData(ev("d.example.com", "2024-03-01 12:00:00"))
      q.processAllAvailable()
      // batch 2: a late 11:30 event (within gap of session START) must
      // extend the open session BACKWARDS, and a late 02:00 event
      // (disjoint, > gap earlier) must emit as its own 1-page session —
      // not get swallowed into the noon session
      input.addData(
        ev("d.example.com", "2024-03-01 11:30:00", bytes = 7L),
        ev("d.example.com", "2024-03-01 02:00:00", bytes = 3L))
      q.processAllAvailable()
      val emitted = spark.table("sessions_t3").as[HostSession].collect().toSet
      assert(emitted == Set(HostSession("d.example.com",
        ts("2024-03-01 02:00:00"), ts("2024-03-01 02:00:00"), 1L, 3L)), emitted)
      // flush the open session via watermark advance: it must span
      // 11:30-12:00 with both pages
      input.addData(ev("e.example.com", "2024-03-05 00:00:00"))
      q.processAllAvailable()
      input.addData(ev("e.example.com", "2024-03-05 00:01:00"))
      q.processAllAvailable()
      val all = spark.table("sessions_t3").as[HostSession].collect().toSet
      assert(all.contains(HostSession("d.example.com",
        ts("2024-03-01 11:30:00"), ts("2024-03-01 12:00:00"), 2L, 107L)), all)
    } finally q.stop()
  }

  test("open-session accounting: closed + open pages reconcile to input rows") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("sess_ckpt").toString
    val input = MemoryStream[PageEvent]
    val q = StreamingExtract.crawlSessions(input.toDS(), gapMinutes = 60)
      .writeStream.format("memory").queryName("sessions_t4")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // host f: one closed session (gap) + one trailing open session;
      // host g: only an open session — 5 input rows total
      input.addData(
        ev("f.example.com", "2024-04-01 09:00:00", bytes = 1L),
        ev("f.example.com", "2024-04-01 09:10:00", bytes = 2L),
        ev("f.example.com", "2024-04-01 15:00:00", bytes = 4L),
        ev("g.example.com", "2024-04-01 10:00:00", bytes = 8L),
        ev("g.example.com", "2024-04-01 10:30:00", bytes = 16L))
      q.processAllAvailable()
      val closed = spark.table("sessions_t4").as[HostSession].collect().toSeq
      assert(closed == Seq(HostSession("f.example.com",
        ts("2024-04-01 09:00:00"), ts("2024-04-01 09:10:00"), 2L, 3L)))
      val open = StreamingExtract.openSessions(spark, ckpt).collect().toSet
      assert(open == Set(
        HostSession("f.example.com", ts("2024-04-01 15:00:00"), ts("2024-04-01 15:00:00"), 1L, 4L),
        HostSession("g.example.com", ts("2024-04-01 10:00:00"), ts("2024-04-01 10:30:00"), 2L, 24L)),
        open)
      // the reconciliation invariant: every input page is accounted for
      assert(closed.map(_.n_pages).sum + open.toSeq.map(_.n_pages).sum == 5L)
      assert(closed.map(_.bytes).sum + open.toSeq.map(_.bytes).sum == 31L)
    } finally q.stop()
  }

  test("x20 publishes closed+open and reconciles to the corpus row count") {
    val out = SparkEntry.queries("x20_crawl_sessions")(spark, "").collect()
    val pagesTotal = {
      val (pagesDir, _) = SparkEntry.microTables(spark)
      spark.read.parquet(s"$pagesDir/data").count()
    }
    val accounted = out.map(r =>
      r.getAs[Long]("pages_in_closed") + r.getAs[Long]("pages_in_open")).sum
    assert(accounted == pagesTotal, s"accounted=$accounted pages=$pagesTotal")
    // the trailing session per host means open side is non-trivial
    assert(out.map(_.getAs[Long]("pages_in_open")).sum > 0)
  }

  test("streaming closed+open equals batch lag/window gap-sessionization (q26 semantics)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic pseudo-random corpus: 7 hosts, 400 fetches over two
    // weeks — plenty of gap closures, ties, and trailing open sessions
    val rnd = new graft.util.SplitMix64(99L)
    val base = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    val evs = (0 until 400).map { i =>
      PageEvent(s"h${rnd.nextInt(7)}.example.com",
        new java.sql.Timestamp(base + rnd.nextInt(14 * 24 * 60).toLong * 60000L),
        (i % 17).toLong)
    }
    val ckpt = java.nio.file.Files.createTempDirectory("sess_eq").toString
    val input = MemoryStream[PageEvent]
    val q = StreamingExtract.crawlSessions(input.toDS(), gapMinutes = 60)
      .writeStream.format("memory").queryName("sessions_eq")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      input.addData(evs)
      q.processAllAvailable()
      val streamed = (spark.table("sessions_eq").as[HostSession].collect() ++
        StreamingExtract.openSessions(spark, ckpt).collect()).toSet
      // the batch formulation (exactly q26's lag + running-sum shape)
      val byHost = Window.partitionBy("host").orderBy("ms")
      val sessions = evs.toDF()
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("prev", lag(col("ms"), 1).over(byHost))
        .withColumn("new_sess",
          when(col("prev").isNull || col("ms") - col("prev") > 3600000L, 1L).otherwise(0L))
        .withColumn("sess", sum(col("new_sess")).over(
          byHost.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("host"), col("sess"))
        .agg(min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"),
          count(lit(1)).as("n_pages"), sum(col("bytes")).as("bytes"))
        .select(col("host"), col("start_ms"), col("end_ms"), col("n_pages"), col("bytes"))
        .as[HostSession].collect().toSet
      assert(streamed == sessions,
        s"streamed-only=${streamed -- sessions}, batch-only=${sessions -- streamed}")
      // and the batch side must contain real multi-session hosts (not a
      // vacuously-trivial corpus)
      assert(sessions.groupBy(_.host).values.exists(_.size > 3))
    } finally q.stop()
  }

  private def ts(s: String): Long = java.sql.Timestamp.valueOf(s).getTime
}
