package graft.queries

import graft.SparkEntry.{SynthRoot, microTables}
import graft.functions.CountMin
import graft.queries.Query.{runDir, scd2Snapshots, stream, t}
import graft.streaming.StreamingExtract
import graft.streaming.StreamingExtract.drain
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming queries: Structured Streaming forms of extraction,
  * sessionization, dedup, decontamination, joins, Count-Min, funnels and
  * SCD2, each drained with an AvailableNow trigger. */
object Streaming {
  val all: Seq[Query] = Seq(
    Query("x28_stream_decontam", (s, dir) => {
      // decontamination AT THE STREAM BOUNDARY: the x24 broadcast Bloom
      // filter applied to a streaming ingest of the documents table, so
      // contaminated docs are flagged BEFORE entering the corpus —
      // filtering a 100 TB corpus after the fact re-reads 100 TB;
      // filtering the ingest stream is free. Map-only per micro-batch,
      // state-free, same shared overlap kernel as x24
      // (DecontamBloom.overlapCount — the two paths cannot drift).
      val bc = graft.functions.DecontamBloom.broadcastFilter(
        Query.benchGrams(s, t(s, dir, "documents")))
      drain(StreamingExtract.decontaminateStream(stream(s, dir, "documents"), bc),
          OutputMode.Append(), runDir("sdecontam"))
        .groupBy(col("contaminated"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_overlap")).as("sum_overlap"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("contaminated")
    }),
    Query("x12_streaming_extract", (s, _) => {
      val (pagesDir, _) = microTables(s)
      val run = runDir("stream")
      val q = StreamingExtract.availableNow(
        s, s"$pagesDir/data/*.parquet", s"$run/out", s"$run/ckpt")
      q.awaitTermination()
      s.read.parquet(s"$run/out")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("out_chars"))
        .orderBy("status")
    }),
    Query("x34_stream_stream_join", (s, _) => {
      // stream-stream event-time interval join (fetches x change
      // signals per host), both sides watermarked so join state is
      // BOUNDED by the interval — the crawl-ops "which fetches ran
      // right after a config change" audit as continuous ingest.
      // StreamJoinSpec pins streaming == batch-join equality incl.
      // cross-micro-batch matches; here the micro corpus drains under
      // availableNow and the joined rows aggregate per host.
      val (pagesDir, _) = microTables(s)
      val (f, c) = StreamingExtract.fetchAndChangeStreams(s, s"$pagesDir/data/*.parquet")
      val joined = StreamingExtract.fetchesNearChanges(
        f, c, horizonMinutes = 7 * 24 * 60, watermark = "1 day")
      drain(joined, OutputMode.Append(), runDir("ssj"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_joined"),
          countDistinct(col("change_ts")).as("n_changes"),
          max(unix_millis(col("fetch_ts")) - unix_millis(col("change_ts")))
            .as("max_gap_ms"))
        .orderBy("host")
    }),
    Query("x35_stream_countmin", (s, _) => {
      // streaming heavy-hitter counters: the q67 Count-Min grid
      // continuously maintained over live ingest — state is the FIXED
      // d*w counter grid whatever the host cardinality (contrast x25,
      // whose state is a row per distinct key). Complete mode
      // republishes <= 96 rows per trigger; StreamCountMinSpec pins
      // stream == batch counters over the same rows.
      val (pagesDir, _) = microTables(s)
      val items = StreamingExtract.pagesReader(s).parquet(s"$pagesDir/data/*.parquet")
        .select(pmod(xxhash64(parse_url(col("url"), lit("HOST"))), lit(1024))
          .as("item"))
      drain(CountMin.buildCounters(items), OutputMode.Complete(), runDir("cmx"))
        .groupBy(col("r"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cnt")).as("total"),
          max(col("cnt")).as("hottest"))
        .orderBy("r")
    }),
    Query("x36_stream_funnel", (s, dir) => {
      // continuous funnel matching: q74's Funnel.matchStages maintained
      // over live event ingest (functions/Funnel.cascade recomputed per
      // micro-batch over per-key relevant-event state — exact under
      // late/out-of-order arrival because the cascade is a pure
      // function of the event set). FunnelStreamSpec pins stream ==
      // batch across out-of-order multi-batch arrival; this entry
      // drains the sf events table and publishes the same cohort
      // funnel as q74, computed from the STREAM's final snapshots.
      import s.implicits._
      val ev = stream(s, dir, "events")
        .select(col("user_id").cast("long").as("u"),
          unix_millis(col("ts").cast("timestamp")).as("tsm"),
          col("event_type").as("ty"))
        .as[graft.streaming.FunnelEvent]
      val latest = drain(StreamingExtract.funnelStream(ev, Query.purchaseFunnel),
          OutputMode.Update(), runDir("fx"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(desc("n_events"))))
        .filter(col("rn") === 1)
      // n_users must count the FULL key population (q74's denominator):
      // funnelStream drops stage-irrelevant events map-side, so a user
      // with no relevant event never reaches the stream — left-join the
      // snapshots onto the batch user dim instead of counting stream
      // keys, and x36 == q74 holds structurally, not by the data
      // happening to give every user a relevant event (review finding)
      val allUsers = t(s, dir, "events")
        .select(col("user_id").cast("long").as("u")).distinct()
      allUsers.join(latest, Seq("u"), "left")
        .select(col("u"),
          element_at(col("ts"), 1).as("t1"),
          element_at(col("ts"), 2).as("t2"),
          element_at(col("ts"), 3).as("t3"))
        .groupBy((col("u") % 5).as("cohort"))
        .agg(count(lit(1)).as("n_users"),
          count(col("t1")).as("n_viewed"),
          count(col("t2")).as("n_clicked"),
          count(col("t3")).as("n_purchased"))
        .orderBy("cohort")
    }),
    Query("x37_stream_scd2", (s, dir) => {
      // continuous SCD2 maintenance: q77's intervalization kept current
      // over a CDC stream (upserts from the q77 snapshots + explicit
      // delete tombstones at snapshot 2 for the %13 urls — exactly the
      // events a q42 snapshot diff emits). Three arrival chunks
      // (snaps 0-1, snap 2 + deletes, snap 3) drain as separate
      // micro-batches; the final per-url intervals aggregate to q77's
      // EXACT output columns, and ScdStreamSpec pins x37 == the
      // oracle-verified q77 rows plus stream == local-walk equality
      // under out-of-order arrival.
      import s.implicits._
      val snapped = scd2Snapshots(s, dir)
      val ups = snapped.select(col("url"), col("snap"), col("h"),
        lit(false).as("deleted"))
      val dels = snapped.filter(col("doc_id") % 13 === 0)
        .select(col("url")).distinct()
        .select(col("url"), lit(2L).as("snap"), lit("").as("h"),
          lit(true).as("deleted"))
      val events = ups.unionByName(dels)
      val root = s"$SynthRoot/x37_cdc_${Integer.toHexString(dir.hashCode)}"
      events.filter(col("snap") <= 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/c0")
      events.filter(col("snap") === 2).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/c1")
      events.filter(col("snap") === 3).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/c2")
      val src = s.readStream
        .schema("url STRING, snap LONG, h STRING, deleted BOOLEAN")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/*/*.parquet")
        .as[graft.streaming.ScdEvent]
      val latest = drain(StreamingExtract.scdStream(src), OutputMode.Update(), runDir("scd"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("url").orderBy(desc("n_obs"))))
        .filter(col("rn") === 1)
        .select(col("url"), explode(col("intervals")).as("iv"))
        .select(col("url"), col("iv._2").as("valid_from"),
          col("iv._3").as("valid_to"))
      val dim = snapped.select(col("url"), col("lang")).distinct()
      Query.scd2Rollup(latest.join(broadcast(dim), Seq("url")))
    }),
    Query("x20_crawl_sessions", (s, _) => {
      // custom-state streaming (flatMapGroupsWithState + event-time
      // timeout): per-host crawl sessionization with a 7-day gap over the
      // micro corpus. availableNow drains the corpus in one batch, so the
      // STREAM emits only sessions CLOSED by in-data gaps; each host's
      // trailing session stays in state. The state store is then read
      // back (state data source) and published as the OPEN side, so
      // closed + open accounts for EVERY input page — the reference's
      // eval loop accounts every document (eval_GOT_ocr.py:168-300), and
      // a crawl-ops user reconciling page sums against row counts needs
      // both halves.
      val (pagesDir, _) = microTables(s)
      val run = runDir("sessions")
      val events = StreamingExtract.sessionEvents(s, s"$pagesDir/data/*.parquet")
      val closed = drain(StreamingExtract.crawlSessions(events, gapMinutes = 7 * 24 * 60),
          OutputMode.Append(), run)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_pages")).as("pages_in_closed"),
          sum(col("bytes")).as("bytes_in_closed"))
      val open = StreamingExtract.openSessions(s, s"$run/ckpt")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_open"),
          sum(col("n_pages")).as("pages_in_open"),
          sum(col("bytes")).as("bytes_in_open"))
      closed.join(open, Seq("host"), "full_outer")
        .select(col("host"),
          coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
          coalesce(col("pages_in_closed"), lit(0L)).as("pages_in_closed"),
          coalesce(col("bytes_in_closed"), lit(0L)).as("bytes_in_closed"),
          coalesce(col("n_open"), lit(0L)).as("n_open"),
          coalesce(col("pages_in_open"), lit(0L)).as("pages_in_open"),
          coalesce(col("bytes_in_open"), lit(0L)).as("bytes_in_open"))
        .orderBy("host")
    }),
    Query("x25_stream_dedup", (s, _) => {
      // streaming cross-batch exact dedup (the q09 batch op as continuous
      // ingest): fixture is two parquet FILES where the second repeats 20
      // of the first's payloads; maxFilesPerTrigger=1 makes each file its
      // own micro-batch, so the duplicate verdicts MUST come from the
      // state store, not within-batch grouping.
      val dir = new java.io.File(s"$SynthRoot/dedup_stream_fixture")
      val nParts = Option(dir.listFiles())
        .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
      if (nParts < 2) {
        import s.implicits._
        def rows(ids: Seq[Int], urlPrefix: String, tsBase: Int) = ids.map { i =>
          (s"https://$urlPrefix$i.example.com/p",
            java.sql.Timestamp.valueOf(f"2024-03-01 ${tsBase + i / 60}%02d:${i % 60}%02d:00"),
            s"dedup-stream payload $i with deterministic body".getBytes("UTF-8"),
            null.asInstanceOf[String], null.asInstanceOf[String])
        }.toDF("url", "warc_ts", "html", "text", "lang")
        rows(0 until 40, "d", 1).coalesce(1)
          .write.mode("overwrite").parquet(dir.getAbsolutePath)
        // second FILE repeats payloads 0..19 under new urls (append keeps
        // file A; the re-fetch arrives in a later micro-batch)
        rows(0 until 20, "dup", 9).coalesce(1)
          .write.mode("append").parquet(dir.getAbsolutePath)
      }
      drain(StreamingExtract.dedupStream(
          StreamingExtract.docSigs(s, s"${dir.getAbsolutePath}/*.parquet")),
          OutputMode.Append(), runDir("dedupstream"))
        .groupBy(col("first_seen"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("hash")).as("n_hashes"),
          sum(col("prior_count")).as("sum_prior"))
        .orderBy("first_seen")
    }),
  )
}
