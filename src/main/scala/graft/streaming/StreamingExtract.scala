package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** One page observation entering sessionization. */
final case class PageEvent(host: String, ts: java.sql.Timestamp, bytes: Long)

/** Open-session state kept per host between micro-batches. */
final case class SessionState(startMs: Long, endMs: Long, nPages: Long, bytes: Long)

/** A closed crawl session (emitted downstream). */
final case class HostSession(host: String, start_ms: Long, end_ms: Long,
    n_pages: Long, bytes: Long)

/** One content signature entering streaming dedup (payload already
  * dropped — only the hash crosses the stateful shuffle). */
final case class DocSig(hash: String, url: String, ts: java.sql.Timestamp, bytes: Long)

/** Per-content-hash dedup state: how many copies ever ingested. */
final case class DedupState(count: Long)

/** TTL-bounded dedup state: copy count + last-seen processing time. */
final case class DedupTtlState(count: Long, lastMs: Long)

/** Streaming dedup verdict for one observed document. */
final case class DedupDecision(url: String, hash: String, first_seen: Boolean,
    prior_count: Long)

/** One event entering the streaming funnel. */
final case class FunnelEvent(u: Long, tsm: Long, ty: String)

/** Per-key funnel state: the key's stage-relevant events so far. */
final case class FunnelKeyState(events: Seq[(Long, String)])

/** Current funnel snapshot for one key: matched timestamp per stage
  * (None = not reached yet), positionally aligned with the stage list.
  * `n_events` = relevant events accumulated in state — it strictly
  * grows across a key's emissions (a key only emits on new data), so
  * the row with max n_events per key IS the latest snapshot, without
  * assuming snapshots refine monotonically (a late event can CHANGE an
  * earlier stage's match, not just fill a null). */
final case class FunnelProgress(u: Long, n_events: Long, ts: Seq[Option[Long]])

/** One CDC observation entering streaming SCD2 maintenance: url seen at
  * snapshot `snap` with content hash `h`, or deleted there. */
final case class ScdEvent(url: String, snap: Long, h: String, deleted: Boolean)

/** Per-url SCD2 state: all observations so far. */
final case class ScdKeyState(obs: Seq[(Long, String, Boolean)])

/** Current validity intervals for one url: (hash, valid_from,
  * valid_to=None while open). `n_obs` grows with state (equal n_obs ⇒
  * identical state ⇒ identical intervals, so max-n_obs per url is the
  * latest snapshot without monotonicity assumptions — x36 discipline). */
final case class ScdIntervals(url: String, n_obs: Long,
    intervals: Seq[(String, Long, Option[Long])])

/** The engine's Structured Streaming surface (SURVEY.md §2.9), the
  * Spark home of the reference's resume loop. A streaming query is a
  * batch operator applied to a stream source and drained through
  * `drain`: the parquet file sink's commit log makes the drain
  * exactly-once on replay, so no query needs a sink of its own. This
  * module holds the stream sources, that drain, and the operators that
  * need cross-batch state: sessions, dedup, funnel, SCD2 and the
  * interval join.
  */
object StreamingExtract {

  /** The `pages` schema (BASELINE.json input_hint). */
  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** A stream reader of `pages` parquet: a file stream cannot infer its
    * schema, so `pagesSchema` is declared here, once. */
  def pagesReader(spark: SparkSession): DataStreamReader =
    spark.readStream.schema(pagesSchema)

  /** Runs `stream` under `Trigger.AvailableNow` until it has processed
    * every input present at its start, and returns what it wrote. An
    * `Append` stream goes to parquet in `run/out`, exactly-once: a batch
    * replayed after a lost commit marker finds its files already in the
    * sink's log (`run/out/_spark_metadata`) and adds none. It is read
    * back with the stream's own schema, so a drain over no input files
    * returns 0 rows with the stream's columns. An `Update` or `Complete`
    * stream fills a memory table named after the last segment of `run`.
    * The checkpoint is `run/ckpt` either way, for a caller that reads the
    * drained state (`openSessions`). */
  def drain(stream: Dataset[_], mode: OutputMode, run: String): DataFrame = {
    val spark = stream.sparkSession
    val toMemory = mode != OutputMode.Append()
    val name = new java.io.File(run).getName
    val w = stream.writeStream.outputMode(mode).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$run/ckpt")
    (if (toMemory) w.format("memory").queryName(name)
     else w.format("parquet").option("path", s"$run/out")).start().awaitTermination()
    if (toMemory) spark.table(name) else spark.read.schema(stream.schema).parquet(s"$run/out")
  }

  /** Per-host crawl sessionization — the CUSTOM-STATE streaming surface
    * (KeyValueGroupedDataset.flatMapGroupsWithState, SURVEY.md §2.9):
    * consecutive fetches of one host within `gap` belong to one session;
    * a gap closes the session and emits it. State per host is one
    * fixed-size record; event-time timeout (driven by the watermark)
    * flushes sessions for hosts that simply stop appearing — the case a
    * pure groupBy-window cannot express (sessions have DATA-dependent,
    * not clock-aligned, boundaries).
    *
    * Scale shape: state is O(live hosts), not O(pages); each micro-batch
    * shuffles only (host, ts, bytes) triples, never payloads.
    */
  def crawlSessions(events: Dataset[PageEvent],
      gapMinutes: Int = 60): Dataset[HostSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", "1 day")
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (host: String, rows: Iterator[PageEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(HostSession(host, s.startMs, s.endMs, s.nPages, s.bytes))
          } else {
            // event order within a micro-batch is not guaranteed
            val sorted = rows.toArray.sortBy(_.ts.getTime)
            val closed = Vector.newBuilder[HostSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // cross-batch LATE events (t before the open session):
                // within gap of the session start -> extend it backwards;
                // earlier than that -> a disjoint earlier session that
                // can only ever hold this event now, emit it immediately
                // (naive `t - endMs <= gap` silently swallowed all late
                // arrivals into the wrong session)
                case Some(s) if t < s.startMs - gapMs =>
                  closed += HostSession(host, t, t, 1L, e.bytes)
                case Some(s) if t - s.endMs <= gapMs =>
                  cur = Some(SessionState(math.min(s.startMs, t),
                    math.max(s.endMs, t), s.nPages + 1, s.bytes + e.bytes))
                case Some(s) =>
                  closed += HostSession(host, s.startMs, s.endMs, s.nPages, s.bytes)
                  cur = Some(SessionState(t, t, 1L, e.bytes))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.bytes))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** OPEN sessions left in the state store after a (drained) run — the
    * other half of the session accounting (VERDICT r2 missing #1): an
    * AvailableNow drain emits only sessions CLOSED by in-data gaps, so
    * every host's trailing session is still in state; a static-corpus
    * user summing only closed pages can never reconcile against input
    * row counts. This reads the query's state directly via Spark's state
    * data source (`format("statestore")` — reads the LAST committed
    * state snapshot of the checkpoint), so closed + open = every page,
    * with no semantic change to the stream itself. */
  def openSessions(spark: SparkSession, checkpointDir: String): Dataset[HostSession] = {
    import spark.implicits._
    // schema: key.value (the group key), value.groupState.<state fields>,
    // value.timeoutTimestamp, partition_id
    spark.read.format("statestore").load(checkpointDir)
      .select(col("key.value").as("host"),
        col("value.groupState.startMs").as("start_ms"),
        col("value.groupState.endMs").as("end_ms"),
        col("value.groupState.nPages").as("n_pages"),
        col("value.groupState.bytes").as("bytes"))
      .as[HostSession]
  }

  /** Streaming source for sessionization over a pages parquet glob. */
  def sessionEvents(spark: SparkSession, pagesGlob: String): Dataset[PageEvent] = {
    import spark.implicits._
    pagesReader(spark).parquet(pagesGlob)
      .select(parse_url(col("url"), lit("HOST")).as("host"),
        col("warc_ts").as("ts"),
        length(col("html")).cast("long").as("bytes"))
      .as[PageEvent]
  }

  /** Streaming cross-batch exact deduplication — the streaming-ingest
    * twin of the batch hash-groupBy dedup (q09): a continuously arriving
    * crawl must drop re-fetched payloads against everything ALREADY
    * ingested, which a per-batch groupBy cannot see. State per content
    * hash is one counter (KeyValueGroupedDataset.flatMapGroupsWithState);
    * each micro-batch shuffles only (hash, url, ts) triples — payloads
    * never enter the stateful stage.
    *
    * Scale shape: state is O(distinct payloads ever seen). This form is
    * the EXACT-semantics option (NoTimeout, unbounded); production
    * bounds state with `dedupStreamTtl`, which expires idle hashes
    * after a TTL — re-admitting an expired payload is an acceptable
    * re-fetch, the standard crawl-dedup trade.
    */
  def dedupStream(docs: Dataset[DocSig]): Dataset[DedupDecision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(_.hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[DocSig], state: GroupState[DedupState]) =>
          val prior = state.getOption.map(_.count).getOrElse(0L)
          val out = decide(hash, rows, prior)
          state.update(DedupState(prior + out.length))
          out.iterator
      }
  }

  /** The verdicts of one hash's rows after `prior` earlier copies, in a
    * deterministic order (micro-batch iterator order is not guaranteed):
    * earliest ts wins, url breaks ties. */
  private def decide(hash: String, rows: Iterator[DocSig], prior: Long): Array[DedupDecision] =
    rows.toArray.sortBy(r => (r.ts.getTime, r.url)).zipWithIndex.map { case (r, i) =>
      DedupDecision(r.url, hash, first_seen = prior + i == 0L, prior_count = prior + i)
    }

  /** TTL-BOUNDED streaming dedup — the production form of `dedupStream`:
    * a hash not observed for `ttlMs` of processing time has its state
    * expired (ProcessingTimeTimeout fires on a later micro-batch and
    * removes it), so state is O(hashes seen within the TTL window), not
    * O(hashes ever). An expired payload re-admits as `first_seen` — the
    * standard crawl trade (a re-fetch after the window is acceptable;
    * missing a NEW document never happens).
    *
    * Two expiry paths, because ProcessingTimeTimeout only fires for keys
    * with NO new data in a batch: (a) idle key → timeout callback →
    * state.remove(); (b) data arrives for a key whose TTL already lapsed
    * before any timeout fired → the age check resets the count as if the
    * state had been removed. Both are deterministic given batch
    * processing times.
    *
    * TRIGGER CAVEAT: run this under a continuous trigger
    * (`processAllAvailable()` + `stop()` to drain in tests). Under
    * `Trigger.AvailableNow` the query NEVER terminates — Spark's
    * FlatMapGroupsWithStateExec reports shouldRunAnotherBatch = true
    * unconditionally for ProcessingTimeTimeout (processing time always
    * advances), so the drain loops empty micro-batches forever. The
    * exact-semantics `dedupStream` (NoTimeout) is the AvailableNow-safe
    * form. */
  def dedupStreamTtl(docs: Dataset[DocSig], ttlMs: Long): Dataset[DedupDecision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .groupByKey(_.hash)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (hash: String, rows: Iterator[DocSig], state: GroupState[DedupTtlState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val now = state.getCurrentProcessingTimeMs()
            val prior = state.getOption match {
              case Some(s) if now - s.lastMs <= ttlMs => s.count
              case _ => 0L // absent, or present-but-lapsed (path b)
            }
            val out = decide(hash, rows, prior)
            state.update(DedupTtlState(prior + out.length, now))
            state.setTimeoutDuration(ttlMs)
            out.iterator
          }
      }
  }

  /** CONTINUOUS funnel matching — q74/Funnel.matchStages maintained
    * over live event ingest (the streaming member of the funnel family,
    * like x25 is to q09): per key, state holds the key's STAGE-RELEVANT
    * events seen so far and each micro-batch emits the key's updated
    * funnel snapshot. Because the first-match cascade is a pure
    * function of the event SET ([[graft.functions.Funnel.cascade]] —
    * min over qualifying, no positional dependence), late-arriving
    * events are handled exactly: append + recompute equals the batch
    * result over the final event set, with NO watermark or ordering
    * assumption (FunnelStreamSpec pins stream == batch with a user's
    * events split across micro-batches arriving out of time order).
    *
    * Scale shape: events not matching any stage type are dropped
    * MAP-SIDE (never shuffled, never in state); state per key is
    * bounded by the key's own relevant activity — strictly tighter
    * than the batch collect_list, which holds all of the key's events.
    * Run under OutputMode.Update (each batch re-emits snapshots of
    * touched keys only). */
  def funnelStream(events: Dataset[FunnelEvent],
      stages: Seq[graft.functions.Funnel.Stage]): Dataset[FunnelProgress] = {
    val spark = events.sparkSession
    import spark.implicits._
    val types = stages.map(_.eventType).toSet
    events
      .filter(e => types.contains(e.ty))
      .groupByKey(_.u)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (u: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelKeyState]) =>
          val prior = state.getOption.map(_.events).getOrElse(Seq.empty)
          val all = prior ++ rows.map(r => (r.tsm, r.ty))
          state.update(FunnelKeyState(all))
          FunnelProgress(u, all.length.toLong,
            graft.functions.Funnel.cascade(all, stages))
      }
  }

  /** Order-independent SCD2 intervalization over an observation SET —
    * q77's interval semantics as a local function: walk observations in
    * snapshot order; a hash change closes the running interval at the
    * change snapshot and opens a new one; a delete closes it at the
    * delete snapshot; a later non-delete observation RE-OPENS (re-added
    * url — richer than q77's snapshot-diff form, where absence can only
    * be inferred once). Pure function of the set, so the streaming form
    * below handles late/out-of-order arrival exactly (the x36 cascade
    * argument). Duplicate identical observations are deduped; inputs
    * should hold at most one observation per (url, snap) — conflicting
    * same-snap observations are processed in (snap, deleted, h) order,
    * deterministic but semantically the caller's bug. */
  def scdIntervalize(obs: Seq[(Long, String, Boolean)]): Seq[(String, Long, Option[Long])] = {
    val out = Vector.newBuilder[(String, Long, Option[Long])]
    var cur: Option[(String, Long)] = None // (hash, valid_from)
    obs.distinct.sortBy(o => (o._1, o._3, o._2)).foreach { case (snap, h, del) =>
      if (del) {
        cur.foreach { case (ch, from) => out += ((ch, from, Some(snap))) }
        cur = None
      } else cur match {
        case Some((ch, _)) if ch == h => () // unchanged: interval extends
        case Some((ch, from)) =>
          out += ((ch, from, Some(snap)))
          cur = Some((h, snap))
        case None => cur = Some((h, snap))
      }
    }
    cur.foreach { case (ch, from) => out += ((ch, from, None)) }
    out.result()
  }

  /** CONTINUOUS SCD2 maintenance — q77's batch intervalization kept
    * current over a CDC observation stream (the events q42's snapshot
    * diff emits: upserts with content hashes, deletes as tombstones).
    * State per url = its observation set (bounded by snapshots
    * observed, not corpus size); each micro-batch re-intervalizes and
    * emits the url's full current interval list. Late-arriving
    * snapshots are exact — a snapshot observed after its successors
    * splits/rewrites intervals as if it had always been there
    * (ScdStreamSpec pins stream == an independent local walk across
    * out-of-order micro-batches, and x37 == the oracle-verified q77
    * aggregate at the corpus level). Run under OutputMode.Update. */
  def scdStream(events: Dataset[ScdEvent]): Dataset[ScdIntervals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.url)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (url: String, rows: Iterator[ScdEvent], state: GroupState[ScdKeyState]) =>
          val prior = state.getOption.map(_.obs).getOrElse(Seq.empty)
          val all = (prior ++ rows.map(r => (r.snap, r.h, r.deleted))).distinct
          state.update(ScdKeyState(all))
          ScdIntervals(url, all.length.toLong, scdIntervalize(all))
      }
  }

  /** Streaming source of content signatures over a pages parquet glob —
    * hash computed map-side, payload dropped before the stateful shuffle. */
  def docSigs(spark: SparkSession, pagesGlob: String): Dataset[DocSig] = {
    import spark.implicits._
    pagesReader(spark)
      .option("maxFilesPerTrigger", 1) // one micro-batch per file: dedup is cross-batch
      .parquet(pagesGlob)
      .select(md5(col("html")).as("hash"), col("url"),
        col("warc_ts").as("ts"), length(col("html")).cast("long").as("bytes"))
      .as[DocSig]
  }

  /** Windowed extraction-rate monitoring over the crawl timestamps —
    * watermark + tumbling window aggregation (the streaming-native agg
    * surface; tests drain it under AvailableNow). */
  def rateByWindow(spark: SparkSession, pagesGlob: String): DataFrame = {
    pagesReader(spark).parquet(pagesGlob)
      .withWatermark("warc_ts", "1 day")
      .groupBy(window(col("warc_ts"), "7 days"), col("lang"))
      .agg(count(lit(1)).as("n_pages"),
        sum(length(col("html"))).as("bytes_in"))
  }

  /** STREAM-STREAM event-time interval join — the last §2.9 surface:
    * a stream of page fetches inner-joins a stream of per-host change
    * signals (robots/config updates) when the fetch happened within
    * `horizonMinutes` AFTER the change — "which fetches ran under a
    * config that had just changed", the crawl-ops audit that needs
    * BOTH sides live. Both inputs are watermarked and the join
    * condition bounds event time on both ends, which is exactly what
    * lets Spark EVICT buffered rows (a fetch older than
    * change-watermark + horizon can never match a future change, and
    * vice versa) — without the interval bound, stream-stream join
    * state grows forever, the x25-NoTimeout hazard in join form.
    * Inputs: fetches(host, fetch_ts), changes(host, change_ts).
    * StreamJoinSpec pins result == the batch join of the same rows. */
  def fetchesNearChanges(fetches: DataFrame, changes: DataFrame,
      horizonMinutes: Int = 60,
      watermark: String = "30 minutes"): DataFrame = {
    val f = fetches.withWatermark("fetch_ts", watermark).alias("f")
    val c = changes.withWatermark("change_ts", watermark).alias("c")
    f.join(c, expr(
      "f.host = c.host AND fetch_ts >= change_ts AND " +
        s"fetch_ts <= change_ts + interval $horizonMinutes minutes"))
      .select(col("f.host").as("host"), col("fetch_ts"), col("change_ts"))
  }

  /** The two sides of [[fetchesNearChanges]] from a pages glob: every
    * page is a fetch; pages whose url hash lands in a 1/4 slice mark a
    * change signal for their host at the same instant. */
  def fetchAndChangeStreams(spark: SparkSession,
      pagesGlob: String): (DataFrame, DataFrame) = {
    def read() = pagesReader(spark).parquet(pagesGlob)
      .select(parse_url(col("url"), lit("HOST")).as("host"),
        col("warc_ts"), col("url"))
    val fetches = read().select(col("host"), col("warc_ts").as("fetch_ts"))
    val changes = read().filter(pmod(xxhash64(col("url")), lit(4)) === 0)
      .select(col("host"), col("warc_ts").as("change_ts"))
    (fetches, changes)
  }
}
