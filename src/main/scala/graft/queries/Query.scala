package graft.queries

import graft.SparkEntry.SynthRoot
import graft.util.Parquet
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared query: `build(spark, sfDir)` plans it over the tables in
  * `sfDir`; `oracle` is the DuckDB-equivalent SQL of a relationally
  * expressible query (column names aliased identically on both sides; the
  * check hash-compares values after sorting columns by name); `planNote`
  * is the plan claim `graft.ExplainAll` prints above its plan.
  *
  * Oracle-parity discipline for floats: aggregates are either integer
  * counts/sums or per-row `floor(x * scale)` before an integer sum —
  * never a float aggregate whose last-ulp could differ between engines.
  * DuckDB's sum(BIGINT) returns HUGEINT (int128), so every oracle sum
  * carries an OUTER CAST(... AS BIGINT) to match Spark's int64 — inner
  * casts alone are not enough. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None, planNote: String = "")

object Query {

  /** The registry: every declared query, one family per file. Lazy, since
    * each family's entries call `Query.apply` while it initializes. */
  lazy val all: Seq[Query] = Relational.all ++ TextDedup.all ++ Sketches.all ++
    Indexes.all ++ CrawlExtract.all ++ Streaming.all

  /** Table `name` of `dir`, read without a schema-inference job. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(s, s"$dir/$name.parquet")

  /** A fresh directory `<tag>_<8 hex>` under `SynthRoot` for one run's
    * outputs and checkpoints; its name is also a valid memory-sink name. */
  private[queries] def runDir(tag: String): String =
    s"$SynthRoot/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Table `name` of `dir` as a file stream. A file stream source reads
    * directories only, so the table's one file is copied into its own
    * directory under `SynthRoot` (what a real ingest directory looks like
    * anyway); the schema is the file's footer, as `t` reads it. */
  private[graft] def stream(s: SparkSession, dir: String, name: String): DataFrame = {
    val staged = Paths.get(s"$SynthRoot/stream_${name}_${Integer.toHexString(dir.hashCode)}")
    Files.createDirectories(staged)
    Files.copy(Paths.get(s"$dir/$name.parquet"), staged.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    s.readStream.schema(t(s, dir, name).schema).parquet(staged.toString)
  }

  /** The deterministic 4-snapshot crawl history shared by q77 (batch
    * SCD2 intervalization) and x37 (streaming SCD2 maintenance — the
    * spec pins x37 == q77, so both MUST synthesize identical
    * snapshots): (url, lang, snap, h); a url's content bumps its
    * version at snapshot s iff (doc_id + s) % 3 == 0, %13 urls are
    * deleted from snapshot 2 on. */
  private[queries] def scd2Snapshots(s: SparkSession, dir: String): DataFrame = {
    val a0 = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("source"), col("text"))
    a0.select(col("doc_id"), col("lang"), col("source"), col("text"),
        explode(sequence(lit(0L), lit(3L))).as("snap"))
      .filter(!(col("doc_id") % 13 === 0 && col("snap") >= 2))
      // first snapshot whose change-trigger fires: m in 1..3 with
      // (doc_id + m) % 3 == 0; version at snap = #fires in 1..snap
      .withColumn("m", when((lit(3) - col("doc_id") % 3) % 3 === 0, lit(3L))
        .otherwise((lit(3) - col("doc_id") % 3) % 3))
      .withColumn("ver", when(col("snap") >= col("m"),
        expr("(snap - m) div 3") + 1L).otherwise(lit(0L)))
      .select(
        concat(lit("https://"), col("source"), lit(".example.com/p"),
          col("doc_id").cast("string")).as("url"),
        col("lang"), col("snap"),
        md5(concat(coalesce(col("text"), lit("")), lit("#v"),
          col("ver").cast("string")).cast("binary")).as("h"),
        col("doc_id"))
  }

  /** The view -> click -> purchase funnel of q74 and x36: each stage
    * within 6 hours of the previous one, so the drop-off path is
    * exercised — without the bound this corpus converts everyone. */
  private[graft] val purchaseFunnel: Seq[graft.functions.Funnel.Stage] = {
    val win = Some(21600000L)
    Seq(graft.functions.Funnel.Stage("view", "view"),
      graft.functions.Funnel.Stage("click", "click", win),
      graft.functions.Funnel.Stage("purchase", "purchase", win))
  }

  /** The per-lang rollup of SCD2 validity intervals (lang, url,
    * valid_from, valid_to, null while open) shared by q77 and x37: per
    * url its interval count, open count and closed length, then per lang. */
  private[queries] def scd2Rollup(intervals: DataFrame): DataFrame =
    intervals.groupBy(col("lang"), col("url"))
      .agg(count(lit(1)).as("n_int"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
        sum(when(col("valid_to").isNotNull,
          col("valid_to") - col("valid_from")).otherwise(0L)).as("closed_len"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_urls"),
        sum(col("n_int")).as("n_intervals"),
        sum(col("n_open")).as("n_open"),
        sum(col("closed_len")).as("sum_closed_len"),
        max(col("n_int")).as("max_versions"))
      .orderBy("lang")

  /** Per-host inter-arrival gaps of the events table, shared by q39 and
    * q56: (host_id = user_id, gap_ms from the host's previous event).
    * The window partitions by host, a key whose cardinality grows with
    * the data; ties break on event_id, so the lag order is total. ts is
    * TIMESTAMP_NTZ: the UTC session cast matches DuckDB's epoch_ms on a
    * naive timestamp, and both truncate micros identically. */
  private[queries] def hostGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("host_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id").cast("long").as("host_id"), col("ts"),
        col("event_id").cast("long").as("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(col("host_id"),
        (unix_millis(col("ts").cast("timestamp"))
          - unix_millis(col("prev_ts").cast("timestamp"))).as("gap_ms"))
  }

  /** The planted dedup clusters of q25, q43 and q55 over `docs` (a long
    * `doc_id` column): the nodes are the docs with doc_id % 10 <= 5, and
    * an edge links each a with a % 10 < 4 to a + 1 — chains of five
    * consecutive ids (multi-hop, so label propagation must iterate) and
    * singletons. Returns the nodes with `cluster`, their
    * `connectedComponents` label: the min id of their chain. */
  private[queries] def chainClusters(docs: DataFrame): DataFrame = {
    val nodes = docs.filter(col("doc_id") % 10 <= 5)
    val edges = nodes.select(col("doc_id").as("doc_a"))
      .filter(col("doc_a") % 10 < 4)
      .join(nodes.select(col("doc_id").as("doc_b")),
        col("doc_b") === col("doc_a") + 1)
    val labels = graft.functions.TextSketch.connectedComponents(edges)
    nodes.join(labels, nodes("doc_id") === labels("id"), "left")
      .select(nodes("*"), coalesce(col("label"), nodes("doc_id")).as("cluster"))
  }

  /** The benchmark grams of q28, x24 and x28: the distinct word 5-grams
    * (`g`) of the eval split of `docs`, the docs with doc_id % 101 == 0. */
  private[queries] def benchGrams(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.WordNgrams.register(s)
    docs.filter(col("doc_id") % 101 === 0 && size(split(col("text"), " ")) >= 5)
      .select(explode(array_distinct(expr("word_ngrams(split(text, ' '), 5)"))).as("g"))
      .distinct()
  }

  /** The corpus side of q28 and x24: every doc outside the eval split,
    * plus a planted contaminated copy (lang `planted`, the first 120
    * chars) of each eval doc, which keeps the >= 3 branch non-vacuous.
    * The planted ids start past max(doc_id) + 1, so they never collide
    * with natural ids at any corpus size (a fixed +500000 collided once
    * the corpus passed 500k docs) — a one-row agg, not a scan-side action. */
  private[queries] def decontamCorpus(docs: DataFrame): DataFrame = {
    val plantOff = docs.agg(max(col("doc_id")).cast("long")).first().getLong(0) + 1L
    docs.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + plantOff).cast("long").as("doc_id"),
          lit("planted").as("lang"),
          substring(col("text"), 1, 120).as("text")))
  }

  /** The per-lang audit of q28 and x24 over (lang, n_overlap): a doc
    * sharing >= 3 grams with the benchmark counts as contaminated. */
  private[queries] def decontamAudit(overlaps: DataFrame): DataFrame =
    overlaps.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_overlap") >= 3, 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_overlap")).as("sum_overlap"))
      .orderBy("lang")
}
