package graft.queries

import graft.SparkEntry.SynthRoot
import graft.util.Parquet
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
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(s, s"$dir/$name.parquet")

  /** `<tag>_<8 hex>`, fresh per call: a run's memory-sink name. */
  private[queries] def runId(tag: String): String =
    s"${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** A fresh directory under `SynthRoot` for one run's outputs and checkpoints. */
  private[queries] def runDir(tag: String): String = s"$SynthRoot/${runId(tag)}"

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
}
