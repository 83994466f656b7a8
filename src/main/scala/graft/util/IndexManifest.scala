package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The staleness manifest of every persisted index (IvfIndex float and
  * PQ-coded, DedupIndex, PostingsIndex): one JSON object
  * `{"rows":…,"fingerprint":…,<build params>}` beside the index's
  * parquet, written through [[FsText]] so it lives in the same store. A
  * reuse decision compares it with the current input: an index dir that
  * survived an in-place input change would otherwise serve stale results.
  * Each index names only its fingerprint columns and its params. */
object IndexManifest {

  private final val File = "MANIFEST"

  /** Row count plus the bit-XOR of xxhash64 over the fingerprint columns:
    * order- and partitioning-invariant, flipped by any in-place content
    * change at the same row count, and its own inverse, so append and
    * upsert maintain it from the delta alone. Pairs of identical rows
    * cancel; acceptable for a staleness check, since every index
    * fingerprints its row id. */
  final case class Stats(rows: Long, fingerprint: Long) {
    def plus(d: Stats): Stats = Stats(rows + d.rows, fingerprint ^ d.fingerprint)
    def minus(d: Stats): Stats = Stats(rows - d.rows, fingerprint ^ d.fingerprint)
  }

  def stats(df: DataFrame, cols: Column*): Stats = statsWith(df, cols)._1

  /** [[Stats]] plus the caller's `extra` aggregates (row fields 2, …) in
    * ONE scan. `bit_xor` over zero rows is NULL: an empty input (a crawl
    * round that fetched nothing) fingerprints as 0. */
  def statsWith(df: DataFrame, cols: Seq[Column], extra: Column*): (Stats, Row) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(cols: _*)), lit(0L)) +: extra: _*).head()
    (Stats(r.getLong(0), r.getLong(1)), r)
  }

  private def format(st: Stats, params: Seq[(String, Any)]): String =
    (Seq("rows" -> st.rows, "fingerprint" -> st.fingerprint) ++ params)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  def write(spark: SparkSession, dir: String, st: Stats,
      params: Seq[(String, Any)], name: String = File): Unit =
    FsText.write(hconf(spark), s"$dir/$name", format(st, params))

  /** True iff the manifest at `dir` reads exactly what [[write]] would
    * write for this input and params. A truncated manifest mismatches
    * (rebuild), never throws; `st` is scanned only if a manifest exists. */
  def isCurrent(spark: SparkSession, dir: String, st: => Stats,
      params: Seq[(String, Any)], name: String = File): Boolean =
    FsText.exists(hconf(spark), s"$dir/$name") &&
      FsText.read(hconf(spark), s"$dir/$name") == format(st, params)

  /** One integer key of the JSON file `dir/name`; fails naming both. */
  def readLong(spark: SparkSession, dir: String, key: String,
      name: String = File): Long = {
    val txt = FsText.read(hconf(spark), s"$dir/$name")
    (s""""$key":(-?\\d+)""").r.findFirstMatchIn(txt) match {
      case Some(m) => m.group(1).toLong
      case None => throw new IllegalStateException(s"$dir/$name has no $key")
    }
  }

  def read(spark: SparkSession, dir: String): Stats =
    Stats(readLong(spark, dir, "rows"), readLong(spark, dir, "fingerprint"))

  /** Runs a compaction's destructive swap of data dirs with the manifest,
    * the validity marker readers check first, taken DOWN and restored
    * verbatim after: a crash mid-swap leaves isCurrent() false
    * and the caller rebuilds, instead of trusting an index that is
    * missing a data dir. */
  def takenDown(spark: SparkSession, dir: String)(swap: => Unit): Unit = {
    val txt = FsText.read(hconf(spark), s"$dir/$File")
    val p = new org.apache.hadoop.fs.Path(s"$dir/$File")
    p.getFileSystem(hconf(spark)).delete(p, false)
    swap
    FsText.write(hconf(spark), s"$dir/$File", txt)
  }
}
