package graft.functions

import graft.util.{FsText, IndexManifest}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 postings index — the text-retrieval serving shape
  * beside [[IvfIndex]]'s vector one: the inverted index q44 builds
  * per-query is written ONCE as a term-bucket-partitioned parquet
  * table, and a query scans only the handful of bucket partitions its
  * terms hash into (Catalyst partition pruning — the same
  * `PartitionFilters` discipline as the IVF cells table). At 10^12
  * documents the postings table is petabytes; a two-term query reads
  * ~2/nBuckets of it and never touches the corpus.
  *
  * The index is maintained INCREMENTALLY under crawl churn with the
  * segment + tombstone model (the Lucene architecture as plain
  * parquet): [[upsert]] applies a snapshot delta (q42's
  * changed/removed/added classification) by writing one NEW segment of
  * postings plus a tombstone set — a term-hash-partitioned index cannot
  * be patched in place because one document's terms hash across every
  * bucket, so deltas append and queries merge. A tombstone in segment k
  * kills that doc_id's postings in all EARLIER segments only (a changed
  * doc's fresh postings live in the same segment as its tombstone).
  *
  * Layout under `dir`:
  *   postings/seg=<k>/bucket=<b>/…  (term, doc_id, tf, dl)
  *   tombstones/seg=<k>/…           (doc_id) — dropped-or-changed as of k
  *   stats/seg=<k>/…                one row of SIGNED deltas
  *                                  (n_docs_delta, sum_dl_delta); totals
  *                                  are exact integer sums, no rescan
  *   manifest                       [[IndexManifest]] of (doc_id, text)
  *                                  + nBuckets, layout
  *   SEGS                           segment count
  *
  * [[upsert]] maintains the manifest EXACTLY from the delta alone (XOR
  * out the old rows' hashes, XOR in the new rows') — after an upsert,
  * [[isCurrent]] against the full new corpus holds, which the spec uses
  * to prove the incremental bookkeeping introduces no drift. Document
  * frequencies are computed in-query from the live (bucket-pruned,
  * tombstone-filtered) postings — df is corpus state, and only the
  * query's own terms' df is ever needed, so no df table has to be
  * maintained under churn.
  *
  * Bucketing uses `pmod(xxhash64(term), nBuckets)` — the SAME Catalyst
  * expression at build and query time, so routing agrees by
  * construction. Scoring shares [[bm25Contrib]] with the direct q44
  * path, so index-served and scan-computed scores cannot drift.
  */
object PostingsIndex {

  /** BM25 term contribution (k1=1.2, b=0.75) with the rational idf
    * surrogate (N-df+0.5)/(df+0.5) — no ln(), so the arithmetic is
    * bit-identical cross-engine (q35/q44's argument), and ONE fixed
    * expression tree over integer tf/df/dl/N/sumDl, shared by q44 and
    * the index query path. */
  def bm25Contrib(nDocs: Column, df: Column, tf: Column, dl: Column,
      sumDl: Column): Column =
    ((nDocs - df + lit(0.5)) / (df + lit(0.5))) *
      ((tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
          (dl / (sumDl.cast("double") / nDocs)))))

  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong))

  /** Manifest stats of (doc_id, text) plus the total token count, in
    * one scan. */
  private def corpusStats(docs: DataFrame): (IndexManifest.Stats, Long) = {
    val (st, r) = IndexManifest.statsWith(docs, Seq(col("doc_id"), col("text")),
      coalesce(sum(size(split(col("text"), " ")).cast("long")), lit(0L)))
    (st, r.getLong(2))
  }

  /** `layout` versions the on-disk shape: bumping it invalidates every
    * pre-segment-model index (same rows/fingerprint, incompatible
    * directory structure), forcing a rebuild instead of a runtime
    * missing-column failure on a stale cache. */
  private def params(nBuckets: Int): Seq[(String, Any)] =
    Seq("nBuckets" -> nBuckets, "layout" -> 2)

  /** Tokenization shared with q44: whitespace-delimited terms. */
  private def termFreqs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id").cast("long").as("doc_id"),
      split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    toks.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), first(col("dl")).as("dl"))
  }

  /** Segment `seg`'s signed stats delta, then the segment count. */
  private def writeStatsSeg(spark: SparkSession, dir: String, seg: Int,
      nDocsDelta: Long, sumDlDelta: Long): Unit = {
    spark.range(1)
      .select(lit(nDocsDelta).as("n_docs_delta"),
        lit(sumDlDelta).as("sum_dl_delta"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats/seg=$seg")
    FsText.write(spark.sparkContext.hadoopConfiguration, s"$dir/SEGS",
      s"""{"segs":${seg + 1}}""")
  }

  /** Build segment 0 from the full corpus. One explode + one
    * (doc, term)-keyed agg (absorbs mega-terms map-side); the bucket
    * write is the only wide exchange. Clears any prior index at `dir`
    * (stale delta segments must not survive a rebuild). */
  def build(docs: DataFrame, dir: String, nBuckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    termFreqs(docs).withColumn("bucket", bucketOf(col("term"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings/seg=0")
    val (st, dl) = corpusStats(docs)
    writeStatsSeg(spark, dir, 0, st.rows, dl)
    IndexManifest.write(spark, dir, st, params(nBuckets))
  }

  /** Apply a snapshot delta WITHOUT a rebuild. `oldDocs` = the
    * changed-or-removed rows AS OF THE PREVIOUS snapshot (their old
    * text — q42's full-outer-join classification has both sides in
    * hand); `newDocs` = the changed-or-added rows with their new text.
    * Writes one postings segment (newDocs only), one tombstone set
    * (oldDocs' ids), one signed stats delta, and updates the manifest
    * incrementally (rows ± counts, fingerprint XOR) so [[isCurrent]]
    * against the full post-delta corpus holds exactly. Cost scales with
    * the DELTA, never the corpus. */
  def upsert(dir: String, oldDocs: DataFrame, newDocs: DataFrame): Unit = {
    val spark = oldDocs.sparkSession
    val nb = IndexManifest.readLong(spark, dir, "nBuckets").toInt
    val seg = IndexManifest.readLong(spark, dir, "segs", "SEGS").toInt
    val (stOld, dlOld) = corpusStats(oldDocs)
    val (stNew, dlNew) = corpusStats(newDocs)
    termFreqs(newDocs).withColumn("bucket", bucketOf(col("term"), nb))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings/seg=$seg")
    oldDocs.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .write.mode("overwrite").parquet(s"$dir/tombstones/seg=$seg")
    writeStatsSeg(spark, dir, seg, stNew.rows - stOld.rows, dlNew - dlOld)
    IndexManifest.write(spark, dir,
      IndexManifest.read(spark, dir).minus(stOld).plus(stNew), params(nb))
  }

  /** Merge all segments back into one — the Lucene compaction step that
    * completes the lifecycle (build → upsert* → compact → upsert* …).
    * Segments cost queries an ever-growing tombstone anti-join and
    * multi-directory scan; compaction materializes the LIVE rows
    * (tombstones applied) as a fresh segment 0 and drops the tombstone
    * and delta history. The corpus is unchanged, so the manifest is
    * restored verbatim — [[isCurrent]] holds across a compact, and query
    * results are identical before and after (spec-pinned). Cost: one
    * full read + write of the live postings — amortize over many
    * upserts, exactly like Lucene merges. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val tot = spark.read.parquet(s"$dir/stats")
      .agg(coalesce(sum(col("n_docs_delta")), lit(0L)).as("n"),
        coalesce(sum(col("sum_dl_delta")), lit(0L)).as("dl")).head()
    val (totN, totDl) = (tot.getLong(0), tot.getLong(1))
    val live = applyTombstones(spark, dir,
        spark.read.parquet(s"$dir/postings"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("bucket"))
    // write-then-swap: the live rows are read lazily from the very
    // directories being replaced, so materialize to a temp dir first
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.compact-tmp")
    val fs = tmp.getFileSystem(conf)
    live.write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    // the manifest is down across the destructive swap (crash-safe,
    // see IndexManifest): a crash mid-swap forces a rebuild
    // instead of a "current" index missing its postings dir
    IndexManifest.takenDown(spark, dir) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/tombstones"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/stats"), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/postings"))
      fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$dir/postings/seg=0"))
      writeStatsSeg(spark, dir, 0, totN, totDl)
    }
  }

  /** Kill postings of docs rewritten in LATER segments (a tombstone at
    * segment k applies to segments < k only). Shared by [[query]] and
    * [[compact]]. */
  private def applyTombstones(spark: SparkSession, dir: String,
      post: DataFrame): DataFrame = {
    if (!FsText.exists(spark.sparkContext.hadoopConfiguration, s"$dir/tombstones"))
      return post
    val tombs = spark.read.parquet(s"$dir/tombstones")
      .select(col("doc_id").as("t_doc_id"), col("seg").as("t_seg"))
    post.join(broadcast(tombs),
      post("doc_id") === col("t_doc_id") && post("seg") < col("t_seg"),
      "left_anti")
  }

  /** True when a usable index exists at `dir` AND its manifest matches
    * the given corpus (row count + content fingerprint + params) —
    * whether the index got there by [[build]] or by a chain of
    * [[upsert]]s. */
  def isCurrent(spark: SparkSession, dir: String, docs: DataFrame,
      nBuckets: Int = 32): Boolean =
    IndexManifest.isCurrent(spark, dir, corpusStats(docs)._1, params(nBuckets))

  /** BM25 top-k over the persisted index. `queryTerms` is
    * (query_id LONG, term STRING, tidx INT) with tidx ∈ {1,2} — the
    * two-term written-order float sum q44 uses for cross-engine
    * bit-exactness. Only the bucket partitions the query terms hash
    * into are scanned, across ALL segments (PartitionFilters on
    * `bucket`); tombstones kill earlier-segment postings of rewritten
    * docs; df comes from the live rows themselves; query terms, df
    * rows, and corpus stats all broadcast. Returns the q44 columns plus
    * audit columns (n_buckets, n_buckets_scanned, n_segs) — the x21
    * discipline: a persisted result carries the settings it was
    * produced under. */
  def query(spark: SparkSession, dir: String, queryTerms: DataFrame,
      k: Int = 5): DataFrame = {
    val nb = IndexManifest.readLong(spark, dir, "nBuckets").toInt
    val nSegs = IndexManifest.readLong(spark, dir, "segs", "SEGS").toInt
    val qt = queryTerms.select(col("query_id").cast("long").as("query_id"),
        col("term"), col("tidx").cast("int").as("tidx"))
      .withColumn("bucket", bucketOf(col("term"), nb))
    // bounded by the query vocabulary — never corpus-sized
    val buckets = qt.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val vocab = qt.select(col("term")).distinct()
    val post = spark.read.parquet(s"$dir/postings")
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(vocab), Seq("term"))
    val live = applyTombstones(spark, dir, post)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    // df from the live rows: bounded by the query terms' postings
    val dfT = live.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val stats = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n_docs_delta")).cast("long").as("n_docs"),
        sum(col("sum_dl_delta")).cast("long").as("sum_dl"))
    val contrib = live
      .join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        bm25Contrib(col("n_docs"), col("df"), col("tf"), col("dl"),
          col("sum_dl")).as("c"))
    val scored = contrib
      .join(broadcast(qt.select(col("query_id"), col("term"), col("tidx"))),
        Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(when(col("tidx") === 1, col("c"))).as("c1"),
        max(when(col("tidx") === 2, col("c"))).as("c2"))
      .select(col("query_id"), col("doc_id").as("id"),
        (coalesce(col("c1"), lit(0.0)) + coalesce(col("c2"), lit(0.0)))
          .as("score"))
    TopK.perQuery(scored, k)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"),
        floor(col("score") * 1e6).cast("long").as("score_x1e6"),
        lit(nb).as("n_buckets"),
        lit(buckets.length).as("n_buckets_scanned"),
        lit(nSegs).as("n_segs"))
      .orderBy("query_id", "rank")
  }
}
