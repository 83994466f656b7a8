package graft.pipeline

import graft.extract.ExtractMode
import graft.icelite.IceLite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One lineage row per committed shard (FIXTURES.md §5): the engine's
  * checkpoint table. The reference's resume — `glob("checkpoint-*")`
  * then continue (train_GOT.py:138-141) — becomes an anti-join of input
  * shards against committed (snapshot_id, partition_hash) rows. */
final case class LineageRow(snapshot_id: Long, partition_hash: Long,
    row_count_in: Long, row_count_out: Long, bytes_in: Long,
    metrics: Map[String, Long], committed_at: java.sql.Timestamp)

/** Resumable, shard-committed extraction run (SURVEY.md §2.1 S10, §2.4
  * J4). Input is an IceLite snapshot; work is split into `nShards` by
  * url-host hash; each batch of shards is extracted, written to its own
  * deterministic output directory (idempotent overwrite), and only then
  * recorded in the lineage table. A killed run re-executes exactly the
  * uncommitted shards.
  */
object ResumableRun {

  final val DefaultShards = 16

  def shardExpr(nShards: Int) =
    pmod(xxhash64(parse_url(col("url"), lit("HOST")), col("url")), lit(nShards))

  def committedShards(spark: SparkSession, lineageDir: String, snapshotId: Long): Set[Long] = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(lineageDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(lineageDir))) return Set.empty
    spark.read.parquet(lineageDir)
      .where(col("snapshot_id") === snapshotId)
      .select(col("partition_hash")).as[Long].collect().toSet
  }

  /** Run (or resume) the extraction of `pagesRoot`'s current snapshot.
    *
    * @param maxBatches test hook: stop after N batches (simulated kill).
    * @return shard ids processed in THIS invocation.
    */
  def run(spark: SparkSession, pagesRoot: String, outDir: String,
      lineageDir: String, mode: ExtractMode = ExtractMode.Plain,
      nShards: Int = DefaultShards, batchSize: Int = 4,
      maxBatches: Int = Int.MaxValue): Seq[Long] = {
    val snap = IceLite.currentSnapshotId(spark, pagesRoot)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $pagesRoot"))
    val pages = IceLite.read(spark, pagesRoot, Some(snap))
      .withColumn("shard", shardExpr(nShards))
    val done = committedShards(spark, lineageDir, snap)
    val remaining = (0L until nShards.toLong).filterNot(done.contains)
    val processed = Seq.newBuilder[Long]
    remaining.grouped(batchSize).take(maxBatches).foreach { batch =>
      val batchDf = pages.where(col("shard").isin(batch: _*))
      val extracted = Pipeline.extract(batchDf, mode)
        .toDF()
        .withColumn("shard", shardExpr(nShards))
      extracted.persist()
      try {
        // deterministic per-batch dir → idempotent on re-run after a kill;
        // `shard` stays a data column (batch dirs are the commit unit)
        extracted.write.mode("overwrite")
          .parquet(s"$outDir/batch_${batch.head}")
        import spark.implicits._
        // left-join against the batch's shard list so EMPTY shards also
        // commit a (zero-count) lineage row and are never re-scanned
        val shardList = batch.toDF("shard")
        val agged = extracted.groupBy(col("shard"))
          .agg(
            count(lit(1)).as("row_count_in"),
            sum(when(col("status") === "ok", 1L).otherwise(0L)).as("row_count_out"),
            sum(col("metrics.bytes_in")).as("bytes_in"),
            map_from_arrays(
              array(lit("blocks_kept"), lit("quarantined"), lit("pdf_docs")),
              array(
                sum(col("metrics.blocks_kept")),
                sum(when(col("status") =!= "ok", 1L).otherwise(0L)),
                sum(col("metrics.is_pdf")))).as("metrics"))
        val lineage = shardList
          .join(agged, Seq("shard"), "left")
          .select(
            lit(snap).as("snapshot_id"),
            col("shard").cast("long").as("partition_hash"),
            coalesce(col("row_count_in"), lit(0L)).as("row_count_in"),
            coalesce(col("row_count_out"), lit(0L)).as("row_count_out"),
            coalesce(col("bytes_in"), lit(0L)).as("bytes_in"),
            coalesce(col("metrics"),
              expr("map()").cast("map<string,bigint>")).as("metrics"),
            current_timestamp().as("committed_at"))
        // lineage append is the commit point: written only after the data
        lineage.write.mode("append").parquet(lineageDir)
        processed ++= batch
      } finally extracted.unpersist()
    }
    processed.result()
  }

  /** Read everything extracted so far (all committed batches). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame = {
    // one root per committed batch directory (the commit unit); `shard`
    // is a data column of each batch's files, not a partition directory
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = fs.listStatus(p).map(_.getPath.toString)
      .filter(_.contains("batch_")).sorted
    spark.read.parquet(batches.toIndexedSeq: _*)
  }
}
