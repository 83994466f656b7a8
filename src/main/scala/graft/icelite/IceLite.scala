package graft.icelite

import graft.util.{FsText, Parquet}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal Iceberg-style snapshot layer over Parquet ("IceLite",
  * SURVEY.md §1.2): no Iceberg runtime ships in this environment, so the
  * north rule's observable semantics — snapshot-scoped reads, append-only
  * commits, resume — are provided by a tiny manifest scheme:
  *
  *   <root>/data/<snapshotId>-<k>.parquet      immutable data files
  *   <root>/snapshots/v<snapshotId>.manifest   one per committed snapshot
  *
  * A manifest lists the COMPLETE file set of its snapshot (append commits
  * carry the parent's files forward). Commit order: stage data files →
  * move into data/ → write manifest to a temp name → atomic rename. The
  * current snapshot is simply the max committed manifest id, so readers
  * never observe a half-committed snapshot. Swap this module for a real
  * Iceberg catalog on a production cluster.
  */
object IceLite {

  final case class Manifest(snapshotId: Long, parentId: Long, rowCount: Long,
      files: Seq[String], committedAt: String)

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def currentSnapshotId(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val dir = new Path(root, "snapshots")
    if (!f.exists(dir)) return None
    val ids = f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong }
    if (ids.isEmpty) None else Some(ids.max)
  }

  def readManifest(spark: SparkSession, root: String, snapshotId: Long): Manifest = {
    val text = FsText.read(spark.sparkContext.hadoopConfiguration,
      new Path(root, s"snapshots/v$snapshotId.manifest").toString)
    val lines = text.split('\n').filter(_.nonEmpty)
    val kv = lines.filter(_.contains('=')).map { l =>
      val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
    }
    val m = kv.filter(_._1 != "file").toMap
    Manifest(
      snapshotId = m("snapshot_id").toLong,
      parentId = m.getOrElse("parent_id", "-1").toLong,
      rowCount = m.getOrElse("row_count", "0").toLong,
      files = kv.collect { case ("file", v) => v }.toSeq,
      committedAt = m.getOrElse("committed_at", ""))
  }

  /** Snapshot-scoped read; defaults to the latest committed snapshot. The
    * schema comes from one data file's footer on the driver
    * (`util.Parquet`), so a read launches no job. */
  def read(spark: SparkSession, root: String, snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.orElse(currentSnapshotId(spark, root))
      .getOrElse(throw new IllegalStateException(s"IceLite table $root has no committed snapshot"))
    val mf = readManifest(spark, root, id)
    Parquet.read(spark, mf.files.map(f => s"$root/data/$f"): _*)
  }

  /** Commit a new snapshot. `append=true` carries the parent file set
    * forward (Iceberg append); false replaces it (overwrite). Returns the
    * new snapshot id. */
  def commit(spark: SparkSession, root: String, df: DataFrame, append: Boolean = true): Long = {
    val f = fs(spark, root)
    val rootP = new Path(root)
    f.mkdirs(new Path(rootP, "data"))
    f.mkdirs(new Path(rootP, "snapshots"))
    val parent = currentSnapshotId(spark, root).getOrElse(-1L)
    val snap = parent + 1L
    val stage = new Path(rootP, s".stage-$snap-${System.nanoTime()}")
    df.write.parquet(stage.toString)
    val staged = f.listStatus(stage).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet")).sortBy(_.getName)
    val newFiles = staged.zipWithIndex.map { case (p, k) =>
      val name = f"$snap%05d-$k%05d.parquet"
      f.rename(p, new Path(rootP, s"data/$name"))
      name
    }
    f.delete(stage, true)
    val parentMf = if (append && parent >= 0) Some(readManifest(spark, root, parent)) else None
    val files = parentMf.map(_.files).getOrElse(Seq.empty) ++ newFiles
    // metadata-only count over the NEW files (parquet count pushdown, no
    // footer job); never re-reads the carried-forward data.
    val newRows = Parquet.read(spark, newFiles.map(n => s"$root/data/$n").toSeq: _*).count()
    val rowCount = parentMf.map(_.rowCount).getOrElse(0L) + newRows
    val body = new StringBuilder
    body.append(s"snapshot_id=$snap\n")
    body.append(s"parent_id=$parent\n")
    body.append(s"row_count=$rowCount\n")
    body.append(s"committed_at=${java.time.Instant.ofEpochMilli(System.currentTimeMillis()).toString}\n")
    files.foreach(n => body.append(s"file=$n\n"))
    // not FsText.write, which overwrites: this rename fails when a
    // concurrent commit took the same snapshot id first
    val tmp = new Path(rootP, s"snapshots/.v$snap.manifest.tmp")
    val out = f.create(tmp, true)
    try out.write(body.toString.getBytes(UTF_8)) finally out.close()
    if (!f.rename(tmp, new Path(rootP, s"snapshots/v$snap.manifest")))
      throw new IllegalStateException(s"IceLite commit race on $root v$snap")
    snap
  }

  def exists(spark: SparkSession, root: String): Boolean =
    currentSnapshotId(spark, root).isDefined
}
