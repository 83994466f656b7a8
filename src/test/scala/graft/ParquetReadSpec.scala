package graft

import graft.extract.ExtractMode
import graft.icelite.IceLite
import graft.obs.StageListener
import graft.pipeline.Pipeline
import graft.util.{Parquet, Sessions}
import org.scalatest.funsuite.AnyFunSuite

/** `util.Parquet.read` takes the schema `spark.read.parquet` would infer
  * from one footer on the driver, so a table read launches no job. */
class ParquetReadSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(2)

  /** Jobs run on this thread while `body` runs. */
  private def jobs(body: => Unit): Int =
    StageListener.record(spark.sparkContext)(body)._2.jobs.size

  /** The helper's schema equals the inferred one, and reads with no job. */
  private def same(paths: String*): Unit = {
    val inferred = spark.read.parquet(paths: _*).schema
    assert(Parquet.schema(spark, paths).nonEmpty, paths.head)
    assert(Parquet.read(spark, paths: _*).schema == inferred, paths.head)
    assert(jobs(Parquet.read(spark, paths: _*)) == 0, paths.head)
    assert(jobs(spark.read.parquet(paths: _*)) >= 1, "vacuity: spark.read.parquet runs an inference job")
  }

  test("pages table: IceLite.read runs no job, same schema and rows as spark.read.parquet") {
    val (pagesDir, _) = SparkEntry.microTables(spark)
    val id = IceLite.currentSnapshotId(spark, pagesDir).get
    val files = IceLite.readManifest(spark, pagesDir, id).files.map(f => s"$pagesDir/data/$f")
    same(files: _*)
    assert(jobs(IceLite.read(spark, pagesDir)) == 0)
    val a = IceLite.read(spark, pagesDir).select("url").collect().map(_.getString(0)).sorted
    val b = spark.read.parquet(files: _*).select("url").collect().map(_.getString(0)).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("an ExtractedDoc sink (nested struct, array, timestamp) and a synth table") {
    val (pagesDir, _) = SparkEntry.microTables(spark)
    val out = s"${SparkEntry.SynthRoot}/parquet_read_${System.nanoTime()}"
    Pipeline.extract(IceLite.read(spark, pagesDir).limit(40), ExtractMode.Plain).write.parquet(out)
    same(out)
    val inferred = spark.read.parquet(out).schema
    assert(Seq("warc_ts", "spans", "metrics").forall(inferred.fieldNames.contains))
    // a synth table as a directory: one part file beside _SUCCESS and .crc files
    val synth = s"${SparkEntry.SynthRoot}/parquet_read_synth_${System.nanoTime()}"
    spark.range(50).selectExpr("id", "cast(id as decimal(12,2)) as price", "date_add(date'2024-01-01', cast(id as int)) as d",
        "cast(id as string) as s", "binary(cast(id as string)) as b", "map('k', id) as m",
        "array(named_struct('x', id, 'y', cast(id as double))) as xs")
      .coalesce(1).write.parquet(synth)
    same(synth)
  }

  test("no path keeps spark.read.parquet's error") {
    val e1 = intercept[Exception](spark.read.parquet())
    val e2 = intercept[Exception](Parquet.read(spark))
    assert(e1.getClass == e2.getClass && e1.getMessage == e2.getMessage)
  }
}
