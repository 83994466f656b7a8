package graft

import graft.extract.ExtractMode
import graft.icelite.IceLite
import graft.pipeline.{Pipeline, ResumableRun}
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed-path E2E (SURVEY.md §5): the same golden discipline as
  * GoldenSpec but through the Spark pipeline — salted repartition,
  * per-row-mode kernel, multipage reassembly, chunk/reassemble identity,
  * quarantine side output, IceLite snapshot reads, and the lineage
  * resume contract (kill after k commits → rerun → equals single-shot). */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private lazy val dirs = SparkEntry.microTables(spark)

  test("flagship entry: every golden matches byte-identically through Spark") {
    val df = SparkEntry.entry(spark)
    val total = df.count()
    val matched = df.filter(col("matches")).count()
    assert(total > 300L)
    assert(matched == total, s"only $matched of $total golden rows matched")
  }

  test("IceLite: snapshot read returns exactly the committed rows; append adds a snapshot") {
    val root = s"${SparkEntry.SynthRoot}/icelite_test_${System.nanoTime()}"
    import spark.implicits._
    val s1 = IceLite.commit(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(IceLite.read(spark, root, Some(s1)).count() == 2)
    val s2 = IceLite.commit(spark, root, Seq((3L, "c")).toDF("id", "v"), append = true)
    assert(s2 == s1 + 1)
    assert(IceLite.read(spark, root, Some(s2)).count() == 3)
    assert(IceLite.read(spark, root, Some(s1)).count() == 2) // time travel
    assert(IceLite.currentSnapshotId(spark, root).contains(s2))
  }

  test("quarantine side output: hostile rows are flagged, none crash the job") {
    val pages = IceLite.read(spark, dirs._1)
    val extracted = Pipeline.extract(pages, ExtractMode.Plain)
    val err = Pipeline.errors(extracted).collect()
    assert(err.nonEmpty)
    assert(err.forall(_.status == "binary_payload"))
  }

  test("chunked extraction ≡ plain extraction, with real multi-chunk docs") {
    val res = SparkEntry.queries("x04_chunked_identity")(spark, "")
    val rows = res.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("identical")))
    assert(rows.exists(_.getAs[Int]("n_chunks") > 1), "no doc produced >1 chunk")
  }

  test("chunked extraction keeps every input row: status and text equal plain's") {
    val pages = IceLite.read(spark, dirs._1)
    val n = pages.count()
    assert(pages.select("url").distinct().count() == n, "urls must key the join")
    val chunkedAll = Pipeline.extractChunked(pages)
    val plainAll = Pipeline.extract(pages, ExtractMode.Plain).toDF()
    assert(chunkedAll.count() == n, "chunked extraction dropped input rows")
    assert(plainAll.count() == n)
    val chunked = chunkedAll.select(col("url").as("c_url"), col("status").as("c_status"),
      col("text").as("c_text"), col("n_chunks"))
    val plain = plainAll.select(col("url").as("p_url"), col("status").as("p_status"),
      col("text").as("p_text"))
    val rows = chunked.join(plain, col("c_url") === col("p_url"), "full_outer").collect()
    assert(rows.length == n)
    val unmatched = rows.filter(r => r.isNullAt(r.fieldIndex("c_url")) || r.isNullAt(r.fieldIndex("p_url")))
    assert(unmatched.isEmpty, s"${unmatched.length} urls on one side only")
    rows.foreach { r =>
      val url = r.getAs[String]("c_url")
      val status = r.getAs[String]("c_status")
      assert(status == r.getAs[String]("p_status"), s"status differs for $url")
      if (status == "ok") assert(r.getAs[String]("c_text") == r.getAs[String]("p_text"), s"text differs for $url")
      else assert(r.getAs[Int]("n_chunks") == 0, s"quarantined $url has chunks")
    }
    assert(rows.exists(_.getAs[String]("c_status") != "ok"), "no quarantined row: the check is vacuous")
  }

  test("resume: kill after first batch, rerun completes exactly the remainder") {
    val base = s"${SparkEntry.SynthRoot}/resume_test_${System.nanoTime()}"
    val out = s"$base/extracted"
    val lin = s"$base/lineage"
    // simulated kill: only 1 batch of 3 shards commits
    val first = ResumableRun.run(spark, dirs._1, out, lin, nShards = 9,
      batchSize = 3, maxBatches = 1)
    assert(first == Seq(0L, 1L, 2L))
    val committed1 = ResumableRun.committedShards(spark, lin, 0L)
    assert(committed1 == Set(0L, 1L, 2L))
    // resume: processes exactly the uncommitted shards
    val second = ResumableRun.run(spark, dirs._1, out, lin, nShards = 9, batchSize = 3)
    assert(second == (3L until 9L))
    assert(ResumableRun.committedShards(spark, lin, 0L) == (0L until 9L).toSet)
    // resumed total equals a fresh single-shot run
    val resumed = ResumableRun.readOutput(spark, out)
    val single = s"$base/single"
    ResumableRun.run(spark, dirs._1, s"$single/extracted", s"$single/lineage",
      nShards = 9, batchSize = 9)
    val oneShot = ResumableRun.readOutput(spark, s"$single/extracted")
    assert(resumed.count() == oneShot.count())
    assert(resumed.select("url", "text").exceptAll(oneShot.select("url", "text")).count() == 0)
    assert(oneShot.select("url", "text").exceptAll(resumed.select("url", "text")).count() == 0)
    // idempotent: a third run does nothing
    assert(ResumableRun.run(spark, dirs._1, out, lin, nShards = 9).isEmpty)
  }

  test("salted host repartition spreads the Zipf-head host across partitions") {
    import spark.implicits._
    val pages = IceLite.read(spark, dirs._1)
    val hot = pages.withColumn("host", parse_url(col("url"), lit("HOST")))
      .groupBy("host").count().orderBy(col("count").desc)
      .first().getString(0)
    val parts = Pipeline.saltedByHost(pages.filter(col("url").contains(s"//$hot/")), 16)
      .select(spark_partition_id()).distinct().count()
    assert(parts > 1, s"hot host $hot landed in a single partition (skew not defused)")
  }

  test("extraction output is invariant under partitioning (1 vs 16 partitions)") {
    import graft.extract.ExtractMode
    val pages = IceLite.read(spark, dirs._1)
    def run(in: DataFrame) =
      Pipeline.extract(in, ExtractMode.Plain).collect().sortBy(_.url)
        .map(d => (d.url, d.status, d.text, d.spans.mkString(","), d.metrics))
    val one = run(pages.repartition(1))
    val many = run(pages.repartition(16))
    // the salted url-host repartition: a shuffle into spark.sql.shuffle.partitions
    val salted = run(Pipeline.saltedByHost(pages.repartition(1).select("url", "warc_ts", "html"),
      spark.conf.get("spark.sql.shuffle.partitions").toInt))
    assert(one.length == many.length && one.sameElements(many))
    assert(one.length == salted.length && one.sameElements(salted))
  }

  test("multipage reassembly is ordered by part index, not shuffle order") {
    val mp = SparkEntry.queries("x03_multipage")(spark, "")
    val golden = IceLite.read(spark, dirs._2).filter(col("mode") === "multipage")
      .select(col("url"), col("expected_text"))
    val joined = mp.join(golden, Seq("url"))
      .select((encode(col("text"), "UTF-8") === col("expected_text")).as("ok"))
      .collect()
    assert(joined.nonEmpty && joined.forall(_.getBoolean(0)))
  }
}
