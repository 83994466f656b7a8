package graft

import graft.extract.ExtractMode
import graft.gen.SynthCorpus
import graft.icelite.IceLite
import graft.pipeline.Pipeline
import graft.queries.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §5, §7): one `queries` entry per
  * implemented operator family; `oracleSql` holds the DuckDB-equivalent
  * SQL for every relationally-expressible query. Both are views of the
  * registry in `graft.queries`, where each query and its oracle are
  * declared together (`Query`).
  */
object SparkEntry {

  // ------------------------------------------------------- synth corpora

  /** Synth corpora and index caches: `target/synth` under the working
    * directory (the checkout, for sbt's forked `test` and `runMain`). */
  val SynthRoot: String = new java.io.File("target/synth").getAbsolutePath
  final val MicroDocs = 400L

  /** Micro pages+golden tables, IceLite-committed once per JVM/disk. */
  def microTables(spark: SparkSession): (String, String) =
    SynthCorpus.ensure(spark, MicroDocs, s"$SynthRoot/micro")

  /** Flagship: full multi-mode extraction of the micro corpus joined
    * against golden with a byte-identity verdict per url. */
  def entry(spark: SparkSession): DataFrame = {
    val (pagesDir, goldenDir) = microTables(spark)
    val pages = IceLite.read(spark, pagesDir)
    val golden = IceLite.read(spark, goldenDir)
    goldenMatches(pages, golden)
  }

  /** All-mode golden evaluation (J1): extract each fixture with its own
    * mode, reassemble multipage, inner-join golden (broadcast — fixture
    * side is small), compare bytes. */
  def goldenMatches(pages: DataFrame, golden: DataFrame): DataFrame = {
    val single = golden.filter(col("mode") =!= "multipage")
      .join(pages, Seq("url"))
      .select(col("url"), col("warc_ts"), col("html"), col("mode"), col("mode_args"))
    val extractedSingle = Pipeline.extractWithModes(single).toDF()
      .select(col("url"), col("mode"), col("text"), col("status"))
    val parts = Pipeline.extract(
      pages.filter(col("url").contains("?part=")), ExtractMode.Plain).toDF()
    val multi = Pipeline.reassembleMultiPage(parts)
      .select(col("url"), lit("multipage").as("mode"), col("text"), lit("ok").as("status"))
    val extracted = extractedSingle.unionByName(multi)
    extracted.join(broadcast(golden.select(col("url"), col("mode"), col("expected_text"))),
        Seq("url", "mode"))
      .select(col("url"), col("mode"), col("status"),
        (encode(col("text"), "UTF-8") === col("expected_text")).as("matches"),
        length(col("text")).as("out_chars"))
      .orderBy("url", "mode")
  }

  // ---------------------------------------------------------- queries

  /** Every declared query by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  /** The DuckDB oracle SQL of every query that has one, by name. */
  val oracleSql: Map[String, String] =
    Query.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
