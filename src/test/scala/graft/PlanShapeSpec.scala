package graft

import graft.extract.ExtractMode
import graft.functions.TextSketch
import graft.icelite.IceLite
import graft.pipeline.Pipeline
import graft.util.Sessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan claims PLANS.md states in prose, pinned on the physical plan
  * (before execution; the adaptive wrapper is looked through), so a plan
  * regression fails a test instead of waiting for a reader of PLANS.md. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = Sessions.local(4)
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  test("Pipeline.extract is map-only; saltedByHost adds exactly one Exchange") {
    val pages = IceLite.read(spark, SparkEntry.microTables(spark)._1)
    def exchanges(in: DataFrame) = collect(plan(Pipeline.extract(in, ExtractMode.Plain).toDF())) {
      case e: Exchange => e
    }
    assert(exchanges(pages).isEmpty)
    assert(exchanges(Pipeline.saltedByHost(pages.select("url", "warc_ts", "html"),
      spark.conf.get("spark.sql.shuffle.partitions").toInt)).size == 1)
  }

  test("lshCandidatePairs has no global Sort") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val global = collect(plan(TextSketch.lshCandidatePairs(docs))) {
      case s: SortExec if s.global => s
    }
    assert(global.isEmpty, global.mkString("\n"))
  }

  test("x24 checks grams in a map: no Generate, no join") {
    val p = plan(SparkEntry.queries("x24_decontam_bloom")(spark, sfDir))
    assert(collect(p) { case g: GenerateExec => g }.isEmpty, p)
    assert(collect(p) { case j: BaseJoinExec => j }.isEmpty, p)
  }

  test("x22 has one hash Exchange, the edge aggregate, below the final orderBy's range Exchange") {
    val ex = collect(plan(SparkEntry.queries("x22_outlinks")(spark, sfDir))) {
      case e: ShuffleExchangeLike => e
    }
    val hash = ex.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    val range = ex.filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(hash.size == 1 && range.size == 1 && ex.size == 2, ex.mkString("\n"))
    assert(range.head.find(_ eq hash.head).isDefined)
  }
}
