package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Range (interval-containment) join — each probe row with a long
  * point value joined to the interval(s) [lo, hi) containing it. The
  * lookup-table shape behind size-class bucketing, IP->geo ranges, and
  * score->tier maps. Spark's native plan for `x >= lo AND x < hi` is
  * BroadcastNestedLoopJoin (every probe row tests every range) — fine
  * for 20 ranges, quadratic death at 10^6 ranges.
  *
  * Spark-first shape: the published bucket-expansion ("grid") scheme —
  * every interval explodes to the coarse buckets of width `bucketWidth`
  * it overlaps, the probe computes its single bucket with one integer
  * divide, and the join becomes an EQUI-join on the bucket id that
  * Catalyst shuffles or broadcasts like any other; an exact
  * `lo <= x < hi` residual filter removes the false candidates from
  * partially-covered buckets. Fan-out per interval = ceil(len/width),
  * so width tunes duplication vs selectivity exactly like Manku's
  * block-combination tradeoff (HammingNearDup). Intervals may overlap;
  * a probe matching k intervals emits k rows (inner-join semantics —
  * wrap with a left anti-join for coverage audits).
  */
object RangeJoin extends Serializable {

  /** probe: any DataFrame with long column `xCol`; ranges: long
    * columns `lo`, `hi` (half-open) plus payload columns. Output: the
    * probe columns + the range's columns for every containing range. */
  def rangeJoin(probe: DataFrame, xCol: String, ranges: DataFrame,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val expanded = ranges
      .withColumn("__b0", expr(s"lo div $bucketWidth"))
      // hi is exclusive: the last covered bucket holds hi-1
      .withColumn("__b1", expr(s"(hi - 1) div $bucketWidth"))
      .filter(col("hi") > col("lo"))
      .withColumn("__bucket", explode(sequence(col("__b0"), col("__b1"))))
      .drop("__b0", "__b1")
    val keyed = probe.withColumn("__bucket", expr(s"$xCol div $bucketWidth"))
    keyed.join(expanded, Seq("__bucket"))
      .filter(col(xCol) >= col("lo") && col(xCol) < col("hi"))
      .drop("__bucket")
  }
}
