package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — each left row matched to the single right row with the
  * greatest timestamp <= the left row's timestamp, per key. The classic
  * point-in-time lookup (event -> most recent config/profile/robots
  * revision in force when the event happened); Spark has no native
  * operator for it, and the naive form (non-equi theta join, or a
  * per-row max subquery) is a cross-product at scale.
  *
  * Reference anchor: the reference resolves each eval image against the
  * checkpoint in force via sorted `glob("checkpoint-*")` + take-last
  * (GOT-OCR-2.0-master/GOT/train/train_GOT.py:138-141) — a driver-side
  * as-of lookup; this is that semantics as a distributed operator.
  *
  * Spark-first shape: the published sort-merge formulation — union the
  * two sides tagged, ONE shuffle keyed by the join key, and a
  * per-key ordered window forward-fills the latest right payload into
  * each left row (`last_value(ignoreNulls)` over rows unbounded
  * preceding..current). At equal timestamps the right row sorts FIRST,
  * so a revision stamped exactly at the event time is already "in
  * force" (the <= contract). Cost: one shuffle + one per-key local
  * sort — the key (user/host) has cardinality growing with the data
  * (the q39/q46 window-key discipline), never a bounded-cardinality
  * key. No broadcast needed on either side; neither side is assumed
  * small.
  *
  * Contract: `right` must hold at most one row per (key, ts) — dedupe
  * upstream (the tie would otherwise be resolved by encounter order,
  * which is not deterministic under partitioning).
  */
object AsofJoin extends Serializable {

  /** Left columns pass through; matched right payload lands in
    * `asofCol` (struct of the right row's non-key/ts columns) plus
    * `<asofCol>_ts` (the matched right timestamp) — both NULL when no
    * right row precedes the left row. Chained lookups work by naming
    * each one: asofJoin(asofJoin(ev, robots, k, t, "robots"), config,
    * k, t, "config"). */
  def asofJoin(left: DataFrame, right: DataFrame,
               keyCol: String, tsCol: String,
               asofCol: String = "asof"): DataFrame = {
    // fail fast on column collisions, which withColumn would otherwise
    // silently clobber; both output names derive from asofCol so a
    // chained lookup only needs a distinct asofCol, not a rename
    val tsOut = s"${asofCol}_ts"
    val reserved = Seq(asofCol, tsOut, "__side", "__rv", "__rts")
    val clash = (left.columns ++ right.columns).filter(reserved.contains)
    require(clash.isEmpty,
      s"asofJoin reserves columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — pass a different " +
        "asofCol (both outputs derive from it)")
    val payloadCols = right.columns.filter(c => c != keyCol && c != tsCol)
    // an empty payload would make asofCol a zero-field struct (fragile
    // across Spark versions, useless downstream) — the matched timestamp
    // alone is already available as <asofCol>_ts, so a payload-less
    // right side is almost certainly a caller mistake (ADVICE r4)
    require(payloadCols.nonEmpty,
      s"asofJoin right side has no payload columns beyond ($keyCol, $tsCol); " +
        "add the columns to look up — the matched timestamp alone is " +
        s"emitted as $tsOut")
    val l = left.withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payloadCols.toIndexedSeq.map(col _): _*).schema)))
      .withColumn("__rts", lit(null).cast(left.schema(tsCol).dataType))
    val r = right
      .withColumn("__side", lit(0))
      .withColumn("__rv", struct(payloadCols.toIndexedSeq.map(col _): _*))
      .withColumn("__rts", col(tsCol))
      .select((Seq(keyCol, tsCol, "__side", "__rv", "__rts")
        ++ Nil).map(col _): _*)
    // align right to left's full schema with nulls for left-only cols
    val leftOnly = left.columns.filter(c => c != keyCol && c != tsCol)
    val rFull = leftOnly.foldLeft(r) { (df, c) =>
      df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }.select(l.columns.toIndexedSeq.map(col _): _*)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(rFull)
      .withColumn(asofCol, last(col("__rv"), ignoreNulls = true).over(w))
      .withColumn(tsOut, last(col("__rts"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__rv", "__rts")
  }
}
