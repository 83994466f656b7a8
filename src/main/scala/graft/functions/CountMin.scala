package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode/Muthukrishnan 2005) over a long-valued
  * item stream — fixed-memory frequency estimation for hot-key / skew
  * detection: "which hosts/terms are heavy" without a full groupBy of
  * the raw key space. Estimates NEVER undercount (min over d
  * independent rows of counters, each only inflated by collisions) —
  * the property the q67 oracle asserts per item.
  *
  * Determinism: hashes are fixed universal-family integer maps
  * ((a*x + b) mod p mod w, p = 8191 prime, pinned a/b) — no RNG, so
  * counters and estimates are identical across engines and
  * parallelism levels, unlike seed-per-run sketch libraries. Counter
  * sums commute, so the sketch is mergeable by construction (map-side
  * partial aggregation builds per-partition sketches; the shuffle
  * merges them — exactly the HLL/KMV discipline of q66).
  *
  * Scale shape: build = map-only bucket fan-out (d rows/item) into ONE
  * d*w-key aggregate — counters total d*w longs regardless of input
  * size; estimate = broadcast-join of the tiny counter table to the
  * query items, min-aggregated per item. The raw key space never
  * shuffles.
  */
object CountMin extends Serializable {

  final val P = 8191L // prime > any bucket count we use
  final val DefaultA = Seq(31L, 57L, 97L)
  final val DefaultB = Seq(11L, 3L, 73L)

  /** Largest |item| for which a*item + b cannot overflow a long with
    * the largest coefficient (a=97, b<=73): (2^63 - 1 - 73) / 97.
    * Enforced in expand() — overflow would wrap silently in Spark but
    * ERROR in a DuckDB oracle, the worst kind of divergence. */
  final val MaxItem = (Long.MaxValue - 73L) / 97L

  /** pmod, not %: a negative item (raw signed hash output) must land
    * in 0..w-1 like everything else, or the counter table silently
    * holds up to d*(2w-1) rows and the collision analysis breaks. */
  private def bucketExpr(r: Int, itemCol: String, w: Int): String =
    s"pmod(pmod(${DefaultA(r)} * $itemCol + ${DefaultB(r)}, $P), $w)"

  /** (r, bucket) fan-out shared by the counter build (batch and
    * streaming) and the estimate path — one hashing kernel so the paths
    * cannot drift. */
  def expand(items: DataFrame, d: Int = 3, w: Int = 32): DataFrame = {
    require(d <= DefaultA.length, s"at most ${DefaultA.length} rows")
    items
      // enforce the overflow contract at runtime (one comparison/row):
      // an out-of-range item errors loudly instead of wrap-hashing
      .withColumn("item", expr(
        s"CASE WHEN abs(item) <= ${MaxItem}L THEN item " +
          s"ELSE CAST(raise_error('CountMin item exceeds |${MaxItem}|') AS BIGINT) END"))
      .withColumn("r", explode(array((0 until d).map(lit): _*)))
      .withColumn("bucket", expr(
        s"CASE ${(0 until d).map(r => s"WHEN r = $r THEN ${bucketExpr(r, "item", w)}").mkString(" ")} END"))
  }

  /** Build the d x w counter table from `items` (long column `item`;
    * one stream element per row). Output: (r, bucket, cnt) — at most
    * d*w rows. It runs unchanged on a streaming DataFrame (x35): the
    * aggregation key is (r, bucket), so streaming state is the counter
    * grid whatever the key cardinality, and stream counters equal batch
    * counters over the same rows (StreamCountMinSpec). */
  def buildCounters(items: DataFrame, d: Int = 3, w: Int = 32): DataFrame =
    expand(items, d, w)
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-query estimates for `queries` (long column `item`, distinct
    * rows) against a counter table from buildCounters. Output:
    * (item, est). An empty bucket counts as 0 (left join + coalesce),
    * so an item the stream never held estimates 0 unless ALL its d
    * buckets collide — exact Count-Min semantics for unseen items,
    * not just for seen ones. */
  def estimate(queries: DataFrame, counters: DataFrame,
               d: Int = 3, w: Int = 32): DataFrame =
    expand(queries, d, w)
      .join(broadcast(counters), Seq("r", "bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
}
