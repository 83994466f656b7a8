package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One scored candidate row for a query. `score` is boxed/nullable:
  * SQL-computed scores can be NULL (0/0 cosine of a zero vector) and the
  * row_number-window baseline this aggregator replaces ranks those rows
  * LAST (desc ⇒ nulls last) rather than dropping them. */
final case class QueryScored(query_id: Long, id: Long, score: java.lang.Double)

/** One kept neighbor. */
final case class Scored(id: Long, score: java.lang.Double)

/** Bounded top-k by (score desc, id asc) as a typed Aggregator.
  *
  * Replaces the `row_number().over(Window.partitionBy(query_id))` ranking
  * pattern (VERDICT r1 #8): the window form sorts EVERY candidate row per
  * query partition — at 100x data that is a full per-partition sort whose
  * cost is O(m log m) in candidates, and all m rows shuffle. This
  * aggregator keeps a size-k insertion buffer, participates in map-side
  * partial aggregation (only k rows per (partition, query) ever shuffle),
  * and merges buffers associatively — the shape that survives a 1000-
  * executor scale-up.
  *
  * Tie-break matches the window form exactly: higher score first, then
  * lower id — so results are byte-identical to the row_number baseline
  * and deterministic under any partitioning.
  */
class TopKAgg(k: Int) extends Aggregator[QueryScored, Array[Scored], Array[Scored]] {

  /** Total order matching Spark's descending sort exactly, INCLUDING
    * NaN and NULL (Spark orders NaN above every other double, so NaN
    * ranks first in desc order, and desc puts NULL last; naive `>`
    * would instead silently drop both and diverge from the row_number
    * baseline). */
  private def better(a: Scored, b: Scored): Boolean = {
    val an = a.score == null
    val bn = b.score == null
    if (an || bn) (bn && !an) || (an && bn && a.id < b.id)
    else {
      val c = java.lang.Double.compare(a.score, b.score)
      c > 0 || (c == 0 && a.id < b.id)
    }
  }

  /** Insert into a best-first sorted buffer capped at k. */
  private def insert(buf: Array[Scored], s: Scored): Array[Scored] = {
    if (buf.length == k && !better(s, buf(k - 1))) return buf
    val out = new Array[Scored](math.min(buf.length + 1, k))
    var i = 0; var bi = 0; var placed = false
    while (i < out.length) {
      if (!placed && (bi >= buf.length || better(s, buf(bi)))) { out(i) = s; placed = true }
      else { out(i) = buf(bi); bi += 1 }
      i += 1
    }
    out
  }

  def zero: Array[Scored] = Array.empty
  def reduce(buf: Array[Scored], qs: QueryScored): Array[Scored] =
    insert(buf, Scored(qs.id, qs.score))
  def merge(a: Array[Scored], b: Array[Scored]): Array[Scored] = b.foldLeft(a)(insert)
  def finish(r: Array[Scored]): Array[Scored] = r
  def bufferEncoder: Encoder[Array[Scored]] = ExpressionEncoder()
  def outputEncoder: Encoder[Array[Scored]] = ExpressionEncoder()
}

object TopK {

  /** Rank the top k rows per query_id of a (query_id, id, score)-shaped
    * DataFrame. Output: (query_id, rank, id, score), rank 1-based by
    * (score desc, id asc). */
  def perQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id").cast("long").as("query_id"),
        col("id").cast("long").as("id"), col("score").cast("double").as("score"))
      .as[QueryScored]
      .groupByKey(_.query_id)
      .agg(new TopKAgg(k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case (s, i) => (qid, (i + 1).toLong, s.id, s.score) }
      }
      .toDF("query_id", "rank", "id", "score")
  }

  /** [[perQuery]] in the nearest-neighbor result shape shared by the ANN
    * operators: (query_id, rank, neighbor_id, `scoreName` =
    * floor(score * 10000), audit…), ordered by (query_id, rank). */
  private[functions] def neighbors(scored: DataFrame, k: Int, scoreName: String,
      audit: Column*): DataFrame =
    perQuery(scored, k)
      .select(Seq(col("query_id"), col("rank"), col("id").as("neighbor_id"),
        floor(col("score") * 10000).cast("long").as(scoreName)) ++ audit: _*)
      .orderBy("query_id", "rank")
}
