package graft.functions

import graft.util.Checkpoints
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** PageRank over the host link graph (the x22 outlink aggregate) — the
  * crawl-quality prior: frontier schedulers and quality filters weight
  * hosts by link-graph centrality, the standard web-scale companion to
  * main-content extraction.
  *
  * Scale shape: the co-partitioned RDD iteration of the Spark RDD paper.
  * Setup builds the node table (each host with its out-edge fractions)
  * under one `HashPartitioner` and counts it — the only setup action.
  * Then ONE job runs every hop, each hop ONE shuffle: ranks zip with
  * their node partition (narrow) and emit per-destination contributions
  * plus the partition's dangling-mass partial, addressed once to every
  * reduce partition; each reducer sums its inflow AND the whole dangling
  * mass from that same shuffle and left-joins against its node
  * partition. No Catalyst planning and no driver action per hop; the
  * caller's action re-reads only the last hop's shuffle output. Ranks
  * and weights are per HOST (~10^7-10^8 rows at crawl scale, not 10^12
  * pages). The partition count follows the input's estimated size
  * against `spark.sql.adaptive.advisoryPartitionSizeInBytes`, capped at
  * `spark.sql.shuffle.partitions`, so a small graph runs one task per
  * stage. With `spark.graft.cc.checkpointDir` set (fleet runs), every
  * 4th hop is reliably checkpointed so executor loss never replays more
  * than 4 hops; unset, only a local master runs (`Checkpoints.reliable`).
  *
  * Determinism: EVERY floating sum in the pipeline is quantized to 1e-9
  * units (longs) BEFORE it is shuffled — input edge weights on entry
  * (so multi-edge weights, out-weights and their ratios are exact for
  * ARBITRARY double weights, not just integral ones), and per-edge rank
  * contributions and dangling mass per iteration. Integer addition is
  * associative, so ranks are bit-identical under any partitioning and
  * equal [[pageRankLocal]]. Sub-quantum edges (weight < 0.5e-9) drop out
  * — their source becomes dangling, which is the honest reading of a
  * zero-quantum link. Weights must be non-negative and below ~9.2e9
  * (long range at Q = 1e9).
  */
object HostRank {

  final val Q = 1e9

  /** Spark's Round-on-double semantics (HALF_UP over the decimal value,
    * scala BigDecimal) then a long cast — every in-loop quantization
    * must round EXACTLY this way or values within 1 ULP of .5 diverge
    * from the entry projection's `round(x).cast("long")`. */
  private def roundQ(x: Double): Long =
    BigDecimal(x).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble.toLong

  /** A host's out-edges as parallel arrays; empty = dangling. */
  private final case class Links(dsts: Array[String], fracs: Array[Double])

  /** Routes a hop's shuffle: `Right(host)` contributions go where the
    * node table keeps that host; `Left(p)` is a dangling-mass partial
    * addressed to reduce partition `p`. */
  private final class HopPartitioner(hosts: HashPartitioner) extends Partitioner {
    def numPartitions: Int = hosts.numPartitions
    def getPartition(key: Any): Int = key match {
      case Left(p: Int) => p
      case Right(h)     => hosts.getPartition(h)
    }
  }

  /** edges: (src, dst, weight) host-level multi-edge list. Returns
    * (host, rank) with sum(rank) ~= 1. */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val reliable = Checkpoints.reliable(spark.sparkContext.master, Checkpoints.reliableDir(spark))
    // quantize each input weight BEFORE any aggregation, with Spark's
    // HALF_UP Round: long sums are partitioning-invariant where double
    // sums are not
    val quantized = edges.select(col("src").cast("string"), col("dst").cast("string"),
      round(col("weight").cast("double") * Q).cast("long"))
    val conf = spark.sessionState.conf
    val parts = (quantized.queryExecution.optimizedPlan.stats.sizeInBytes /
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(conf.numShufflePartitions).toInt
    val hosts = new HashPartitioner(parts)
    val wq = quantized.rdd
      .flatMap(r => if (r.isNullAt(2)) None else Some(((r.getString(0), r.getString(1)), r.getLong(2))))
      .reduceByKey(hosts, _ + _)
      .filter(_._2 > 0)
    val adjacency = wq.map { case ((s, d), w) => (s, (d, w)) }.groupByKey(hosts)
      .mapValues { ds =>
        val a = ds.toArray
        val outW = a.map(_._2).sum.toDouble
        Links(a.map(_._1), a.map(_._2.toDouble / outW))
      }
    val noLinks = Links(Array.empty, Array.empty)
    val nodes = adjacency
      .fullOuterJoin(wq.map { case ((_, d), _) => (d, ()) }.reduceByKey(hosts, (u, _) => u), hosts)
      .mapValues(_._1.getOrElse(noLinks))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // the ONLY setup action
    // loud failure beats Infinity ranks from 1/0 (the IvfIndex seeding
    // lesson: degenerate inputs must not produce silent garbage)
    if (n == 0) {
      nodes.unpersist()
      throw new IllegalArgumentException(
        "HostRank.pageRank: no hosts to rank (empty edge list, or every weight quantized to zero)")
    }
    val base = (1.0 - damping) / n
    val hop = new HopPartitioner(hosts)
    var ranks: RDD[(String, Double)] = nodes.mapValues(_ => 1.0 / n)
    for (it <- 0 until iters) {
      val sums = ranks.zipPartitions(nodes) { (rs, ns) =>
        val rank = rs.toMap
        var danglingQ = 0L
        val inflow: Iterator[(Either[Int, String], Long)] = ns.flatMap { case (h, l) =>
          val r = rank(h)
          if (l.dsts.isEmpty) { danglingQ += roundQ(r * Q); Iterator.empty }
          else l.dsts.indices.iterator.map(i => (Right(l.dsts(i)), roundQ(r * l.fracs(i) * Q)))
        }
        // `++` is lazy: the partials are emitted after inflow is drained
        inflow ++ Iterator.tabulate(parts)(p => (Left(p), danglingQ))
      }.reduceByKey(hop, _ + _)
      ranks = sums.zipPartitions(nodes) { (ss, ns) =>
        var danglingQ = 0L
        val inflowQ = scala.collection.mutable.HashMap.empty[String, Long]
        ss.foreach {
          case (Left(_), q)  => danglingQ = q
          case (Right(h), q) => inflowQ(h) = q
        }
        ns.map { case (h, _) =>
          h -> (base + damping * (inflowQ.getOrElse(h, 0L) / Q + danglingQ / Q / n))
        }
      }
      if (reliable && it % 4 == 3 && it < iters - 1) { ranks.checkpoint(); ranks.count() }
    }
    // the loop job: every hop runs here, against the pinned node table.
    // The caller's actions then re-read only the last hop's shuffle
    // output (and the setup shuffles for the node table), so nothing
    // stays pinned after return — a long-lived session invoking
    // pageRank repeatedly accumulates no node sets.
    ranks.count()
    nodes.unpersist()
    spark.createDataFrame(ranks).toDF("host", "rank")
  }

  /** Driver-side reference implementation (tests): identical
    * quantization, rounding (Spark HALF_UP via roundQ) and
    * order-independent integer arithmetic, so the distributed result
    * must match it bit-for-bit — for arbitrary double weights. */
  def pageRankLocal(edges: Seq[(String, String, Double)], iters: Int = 10,
      damping: Double = 0.85): Map[String, Double] = {
    val wq = edges.groupBy(e => (e._1, e._2))
      .map { case (k, es) => (k, es.map(e => roundQ(e._3 * Q)).sum) }
      .filter(_._2 > 0)
    val outW = wq.groupBy(_._1._1).map { case (s, m) => (s, m.values.sum) }
    val nodes = (wq.keys.map(_._1) ++ wq.keys.map(_._2)).toSet.toSeq.sorted
    val n = nodes.length
    val base = (1.0 - damping) / n
    var ranks = nodes.map(h => h -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val danglingQ = nodes.filterNot(outW.contains)
        .map(h => roundQ(ranks(h) * Q)).sum
      val inflowQ = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
      wq.foreach { case ((s, d), wt) =>
        val frac = wt.toDouble / outW(s).toDouble
        inflowQ(d) += roundQ(ranks(s) * frac * Q)
      }
      ranks = nodes.map(h =>
        h -> (base + damping * (inflowQ(h) / Q + danglingQ / Q / n))).toMap
    }
    ranks
  }
}
