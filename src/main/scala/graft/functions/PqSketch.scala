package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Product quantization (PQ) ANN — the memory-bound half of the
  * billion-scale ANN stack. IVF prunes WHICH vectors a query scans
  * (IvfIndex, partition-pruned cells); PQ shrinks WHAT is scanned: each
  * L2-normalized vector splits into `m` subvectors, each subvector
  * quantizes to its subspace codebook's nearest centroid, and the vector
  * is stored as m one-byte codes — at (m=16, dim=64) that is 16 bytes
  * per vector vs 256 bytes of floats, 16× compression, so a 10^9-vector
  * scan reads ~16 GB of codes instead of ~256 GB of floats (defaults
  * sweep-chosen: mean recall@5 0.56 on the random-ish test corpus —
  * random data is PQ's worst case; clustered real embeddings do
  * markedly better, and raising m trades memory for recall: m=32 →
  * 0.76 at 8× compression on the same corpus). Query scoring is
  * ADC (asymmetric distance computation): the query precomputes an m×k
  * table of subspace inner products ONCE, then every candidate scores as
  * m table lookups + adds — no stored float vector is ever touched.
  *
  * Scale shape: codebooks are broadcast-tiny (m·k·(dim/m) doubles); the
  * encode pass and the ADC scan are MAP-ONLY; the only shuffle is the
  * bounded TopKAgg (k rows per partition per query). Composes with
  * IvfIndex: store codes beside cell partitions, partition-prune, then
  * ADC-scan only the probed cells.
  *
  * Determinism: codebooks fit with the same fixed-point quantized Lloyd
  * discipline as IvfIndex (1e6-unit long sums — integer addition is
  * associative, so centroids are partition-invariant); codes and ADC
  * sums are then pure per-row arithmetic in a fixed loop order.
  */
object PqSketch {

  /** [subspace][code][subDim] centroids + shape. */
  final case class Codebooks(m: Int, k: Int, subDim: Int,
      cents: Array[Array[Array[Double]]])

  private def l2normalize(v: Array[Float]): Array[Float] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(ss)
    if (n == 0.0) v
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Nearest centroid of one subspace by L2 over the subvector at
    * `off`; first-wins tie-break (fixed scan order → deterministic). */
  private def nearestSub(cents: Array[Array[Double]], v: Array[Float],
      off: Int, d: Int): Int = {
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var dist = 0.0
      var i = 0
      while (i < d) { val diff = cents(c)(i) - v(off + i); dist += diff * diff; i += 1 }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  /** Fit per-subspace codebooks (deterministic quantized Lloyd; seeds =
    * the k lowest vec_ids' subvectors — no dense-id assumption, the
    * IvfIndex seeding lesson). One distributed pass per iteration
    * computes ALL m subspace assignments. */
  def fit(emb: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2): Codebooks = {
    // r6: pinned for the duration of fit ONLY (unpersisted before
    // return) — each Lloyd iteration plus the seed scan previously
    // re-read the parquet and re-normalized every vector; the cache is
    // transient within this invocation, so repeated calls still compute
    // from the source.
    // r6b: the fit loop runs on the RDD, not the DataFrame — each Lloyd
    // iteration's plan captures the NEW centroids, so the Dataset form
    // paid full Catalyst analysis/optimization/AQE per iteration
    // (measured ~90-150 ms of driver planning per ~30 ms of actual
    // work). An RDD treeAggregate is one planless job per iteration
    // with a fixed-size accumulator, the classic distributed-Lloyd
    // shape. Same math.round quantized-long sums, integer addition is
    // associative → centroids bit-identical (PqSpec). MEMORY_AND_DISK:
    // vectors beyond memory spill instead of being dropped and
    // re-read from the source on every iteration.
    val vrdd = IvfIndex.vectors(emb).rdd
      .map { case (id, v) => (id, l2normalize(v)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seeds = vrdd.takeOrdered(k)(Ordering.by(_._1)).sortBy(_._1).map(_._2)
    if (seeds.length < 2) {
      vrdd.unpersist() // release before the loud failure
      throw new IllegalArgumentException(
        s"requirement failed: PQ needs >= 2 seed vectors, got ${seeds.length} — input empty or near-empty")
    }
    val dim = seeds.head.length
    require(dim % m == 0, s"embedding dim $dim is not divisible by m=$m subspaces")
    val subDim = dim / m
    val kEff = seeds.length
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      Array.tabulate(kEff)(j =>
        Array.tabulate(subDim)(i => seeds(j)(s * subDim + i).toDouble)))
    val Q = IvfIndex.Q
    // flat accumulator: per (s, code) a run of subDim quantized sums
    // followed by the count — m·k·(subDim+1) longs, broadcast-tiny;
    // treeAggregate keeps the driver merge bounded at fleet partition
    // counts (layer-wise executor-side combine).
    val accLen = m * kEff * (subDim + 1)
    (1 to iters).foreach { _ =>
      val cs = cents
      val acc = vrdd.treeAggregate(new Array[Long](accLen))(
        seqOp = (a, rec) => {
          val v = rec._2
          var s = 0
          while (s < m) {
            val code = nearestSub(cs(s), v, s * subDim, subDim)
            val base = (s * kEff + code) * (subDim + 1)
            var i = 0
            while (i < subDim) {
              a(base + i) += math.round(v(s * subDim + i).toDouble * Q)
              i += 1
            }
            a(base + subDim) += 1L
            s += 1
          }
          a
        },
        combOp = (a, b) => {
          var i = 0
          while (i < accLen) { a(i) += b(i); i += 1 }
          a
        })
      val next = Array.tabulate(m)(s => cs(s).clone())
      var s = 0
      while (s < m) {
        var code = 0
        while (code < kEff) {
          val base = (s * kEff + code) * (subDim + 1)
          val n = acc(base + subDim)
          if (n > 0) {
            next(s)(code) = Array.tabulate(subDim)(i =>
              acc(base + i).toDouble / (n * Q))
          }
          code += 1
        }
        s += 1
      }
      cents = next
    }
    vrdd.unpersist()
    Codebooks(m, kEff, subDim, cents)
  }

  /** Encode ONE raw (unnormalized) vector to its m codes. */
  def encodeOne(raw: Array[Float], cb: Codebooks): Array[Byte] = {
    val v = l2normalize(raw)
    val codes = new Array[Byte](cb.m)
    var s = 0
    while (s < cb.m) {
      codes(s) = nearestSub(cb.cents(s), v, s * cb.subDim, cb.subDim).toByte
      s += 1
    }
    codes
  }

  /** The m×k ADC lookup table for one raw query vector: subspace inner
    * products against every codebook centroid. */
  def adcTable(raw: Array[Float], cb: Codebooks): Array[Array[Double]] = {
    val qv = l2normalize(raw)
    Array.tabulate(cb.m)(s => Array.tabulate(cb.k) { c =>
      var dot = 0.0
      var i = 0
      while (i < cb.subDim) { dot += cb.cents(s)(c)(i) * qv(s * cb.subDim + i); i += 1 }
      dot
    })
  }

  /** ADC score of one coded vector: m table lookups summed in
    * subspace order. */
  private[functions] def adcScore(tab: Array[Array[Double]], codes: Array[Byte]): Double = {
    var sc = 0.0
    var s = 0
    while (s < codes.length) { sc += tab(s)(codes(s) & 0xff); s += 1 }
    sc
  }

  /** Map-only encode: (vec_id, m one-byte codes). */
  def encode(emb: DataFrame, cb: Codebooks): Dataset[(Long, Array[Byte])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    IvfIndex.vectors(emb).map { case (id, raw) => (id, encodeOne(raw, cb)) }
  }

  /** ADC cosine-approx top-k for the first `nQueries` vec_ids: per-query
    * m×k inner-product tables broadcast; the code scan is map-only and
    * the only shuffle is the bounded TopKAgg. Returns
    * (query_id, rank, neighbor_id, adc_x10000). */
  def adcTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 5,
      m: Int = 16, kCodes: Int = 16, iters: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cb = fit(emb, m, kCodes, iters)
    val codes = encode(emb, cb)
    val tables: Array[(Long, Array[Array[Double]])] =
      IvfIndex.vectors(emb.filter(col("vec_id") < nQueries)).collect() // nQueries rows — bounded
      .sortBy(_._1)
      .map { case (qid, raw) => qid -> adcTable(raw, cb) }
    val bc = spark.sparkContext.broadcast(tables)
    val scored = codes.flatMap { case (id, cds) =>
      bc.value.iterator.filter(_._1 != id).map { case (qid, tab) =>
        (qid, id, adcScore(tab, cds))
      }
    }.toDF("query_id", "id", "score")
    TopK.neighbors(scored, k, "adc_x10000")
  }
}
