package graft.functions

import graft.util.IndexManifest
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) ANN index — the production form of
  * TextSketch.ivfTopK's scale path: the index is BUILT ONCE (k-means
  * cells, every vector written under its cell as a partitioned parquet
  * table) and queries touch only their probed cells via partition
  * pruning — at 10^9 vectors a query scans nProbe/nCells of the data,
  * driven entirely by Catalyst's partition elimination, no custom reader.
  *
  * Layout under `dir`:
  *   centroids/  (cell INT, centroid ARRAY<DOUBLE>)   — K rows, tiny
  *   cells/cell=<i>/...parquet (vec_id LONG, embedding ARRAY<FLOAT>)
  */
object IvfIndex extends Serializable {

  /** (vec_id LONG, embedding): the one read of an embeddings table. */
  private[functions] def vectors(emb: DataFrame): Dataset[(Long, Array[Float])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])]
  }

  /** Fixed-point scale of the Lloyd sums. Components are quantized to
    * longs before summing: integer addition is associative and
    * commutative, so centroids are bit-identical under ANY partitioning
    * or parallelism (ADVICE r1: double reduceGroups order depends on
    * partitioning; fp addition is non-associative). The 1e-6
    * quantization is far below any cell-assignment decision boundary,
    * and 2^63 / 1e6 leaves ~9e12 unit-scale vectors per cell of
    * headroom. PqSketch's codebook fit uses the same scale. */
  private[functions] final val Q = 1e6

  /** Index of the centroid with the highest cosine; first wins ties. */
  private[functions] def nearest(cs: Array[Array[Double]], v: Array[Float]): Int = {
    var best = 0; var bestCos = -2.0
    var c = 0
    while (c < cs.length) {
      val cos = TextSketch.cosineD(cs(c), v)
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  /** The `nProbe` cells a query probes, highest cosine first. */
  private def probes(cs: Array[Array[Double]], v: Array[Float], nProbe: Int): Seq[Int] =
    cs.indices.sortBy(c => -TextSketch.cosineD(cs(c), v)).take(nProbe)

  /** The centroid fit shared by ivfTopK and both index builds. Seeds:
    * the nCells lowest vec_ids — WITHOUT assuming ids are dense from 0
    * (an id space starting above nCells would otherwise yield an empty
    * seed set and a silently degenerate index); fails loudly below 2.
    * Then `iters` Lloyd iterations: assign (a map over the centroids) ->
    * per-cell quantized sums (one groupBy of K rows) -> a collect of the
    * K means; a cell that loses every vector keeps its centroid. */
  private[functions] def fit(vecs: Dataset[(Long, Array[Float])], nCells: Int,
      iters: Int): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var centroids = vecs.orderBy(col(vecs.columns.head)).limit(nCells)
      .collect().sortBy(_._1).map(_._2.map(_.toDouble))
    require(centroids.length >= 2,
      s"IVF needs >= 2 seed vectors, got ${centroids.length} — input empty or near-empty")
    (1 to iters).foreach { _ =>
      val cs = centroids
      val means = vecs
        .map { case (_, v) => (nearest(cs, v), (v.map(x => math.round(x.toDouble * Q)), 1L)) }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val s = a._2._1.clone()
          var i = 0; while (i < s.length) { s(i) += b._2._1(i); i += 1 }
          (a._1, (s, a._2._2 + b._2._2))
        }
        .map { case (cell, (_, (sum, n))) => (cell, sum.map(x => x.toDouble / (n * Q))) }
        .collect().toMap
      centroids = centroids.indices.map(c => means.getOrElse(c, centroids(c))).toArray
    }
    centroids
  }

  /** (cell, vec_id, embedding): every vector under its nearest cell. */
  private[functions] def assign(vecs: Dataset[(Long, Array[Float])],
      cs: Array[Array[Double]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.map { case (id, v) => (nearest(cs, v), id, v) }.toDF("cell", "vec_id", "embedding")
  }

  /** (cell, query_id, qv): one row per query per probed cell. */
  private[functions] def probeRows(queries: Dataset[(Long, Array[Float])],
      cs: Array[Array[Double]], nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.flatMap { case (id, v) => probes(cs, v, nProbe).map(c => (c, id, v)) }
      .toDF("cell", "query_id", "qv")
  }

  /** Exact cosine within the probed cells: [[assign]]-shaped `cells`
    * joined to the broadcast [[probeRows]] on cell, self-matches dropped,
    * a vector reached via several probed cells deduped by max, then the
    * bounded per-query top-k ([[TopK.neighbors]], score cos_x10000). */
  private[functions] def scoreProbed(cells: DataFrame, probed: DataFrame, k: Int,
      audit: Column*): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val scored = cells.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("qv"), col("embedding"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (qid, vid, qv, v) => (qid, vid, TextSketch.cosine(qv, v)) }
      .toDF("query_id", "id", "score")
      .groupBy(col("query_id"), col("id"))
      .agg(max(col("score")).as("score"))
    TopK.neighbors(scored, k, "cos_x10000", audit: _*)
  }

  private def fitAndWriteCentroids(vecs: Dataset[(Long, Array[Float])], dir: String,
      nCells: Int, iters: Int): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cs = fit(vecs, nCells, iters)
    cs.zipWithIndex.map { case (v, c) => (c, v) }.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    cs
  }

  private def readCentroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
  }

  private def stats(emb: DataFrame): IndexManifest.Stats =
    IndexManifest.stats(emb, col("vec_id"), col("embedding"))

  private def ivfParams(nCells: Int, iters: Int): Seq[(String, Any)] =
    Seq("nCells" -> nCells, "iters" -> iters)

  /** Fit centroids (the same fit as ivfTopK) and write the partitioned
    * index plus its staleness manifest. */
  def build(emb: DataFrame, dir: String, nCells: Int = 16, iters: Int = 2): Unit = {
    val vecs = vectors(emb)
    val cs = fitAndWriteCentroids(vecs, dir, nCells, iters)
    assign(vecs, cs).write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    IndexManifest.write(emb.sparkSession, dir, stats(emb), ivfParams(nCells, iters))
  }

  /** True when a usable index exists at `dir` AND its manifest matches
    * the given input (row count + content fingerprint + build params). */
  def isCurrent(spark: SparkSession, dir: String, emb: DataFrame,
      nCells: Int = 16, iters: Int = 2): Boolean =
    IndexManifest.isCurrent(spark, dir, stats(emb), ivfParams(nCells, iters))

  // ------------------------------------------------- IVF + PQ composed

  /** Build the PQ-CODED form of the index — the full billion-scale ANN
    * architecture: IVF prunes WHICH cells a query scans (partition
    * pruning), PQ shrinks WHAT each probed cell stores to m one-byte
    * codes per vector. Layout adds to `dir`:
    *   codebooks/  (subspace INT, code INT, centroid ARRAY<DOUBLE>)
    *   codes/cell=<i>/...parquet (vec_id LONG, codes BINARY)
    * The cells/ float table is NOT written in this mode — at 10^9
    * vectors that is the whole point (codes are ~16x smaller). */
  def buildCoded(emb: DataFrame, dir: String, nCells: Int = 16,
      m: Int = 16, kCodes: Int = 16, iters: Int = 2, pqIters: Int = 4): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = vectors(emb)
    val cs = fitAndWriteCentroids(vecs, dir, nCells, iters)
    val cb = PqSketch.fit(emb, m, kCodes, pqIters)
    cb.cents.zipWithIndex.flatMap { case (codes, s) =>
      codes.zipWithIndex.map { case (cent, c) => (s, c, cent) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    val bcCb = spark.sparkContext.broadcast(cb)
    vecs.map { case (id, v) =>
      (nearest(cs, v), id, PqSketch.encodeOne(v, bcCb.value))
    }.toDF("cell", "vec_id", "codes")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    IndexManifest.write(spark, dir, stats(emb),
      codedParams(nCells, m, kCodes, iters, pqIters), CodedManifest)
  }

  /** The coded form's own manifest: one `dir` can hold both forms. */
  private final val CodedManifest = "MANIFEST_PQ"

  private def codedParams(nCells: Int, m: Int, kCodes: Int, iters: Int,
      pqIters: Int): Seq[(String, Any)] =
    ivfParams(nCells, iters) ++ Seq("m" -> m, "kCodes" -> kCodes, "pqIters" -> pqIters)

  /** True when a coded index at `dir` matches the input + params. */
  def isCurrentCoded(spark: SparkSession, dir: String, emb: DataFrame,
      nCells: Int = 16, m: Int = 16, kCodes: Int = 16,
      iters: Int = 2, pqIters: Int = 4): Boolean =
    IndexManifest.isCurrent(spark, dir, stats(emb),
      codedParams(nCells, m, kCodes, iters, pqIters), CodedManifest)

  /** Query the coded index: probe nProbe cells per query (IVF), then
    * ADC-score ONLY the probed cells' code partitions (partition
    * pruning; no float vector is read at scan time). Returns
    * (query_id, rank, neighbor_id, adc_x10000, n_probe, n_cells). */
  def queryCoded(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val cs = readCentroids(spark, dir)
    val cents = spark.read.parquet(s"$dir/codebooks")
      .as[(Int, Int, Array[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1).map(_._2.sortBy(_._2).map(_._3))
    val cb = PqSketch.Codebooks(cents.length, cents.head.length, cents.head.head.length, cents)
    // per-query probed cells + ADC table (bounded: queries are few)
    val qs = vectors(queries).collect().sortBy(_._1)
      .map { case (id, raw) => (id, probes(cs, raw, nProbe), PqSketch.adcTable(raw, cb)) }
    val probedCells = qs.flatMap(_._2).distinct.toSeq
    val bc = spark.sparkContext.broadcast(qs)
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cell").isin(probedCells: _*)) // partition pruning
      .select(col("cell"), col("vec_id").cast("long"), col("codes"))
      .as[(Int, Long, Array[Byte])]
    val scored = codes.flatMap { case (cell, id, cds) =>
      bc.value.iterator
        .filter { case (qid, probed, _) => qid != id && probed.contains(cell) }
        .map { case (qid, _, tab) => (qid, id, PqSketch.adcScore(tab, cds)) }
    }.toDF("query_id", "id", "score")
      .groupBy(col("query_id"), col("id"))
      .agg(max(col("score")).as("score"))
    TopK.neighbors(scored, k, "adc_x10000",
      lit(nProbe).as("n_probe"), lit(cs.length).as("n_cells"))
  }

  /** Query the persisted index: probe each query's nProbe nearest cells;
    * the `cell isin (...)` filter prunes unprobed partitions at the scan
    * (visible as PartitionFilters in the plan). Returns
    * (query_id, rank, neighbor_id, cos_x10000, n_probe, n_cells) — the
    * last two are AUDIT columns: a persisted result carries the recall
    * settings it was produced under, so a reader can judge it post-hoc
    * without the invocation. Recall guidance: expected recall grows with
    * the probed fraction nProbe/nCells (measured here: ~0.5-0.8 mean
    * recall@5 probing 4/16 on random data); production IVF practice is
    * nCells ~ sqrt(N) and nProbe tuned on a held-out query set until
    * measured recall clears the product bar. */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 5, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val cs = readCentroids(spark, dir)
    val q = probeRows(vectors(queries), cs, nProbe)
    val probedCells = q.select(col("cell")).distinct().as[Int].collect().toSeq
    // partition pruning: only the probed cell directories are scanned
    val cells = spark.read.parquet(s"$dir/cells")
      .filter(col("cell").isin(probedCells: _*))
    scoreProbed(cells, q, k, lit(nProbe).as("n_probe"), lit(cs.length).as("n_cells"))
  }
}
