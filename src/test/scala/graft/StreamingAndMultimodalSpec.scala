package graft

import graft.extract.ExtractMode
import graft.functions.{Multimodal, TextSketch}
import graft.icelite.IceLite
import graft.pipeline.Pipeline
import graft.streaming.StreamingExtract
import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamingAndMultimodalSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def pagesGlob: String = s"${SparkEntry.microTables(spark)._1}/data/*.parquet"

  /** x12's stream: batch Plain extraction over a stream of the micro
    * pages, drained into `run`. */
  private def drainExtract(run: String) =
    StreamingExtract.drain(Pipeline.extract(StreamingExtract.pagesReader(spark)
      .parquet(pagesGlob), ExtractMode.Plain).toDF(), OutputMode.Append(), run)

  test("drained stream extraction covers the snapshot and is resumable") {
    val (pagesDir, _) = SparkEntry.microTables(spark)
    val run = s"${SparkEntry.SynthRoot}/stream_test_${System.nanoTime()}"
    val expected = IceLite.read(spark, pagesDir).count()
    assert(drainExtract(run).count() == expected)
    // second drain on the same checkpoint: nothing new to process
    assert(drainExtract(run).count() == expected)
  }

  test("drained stream extraction is exactly-once under micro-batch replay") {
    val run = s"${SparkEntry.SynthRoot}/stream_replay_${System.nanoTime()}"
    val once = drainExtract(run)
    val expected = once.count()
    val urlsOnce = once.select("url").distinct().count()
    assert(expected > 0 && urlsOnce == expected)
    // simulate a crash AFTER the batch wrote its output but BEFORE the
    // checkpoint committed: delete the commit marker so the restart
    // replays the batch. The file sink's log already holds the batch,
    // so the replay must add nothing.
    val commits = new java.io.File(s"$run/ckpt/commits")
    val markers = commits.listFiles().filter(_.getName.forall(_.isDigit))
    assert(markers.nonEmpty)
    val marker = markers.maxBy(_.getName.toLong)
    // the local FS keeps a hidden checksum sibling; a stale one fails
    // the replay's atomic rename
    new java.io.File(commits, s".${marker.getName}.crc").delete()
    assert(marker.delete())
    val twice = drainExtract(run)
    assert(twice.count() == expected, "replayed batch must not duplicate rows")
    assert(twice.select("url").distinct().count() == urlsOnce)
  }

  test("drained stream extraction equals batch extraction row for row") {
    val (pagesDir, _) = SparkEntry.microTables(spark)
    def rows(df: DataFrame) =
      df.select("url", "status", "text", "spans").collect().sortBy(_.getString(0)).toSeq
    val streamed = rows(drainExtract(s"${SparkEntry.SynthRoot}/stream_eq_${System.nanoTime()}"))
    val batch = rows(Pipeline.extract(IceLite.read(spark, pagesDir), ExtractMode.Plain).toDF())
    // texts may hold lone surrogates: compare to a boolean first
    val same = streamed == batch
    assert(streamed.nonEmpty && same)
  }

  test("windowed streaming agg over crawl timestamps produces rows") {
    val run = s"${SparkEntry.SynthRoot}/rate_${System.nanoTime()}"
    val streamed = StreamingExtract.drain(StreamingExtract.rateByWindow(spark, pagesGlob),
      OutputMode.Complete(), run)
    val batch = spark.read.schema(StreamingExtract.pagesSchema).parquet(pagesGlob)
      .groupBy(window(col("warc_ts"), "7 days"), col("lang"))
      .agg(count(lit(1)).as("n_pages"), sum(length(col("html"))).as("bytes_in"))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val got = rows(streamed)
    assert(got.nonEmpty && got == rows(batch))
  }

  test("multimodal: thumbnail arithmetic, frame sampling, batched features") {
    assert(Multimodal.thumbDims(1024, 512) == (256, 128))
    assert(Multimodal.thumbDims(512, 1024) == (128, 256))
    assert(Multimodal.thumbDims(100, 1) == (256, 2))
    assert(Multimodal.thumbDims(1000, 1) == (256, 1)) // min 1px
    assert(Multimodal.sampleFrames(4) == Seq(0, 1, 2, 3))
    assert(Multimodal.sampleFrames(100, 4) == Seq(0, 25, 50, 75))
    assert(Multimodal.sampleFrames(0).isEmpty)

    val stats = Multimodal.featureStats(spark, 300L).collect()
    assert(stats.map(_.getAs[String]("kind")).toSet == Set("image", "audio", "video"))
    val video = stats.find(_.getAs[String]("kind") == "video").get
    assert(video.getAs[Long]("sum_sampled_frames") > 0)
    // image + audio payloads REALLY decode (ImageIO / javax.sound);
    // video is the only stubbed modality (no JDK video codec)
    val image = stats.find(_.getAs[String]("kind") == "image").get
    val audio = stats.find(_.getAs[String]("kind") == "audio").get
    assert(image.getAs[Long]("n_decoded") == image.getAs[Long]("n_assets"))
    assert(audio.getAs[Long]("n_decoded") == audio.getAs[Long]("n_assets"))
    assert(video.getAs[Long]("n_decoded") == 0L)
    // deterministic across runs
    val again = Multimodal.featureStats(spark, 300L).collect()
    assert(stats.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("multimodal: image decode reads real pixels (known synthetic PNG)") {
    // hand-built 2x1 PNG: left pixel black, right pixel white
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val dec = Multimodal.decodeImage(bos.toByteArray).get
    assert(dec.w == 2 && dec.h == 1)
    assert(math.abs(dec.lum(0) - 0.0f) < 1e-6)
    assert(math.abs(dec.lum(1) - 1.0f) < 1e-6)
    // box resample 2x1 -> 1x1 averages the two pixels
    val avg = Multimodal.boxResample(dec.lum, 2, 1, 1, 1)
    assert(math.abs(avg(0) - 0.5f) < 1e-6)
    // the feature vector derives from those pixels: uniform gray in,
    // constant normalized feature out
    val gray = Multimodal.DecodedImage(4, 4, Array.fill(16)(0.5f))
    assert(Multimodal.imageFeature(gray, 16, 8, 8).forall(v => math.abs(v) < 1e-6))
    // synth assets carry honest metadata: decoded dims match the row
    val a = Multimodal.synthAssets(spark, 60L).collect().find(_.kind == "image").get
    val d = Multimodal.decodeImage(a.payload).get
    assert(d.w == a.width && d.h == a.height)
    // corrupt bytes degrade to the stub, never throw
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("multimodal: audio decode reads real samples (known synthetic WAV)") {
    // full-scale DC would clip; a 0.5-amplitude sine has RMS ~0.3535
    val wav = Multimodal.synthWav(7L, 8000, 800)
    val samples = Multimodal.decodeAudio(wav).get
    assert(samples.length == 800)
    val rms = math.sqrt(samples.map(s => s.toDouble * s).sum / samples.length)
    assert(rms > 0.1 && rms < 0.75) // a real tone, not silence/noise-stub
    val feat = Multimodal.audioFeature(samples, 16)
    assert(feat.length == 16 && feat.forall(v => v >= 0 && v <= 1))
    assert(Multimodal.decodeAudio(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("simhash: near-identical texts are close, different texts far") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a.replace("today", "tomorrow")
    val c = "completely unrelated content about maritime navigation charts"
    assert(TextSketch.hamming(TextSketch.simhash64(a), TextSketch.simhash64(b)) < 16)
    assert(TextSketch.hamming(TextSketch.simhash64(a), TextSketch.simhash64(c)) > 16)
  }

  test("minhash estimates jaccard; identical docs share all bands") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val sa = TextSketch.minhashSignature(a)
    assert(TextSketch.estJaccard(sa, TextSketch.minhashSignature(a)) == 1.0)
    val half = "alpha beta gamma delta epsilon zeta different words here now"
    val est = TextSketch.estJaccard(sa, TextSketch.minhashSignature(half))
    assert(est > 0.05 && est < 0.9)
  }

  /** Runs `f` on a NEW session of the shared context, made by `make`,
    * then restores the shared session as default and active. */
  private def withFreshSession[T](make: SparkSession.Builder => SparkSession)(
      f: SparkSession => T): T = {
    spark // force the shared session (and its SparkContext) to exist
    // getOrCreate returns the default session (applying only the runtime
    // SQL confs, never extensions), so clear it to force a NEW
    // SparkSession (same context)
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    try f(make(SparkSession.builder()))
    finally {
      SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  private def thetaJoinPlan(s: SparkSession): String = {
    val probe = s.range(0, 100).toDF("x")
    val ranges = s.range(0, 10).selectExpr("id * 10 AS lo", "id * 10 + 10 AS hi")
    probe.join(ranges, probe("x") >= ranges("lo") && probe("x") < ranges("hi"))
      .queryExecution.executedPlan.toString
  }

  test("GraftExtensions injects cosine_sim into sessions via spark.sql.extensions") {
    // spark.sql.extensions is a STATIC conf read at SparkContext
    // creation; this JVM's context already exists, so exercise the
    // same injection through the programmatic builder hook
    withFreshSession(_.withExtensions(new GraftExtensions()).getOrCreate()) { s2 =>
      val r = s2.sql(
        """SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
          |                  array(cast(1.0 as float), cast(0.0 as float))) AS c""".stripMargin)
        .collect()
      assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-12)
      // nfc_normalize rides the same extension: decomposed e+COMBINING
      // ACUTE collapses to the composed codepoint (2 chars -> 1)
      val n = s2.sql("SELECT nfc_normalize('café') AS t, length(nfc_normalize('café')) AS l")
        .collect().head
      assert(n.getString(0) == "café" && n.getInt(1) == 4)
      // idempotent on already-NFC text (incl. the fast path)
      assert(s2.sql("SELECT nfc_normalize('café') AS t").collect().head.getString(0) == "café")
      assert(s2.sql("SELECT simhash64('the quick brown fox')").head().getLong(0) ==
        TextSketch.simhash64("the quick brown fox"))
      assert(s2.sql("SELECT word_ngrams(split('a b c', ' '), 2)").head().getSeq[String](0) ==
        Seq("a b", "b c"))
      assert(GraftExtensions.functions.forall(f => s2.catalog.functionExists(f._1.funcName)))
      // the rule: inert until the width is set, then the theta join
      // plans as an equi-join
      assert(thetaJoinPlan(s2).contains("NestedLoop"))
      s2.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "16")
      assert(!thetaJoinPlan(s2).contains("NestedLoop"))
    }
  }

  test("a declared query plans in a session built without the extension") {
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q12_ngram_jaccard", "q13_cosine_topk", "q38_nfc_normalize", "x07_simhash_dedup")
    def rows(s: SparkSession, name: String): Seq[String] =
      SparkEntry.queries(name)(s, dir).collect().map(_.toString).sorted.toSeq
    val want = names.map(n => rows(spark, n))
    val got = withFreshSession(_.getOrCreate()) { s2 =>
      assert(!s2.catalog.functionExists("cosine_sim"))
      names.map(n => rows(s2, n))
    }
    names.indices.foreach { i =>
      val same = got(i) == want(i) && want(i).nonEmpty
      assert(same, names(i))
    }
  }

  test("install is idempotent and keeps an unrelated optimizer rule") {
    object KeepPlan extends org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
      def apply(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = p
    }
    withFreshSession(_.getOrCreate()) { s2 =>
      s2.experimental.extraOptimizations = Seq(KeepPlan)
      GraftExtensions.install(s2)
      GraftExtensions.install(s2)
      assert(s2.experimental.extraOptimizations == Seq(KeepPlan, graft.plans.RangeJoinRewrite))
      assert(GraftExtensions.functions.forall(f => s2.catalog.functionExists(f._1.funcName)))
    }
  }

  test("ann lsh topk returns ranked neighbors per query") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val res = TextSketch.annTopK(emb).collect()
    assert(res.nonEmpty)
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).toSeq.sorted == (1L to rows.length))
    }
  }

  test("ivf ann: recall vs brute force, deterministic") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = 5
    val ivf = TextSketch.ivfTopK(emb, nQueries = 5, k = k).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    // brute-force ground truth
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val truth = vecs.filter(_._1 < 5).map { case (qid, qv) =>
      qid -> vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, TextSketch.cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
    }.toMap
    val recalls = truth.map { case (q, t) =>
      ivf.getOrElse(q, Set.empty).intersect(t).size.toDouble / k }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"IVF mean recall@$k = $mean (probing 4/16 cells)")
    // deterministic across runs
    val again = TextSketch.ivfTopK(emb, nQueries = 5, k = k).collect()
      .map(_.toString).toSeq
    assert(again == TextSketch.ivfTopK(emb, nQueries = 5, k = k).collect().map(_.toString).toSeq)
  }
}
