package graft

import graft.util.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** x24 (Bloom-filter decontamination, map-only) must agree with q28
  * (exact broadcast-join decontamination) on the same corpus: the Bloom
  * path's only divergence mode is false positives, and at fpp 1e-6 over
  * this gram population there are none — so the outputs are EQUAL, not
  * just close. Spark's sketch BloomFilter is seed-fixed, so this is
  * deterministic, not flaky. */
class DecontamBloomSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  test("x24 bloom decontamination equals q28 exact on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("q28_decontamination")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val bloom = SparkEntry.queries("x24_decontam_bloom")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(bloom == exact)
  }

  test("x28 stream-boundary decontamination equals the batch computation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("x28_stream_decontam")(spark, dir).collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    // batch-side reference: same bloom, same overlap kernel, no stream
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val toksCol = split(col("text"), " ")
    val gramsCol = transform(sequence(lit(1), size(toksCol) - 4),
      i => concat_ws(" ", slice(toksCol, i, lit(5))))
    val benchGrams = d
      .filter(col("doc_id") % 101 === 0 && size(split(col("text"), " ")) >= 5)
      .select(explode(array_distinct(gramsCol)).as("g")).distinct()
    val bf = benchGrams.stat.bloomFilter("g", math.max(1000L, benchGrams.count()), 1e-6)
    val bc = spark.sparkContext.broadcast(bf)
    val flags = d.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.functions.DecontamBloom.overlapCount(text, bc.value) >= 3L)
      }.collect().toMap
    val batchContaminated = flags.count(_._2).toLong
    assert(rows(true) == batchContaminated, "stream must equal batch")
    assert(rows(true) + rows(false) == d.count())
    // the benchmark docs themselves are all flagged (their own grams)
    val benchIds = d.filter("doc_id % 101 = 0").select(col("doc_id").cast("long"))
      .as[Long].collect()
    assert(benchIds.nonEmpty && benchIds.forall(flags(_)))
  }

  test("exciseGrams: overlap union, adjacency, partial survival, edges") {
    import graft.functions.DecontamBloom.exciseGrams
    val g = Set("a b c", "c d e")
    // overlapping matches excise their UNION (a..e all covered)
    assert(exciseGrams("x a b c d e y", g, 3) == (("x y", 5)))
    // adjacent matches
    assert(exciseGrams("a b c a b c", g, 3) == (("", 6)))
    // partial marker survives
    assert(exciseGrams("x a b y", g, 3) == (("x a b y", 0)))
    // fewer tokens than n: unchanged (but whitespace-normalized)
    assert(exciseGrams("a  b", g, 3) == (("a b", 0)))
    assert(exciseGrams("", g, 3) == (("", 0)))
    // no match anywhere
    assert(exciseGrams("p q r s", g, 3) == (("p q r s", 0)))
  }

  test("exciseGrams fuzz: never throws, count-conserving, deterministic, single-pass") {
    import graft.functions.DecontamBloom.exciseGrams
    val r = new graft.util.SplitMix64(77L)
    val vocab = Array("a", "b", "c", "d", "zz", "")
    (0 until 500).foreach { _ =>
      val n = r.nextInt(30)
      val text = (0 until n).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
      val grams = (0 until r.nextInt(4)).map { _ =>
        (0 until 3).map(_ => vocab(r.nextInt(vocab.length - 1))).mkString(" ")
      }.toSet
      val (clean, removed) = exciseGrams(text, grams, 3)
      val inToks = text.split(" ").count(_.nonEmpty)
      val outToks = clean.split(" ").count(_.nonEmpty)
      // conservation: removed + survivors == input tokens
      assert(outToks + removed == inToks, s"'$text' vs '$clean' rm=$removed")
      // determinism
      assert(exciseGrams(text, grams, 3) == ((clean, removed)))
      // single-pass contract: re-application is legal and monotone
      // (only ever removes more, never grows the text)
      val (clean2, removed2) = exciseGrams(clean, grams, 3)
      assert(clean2.length <= clean.length && removed2 >= 0)
    }
  }
}
