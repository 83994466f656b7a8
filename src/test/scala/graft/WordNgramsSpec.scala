package graft

import graft.functions.WordNgrams
import graft.util.Sessions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r6 codegen word_ngrams expression to the higher-order-
  * function compositions it replaced in q12/q28/q49/q78: for every n
  * and input (incl. size < n, size == n, empty tokens, non-ASCII), the
  * fused expression must equal the interpreted form element-for-element. */
class WordNgramsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)
  import spark.implicits._

  private val texts = Seq(
    "",                       // split -> [""]: 1 token
    "one",
    "one two",
    "one two three",
    "alpha beta gamma delta epsilon zeta eta",
    "a  b",                   // consecutive spaces -> empty middle token
    "café résumé 漢字 test five six",
    "x " * 40 + "x"           // long run
  )

  test("word_ngrams(t, 2) == zip_with(slice, slice, concat) (q49 form)") {
    WordNgrams.register(spark)
    val df = texts.toDF("text").select(split(col("text"), " ").as("t"))
    val got = df.select(expr("word_ngrams(t, 2)").as("g")).collect().map(_.getSeq[String](0))
    val want = df.select(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b)).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq == want.toSeq)
  }

  test("word_ngrams(t, 3) == guarded transform/element_at (q12/q78 form)") {
    WordNgrams.register(spark)
    val df = texts.toDF("text").select(split(col("text"), " ").as("w"))
    val got = df.select(expr("word_ngrams(w, 3)").as("g")).collect().map(_.getSeq[String](0))
    val want = df.select(
        when(size(col("w")) < 3, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(col("w")) - 2),
            i => concat_ws(" ", element_at(col("w"), i),
              element_at(col("w"), i + 1), element_at(col("w"), i + 2)))).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq == want.toSeq)
  }

  test("word_ngrams(t, 5) == transform(sequence, concat_ws(slice)) under size>=5 (q28 form)") {
    WordNgrams.register(spark)
    val df = texts.toDF("text").select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
    val got = df.select(expr("word_ngrams(t, 5)").as("g")).collect().map(_.getSeq[String](0))
    val want = df.select(transform(
        sequence(lit(1), size(col("t")) - 4),
        i => concat_ws(" ", slice(col("t"), i, lit(5)))).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(want.nonEmpty, "size>=5 fixture must be non-vacuous")
    assert(got.toSeq == want.toSeq)
  }

  test("size < n yields an empty array, n == 1 yields the tokens") {
    WordNgrams.register(spark)
    val df = Seq("one two").toDF("text").select(split(col("text"), " ").as("t"))
    assert(df.select(expr("word_ngrams(t, 5)")).head().getSeq[String](0).isEmpty)
    assert(df.select(expr("word_ngrams(t, 1)")).head().getSeq[String](0) == Seq("one", "two"))
  }
}

/** Pins the r6 reused-byte-buffer minhash kernel to the shingle-string
  * path it replaced: for every input (multi-byte UTF-8, short docs below
  * the shingle width, repeated spaces) the signature must be bit-
  * identical to hashing each materialized shingle string. */
class MinhashBytesSpec extends AnyFunSuite {
  test("minhashSignature == per-shingle-string xxh64 composition") {
    import graft.functions.TextSketch
    import graft.util.Hash64
    val texts = Seq(
      "", "one", "one two", "one two three", "one two three four five",
      "café résumé naïve test 漢字テスト mixed ascii run",
      "a  b   c d", "𝔘nicode surrogate 𝔭air tokens here",
      (1 to 200).map(i => s"tok$i").mkString(" "))
    texts.foreach { txt =>
      // reference: the pre-r6 composition over public shingles()
      val sig = Array.fill(TextSketch.MinHashK)(Long.MaxValue)
      TextSketch.shingles(txt).foreach { sh =>
        val base = Hash64.xxh64(sh, 0xdedca42L)
        var i = 0
        while (i < sig.length) {
          var z = base ^ (i * 0x9e3779b97f4a7c15L)
          z += 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z = z ^ (z >>> 31)
          if (z < sig(i)) sig(i) = z
          i += 1
        }
      }
      assert(TextSketch.minhashSignature(txt).toSeq == sig.toSeq, s"text: $txt")
    }
  }
}
