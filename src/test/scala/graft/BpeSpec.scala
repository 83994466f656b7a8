package graft

import graft.functions.Bpe
import graft.util.Sessions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge learning: hand-computed vectors, exact equality with the
  * single-threaded reference, and partition invariance. */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  // the classic learn_bpe example vocabulary (Sennrich et al. §3.2 shape)
  private val vocab = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("local reference merges the classic example correctly") {
    val m = Bpe.learnMergesLocal(vocab, 4)
    // e+s appears in newest(6) + widest(3) = 9, the unique max;
    // then es+t = 9; then est's left neighbors split 6/3, so the next
    // max is l+o = 7 (low 5 + lower 2), then lo+w = 7.
    assert(m.map(x => (x.left, x.right, x.pair_count)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(m.map(_.rank) == Seq(1, 2, 3, 4))
  }

  test("tie-break is lexicographic (deterministic)") {
    // ab and cd both count 1: (a,b) < (c,d) lexicographically
    val m = Bpe.learnMergesLocal(Seq(("cd", 1L), ("ab", 1L)), 1)
    assert(m.head.left == "a" && m.head.right == "b")
  }

  test("mergePair is greedy leftmost") {
    assert(Bpe.mergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(Bpe.mergePair(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
  }

  test("encode applies the merge table in rank order (trained segmentation)") {
    val merges = Bpe.learnMergesLocal(vocab, 4).map(m => (m.left, m.right))
    // (e,s),(es,t),(l,o),(lo,w): unseen word "lowest" -> low + est
    assert(Bpe.encode("lowest", merges) == Seq("low", "est"))
    assert(Bpe.encode("newest", merges) == Seq("n", "e", "w", "est"))
    assert(Bpe.encode("low", merges) == Seq("low"))
    // concatenation invariant, incl. chars never seen at train time
    for (w <- Seq("lowest", "zzz", "a", "wool"))
      assert(Bpe.encode(w, merges).mkString == w)
  }

  test("distributed == local reference, bit-for-bit, under any partitioning") {
    import spark.implicits._
    val expected = Bpe.learnMergesLocal(vocab, 6)
    for (parts <- Seq(1, 7)) {
      val words = vocab.toDF("word", "freq").repartition(parts)
      val got = Bpe.learnMerges(spark, words, 6)
      assert(got == expected, s"parts=$parts")
    }
  }

  test("batched learn: benign fixture == exact greedy; conflicts skip deterministically") {
    import spark.implicits._
    // hand-traced: job-1 counts rank (e,s)=9, (s,t)=9, (w,e)=8,
    // (l,o)=7, ... — batch=2 accepts (e,s), must SKIP (s,t) (shares
    // 's') and (w,e) (shares 'e'), and takes the disjoint (l,o); job 2
    // re-ranks on fresh counts and picks (es,t)=9 then (lo,w)=7. Net:
    // same merge SET as exact greedy here, different order — pinned
    // exactly.
    val words = vocab.toDF("word", "freq")
    val batched = Bpe.learnMerges(spark, words, 4, batch = 2)
    assert(batched.map(x => (x.left, x.right, x.pair_count)) == Seq(
      ("e", "s", 9L), ("l", "o", 7L), ("es", "t", 9L), ("lo", "w", 7L)))
    assert(batched.map(_.rank) == Seq(1, 2, 3, 4))
    // divergence from exact greedy is real and documented: order differs
    val exact = Bpe.learnMergesLocal(vocab, 4)
    assert(batched.map(x => (x.left, x.right)) != exact.map(x => (x.left, x.right)))
    assert(batched.map(x => (x.left, x.right)).toSet ==
      exact.map(x => (x.left, x.right)).toSet)
    // a fixture whose hot pairs are symbol-disjoint: batched == exact
    val disjoint = Seq(("ab", 9L), ("cd", 7L), ("ef", 5L), ("gh", 3L))
    val gotD = Bpe.learnMerges(spark, disjoint.toDF("word", "freq"), 4, batch = 4)
    assert(gotD == Bpe.learnMergesLocal(disjoint, 4))
    // batched merge tables still encode with the concatenation invariant
    val table = batched.map(m => (m.left, m.right))
    for (w <- Seq("lowest", "newest", "zzz"))
      assert(Bpe.encode(w, table).mkString == w)
    // batch must cap at the remaining-k budget
    assert(Bpe.learnMerges(spark, words, 3, batch = 8).length == 3)
  }

  test("distributed learning on a real corpus is self-consistent and stops cleanly") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val a = Bpe.learnMerges(spark, words, 8)
    val localWords = words.as[(String, Long)].collect().toSeq.sortBy(_._1)
    val b = Bpe.learnMergesLocal(localWords, 8)
    assert(a == b, "corpus-scale distributed merges must equal the local reference")
    assert(a.map(_.rank) == (1 to 8))
    // early-stop: a vocabulary of singleton symbols has no pairs
    assert(Bpe.learnMergesLocal(Seq(("a", 3L), ("b", 1L)), 5).isEmpty)
  }
}
