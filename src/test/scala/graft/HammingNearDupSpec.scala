package graft

import graft.functions.HammingNearDup
import graft.util.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** Contract for the Manku multi-block Hamming near-dup join: candidate
  * generation must be COMPLETE to distance 3 (the oracle property q64
  * checks cross-engine, pinned here against an in-process brute force
  * over adversarial signature populations the closed-form q64 corpus
  * cannot produce). */
class HammingNearDupSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  private def bruteForce(sigs: Seq[(Long, Long)], maxDist: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= maxDist
    } yield (ia, ib, d)).toSet

  private def run(sigs: Seq[(Long, Long)], maxDist: Int, parts: Int): Set[(Long, Long, Int)] = {
    import spark.implicits._
    val df = sigs.toDF("id", "sig").repartition(parts)
    HammingNearDup.pairs(df, "id", "sig", maxDist).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
  }

  // seeded population with DENSE near-collisions: clusters around
  // shared bases with 0..5 random bit flips, plus uniform noise —
  // includes exact dups (dist 0) and just-outside pairs (dist 4-5)
  private def population(seed: Long, n: Int): Seq[(Long, Long)] = {
    val r = new graft.util.SplitMix64(seed)
    (0 until n).map { i =>
      val base = r.nextLong() & ((1L << 62) - 1)
      if (i % 3 == 0) {
        // clustered: derive from one of 8 shared bases, flip k bits
        val shared = new graft.util.SplitMix64(1000L + (i % 8)).nextLong()
        var s = shared
        val flips = r.nextInt(6)
        (0 until flips).foreach(_ => s ^= (1L << r.nextInt(64)))
        (i.toLong, s)
      } else (i.toLong, base)
    }
  }

  test("pairs == brute force on a near-collision-dense population") {
    val sigs = population(7L, 300)
    val want = bruteForce(sigs, 3)
    val got = run(sigs, 3, 5)
    assert(got == want)
    // non-vacuous: the population must actually produce pairs at every
    // distance 0..3 or the equality proves nothing
    assert((0 to 3).forall(d => want.exists(_._3 == d)), s"missing a distance in $want")
  }

  test("maxDist < 3 tightens the filter without losing completeness") {
    val sigs = population(11L, 200)
    assert(run(sigs, 0, 3) == bruteForce(sigs, 0))
    assert(run(sigs, 2, 3) == bruteForce(sigs, 2))
  }

  test("partitioning-invariant: 1 vs 8 input partitions") {
    val sigs = population(13L, 250)
    assert(run(sigs, 3, 1) == run(sigs, 3, 8))
  }

  test("distance-4 pairs sharing a block are candidates but filtered") {
    // two sigs differing in exactly 4 bits all inside block 0 share
    // blocks 1..5 (candidate on many combos) yet must NOT be emitted
    val a = 0x0123456789abcdefL & ((1L << 62) - 1)
    val b = a ^ 0xFL // 4 low bits
    val got = run(Seq((1L, a), (2L, b)), 3, 2)
    assert(got.isEmpty)
  }

  test("null id/sig rows fail fast with a diagnostic (ADVICE r4)") {
    import spark.implicits._
    val rows: Seq[(java.lang.Long, java.lang.Long)] =
      Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(7L)),
        (java.lang.Long.valueOf(2L), null))
    val df = rows.toDF("id", "sig")
    val ex = intercept[org.apache.spark.SparkException] {
      HammingNearDup.pairs(df, "id", "sig", 3).collect()
    }
    // the require message, not an opaque encoder NPE
    assert(Option(ex.getCause).map(_.getMessage).getOrElse(ex.getMessage)
      .contains("non-null"))
  }

  test("candidateKeys: 20 combos, non-negative, distance-3 pair shares a key") {
    val a = 0x7edcba9876543210L
    val b = a ^ (1L << 2) ^ (1L << 20) ^ (1L << 63) // 3 flips in 3 blocks
    val ka = HammingNearDup.candidateKeys(a)
    val kb = HammingNearDup.candidateKeys(b)
    assert(ka.length == 20 && ka.forall(_ >= 0))
    assert(ka.zip(kb).exists { case (x, y) => x == y })
  }
}
