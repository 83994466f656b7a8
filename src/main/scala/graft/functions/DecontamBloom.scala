package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.sketch.BloomFilter

/** Shared word-5-gram overlap counting against a broadcast Bloom filter
  * of benchmark grams — the map-side core of both the batch map-only
  * decontamination (x24) and its streaming-ingest form (x28). Kept as
  * ONE function so the two paths cannot drift. */
object DecontamBloom {

  /** A broadcast Bloom filter at fpp 1e-6 over the strings of `grams`'
    * column `g`, sized from their actual count: a fixed capacity silently
    * inflated the FPP, and broke x24 == q28, once the eval set outgrew
    * it. The gram set is the small side, so its count() is cheap. */
  def broadcastFilter(grams: DataFrame): Broadcast[BloomFilter] = {
    val bf = grams.stat.bloomFilter("g", math.max(1000L, grams.count()), 1e-6)
    grams.sparkSession.sparkContext.broadcast(bf)
  }

  /** Number of DISTINCT word 5-grams of `text` the filter might
    * contain. FPP errs safe: may over-count (flags extra docs), never
    * misses real contamination. */
  def overlapCount(text: String, bf: BloomFilter): Long = {
    val toks = text.split(" ")
    var n = 0L
    if (toks.length >= 5) {
      val seen = scala.collection.mutable.HashSet.empty[String]
      var i = 0
      while (i + 5 <= toks.length) {
        val g = toks.slice(i, i + 5).mkString(" ")
        if (seen.add(g) && bf.mightContain(g)) n += 1
        i += 1
      }
    }
    n
  }

  /** Span EXCISION — the surgical form of decontamination (q73): every
    * token covered by ANY n-gram window found in `grams` is removed and
    * the survivors rejoin on single spaces, so a doc that merely QUOTES
    * a benchmark item loses the quote, not its place in the corpus
    * (dropping whole docs — x24's form — throws away the other 99% of a
    * long page). Overlapping and adjacent matches excise as their
    * union. Returns (cleaned text, tokens removed). Exact-set matching
    * here (broadcast Set), unlike the Bloom probe: excision is
    * destructive, so false positives are NOT safe on this path.
    *
    * SINGLE-PASS contract: windows are matched against the ORIGINAL
    * token sequence only. Removing a span can make previously
    * non-adjacent tokens adjacent and thereby form a NEW matching
    * n-gram ("a [b c d] e" with gram "a e c" after excising "b c d" is
    * possible in principle) — that new window is NOT excised. This is
    * deliberate: single-pass is deterministic and O(n), and iterated
    * excision has no fixed semantics (the fixpoint depends on removal
    * order for overlapping sets). Callers wanting closure re-apply
    * until the removed count is 0 (each pass only shrinks the text, so
    * it terminates). Fuzz-pinned in DecontamBloomSpec. */
  def exciseGrams(text: String, grams: Set[String], n: Int): (String, Int) = {
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.length < n) return (toks.mkString(" "), 0)
    val drop = new Array[Boolean](toks.length)
    var i = 0
    while (i + n <= toks.length) {
      if (grams.contains(toks.slice(i, i + n).mkString(" "))) {
        var j = i
        while (j < i + n) { drop(j) = true; j += 1 }
      }
      i += 1
    }
    val kept = new StringBuilder
    var removed = 0
    i = 0
    while (i < toks.length) {
      if (drop(i)) removed += 1
      else { if (kept.nonEmpty) kept.append(' '); kept.append(toks(i)) }
      i += 1
    }
    (kept.toString, removed)
  }
}
