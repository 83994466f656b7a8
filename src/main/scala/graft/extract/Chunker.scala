package graft.extract

/** Document chunking — the analog of the reference's multi-crop tiling
  * (`dynamic_preprocess`, GOT/demo/run_ocr_2.0_crop.py:57-95): cut the
  * blocks one Plain extraction emits into 1..6 ordered segments plus one
  * "thumbnail" summary (the text cut to `ThumbnailChars`). The
  * segments joined in index order are the Plain text itself.
  */
object Chunker {

  /** Max segments per document (reference max_num=6). */
  final val MaxSegments = 6
  /** Per-segment character budget — the analog of the reference's
    * 256-token-per-tile budget scaled to text (SURVEY.md P5). */
  final val SegCharBudget = 4096
  /** Thumbnail length (chars of plain text). */
  final val ThumbnailChars = 200

  /** Split the emitted blocks, given by their text lengths, into 1..6
    * contiguous, order-preserving segments of roughly equal character
    * mass; returns each segment's end (exclusive block index). The last
    * cut may land on the final block, which leaves one segment fewer; no
    * blocks is one empty segment, `Array(0)`. */
  def segmentEnds(lens: Array[Int]): Array[Int] = {
    var totalChars = 0L
    lens.foreach(totalChars += _)
    val n = math.min(MaxSegments,
      math.max(1L, (totalChars + SegCharBudget - 1) / SegCharBudget)).toInt
    val perSeg = totalChars.toDouble / n
    val ends = Array.newBuilder[Int]
    var acc = 0L
    var cuts = 0
    var last = 0
    var i = 0
    while (i < lens.length) {
      acc += lens(i)
      i += 1
      if (cuts < n - 1 && acc >= perSeg * (cuts + 1)) { ends += i; cuts += 1; last = i }
    }
    if (last < lens.length || lens.isEmpty) ends += lens.length
    ends.result()
  }
}
