package graft

import graft.functions.ZhSegment
import graft.pipeline.Metrics
import graft.util.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** Per-category formatted eval (J2+A2, reference eval_ocr_format.py) and
  * the deterministic zh word segmenter (jieba stand-in). */
class EvalAndZhSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local(4)

  test("x17: per-category means over the golden corpus are sane and degraded") {
    val rows = SparkEntry.queries("x17_category_eval")(spark, "").collect()
    val byCat = rows.map(r => r.getString(0) -> r).toMap
    assert(byCat.contains("text"), s"categories: ${byCat.keySet}")
    // format goldens all carry a text category; truncation to 80% must
    // degrade the transcript: bleu < 1, edit_dist > 0
    val t = byCat("text")
    assert(t.getAs[Long]("n_docs") > 0)
    val bleu = t.getAs[Double]("bleu")
    val edit = t.getAs[Double]("edit_dist")
    assert(bleu > 0.0 && bleu < 1.0, s"bleu=$bleu")
    assert(edit > 0.0 && edit < 1.0, s"edit=$edit")
    // every mean is a valid [0,1] value in every category
    rows.foreach { r =>
      Seq("bleu", "f_measure", "precision", "recall", "edit_dist", "chrf").foreach { m =>
        val v = r.getAs[Double](m)
        assert(v >= 0.0 && v <= 1.0, s"${r.getString(0)}.$m=$v")
      }
    }
  }

  test("x17 category machinery matches an independent per-doc computation") {
    // one synthetic doc exercised through the same split+metric path the
    // query uses, checked against values computed here by hand from the
    // same public definitions
    val gt = "intro words \\(x+y\\) more \\[a-b\\] \\begin{tabular}{cc}\np & q \\\\\n\\end{tabular}"
    val pred = gt // identical transcript
    val (pt, pm, ptab) = Metrics.splitCategories(pred)
    val (gtx, gm, gtab) = Metrics.splitCategories(gt)
    assert(pt == gtx && pm == gm && ptab == gtab)
    // reference semantics (eval_ocr.py split_text): inline matches are
    // '\n'-joined, display matches are '\n'-joined, and the two joined
    // strings concatenate directly — no separator between the groups
    assert(pm == "x+ya-b")
    // identical pred/gt: set-based P/R/F are exactly 1, edit distance 0
    val m = Metrics.perDoc(pm, gm)
    assert(m("precision") == 1.0 && m("recall") == 1.0 && m("f_measure") == 1.0)
    assert(m("edit_dist") == 0.0)
  }

  test("zh segmenter: longest match wins, OOV falls back to chars") {
    assert(ZhSegment.segment("我们需要使用数据").toSeq ==
      Seq("我们", "需要", "使用", "数据"))
    // OOV run: per-char fallback
    assert(ZhSegment.segment("犇猋骉").toSeq == Seq("犇", "猋", "骉"))
    // mixed script: latin runs whitespace-split, CJK segmented
    assert(ZhSegment.segment("spark 处理数据 fast").toSeq ==
      Seq("spark", "处理", "数据", "fast"))
  }

  test("Metrics.tokens zhWords flag swaps segmentation; default stays per-char") {
    val s = "我们使用数据"
    assert(Metrics.tokens(s).toSeq == Seq("我", "们", "使", "用", "数", "据"))
    assert(Metrics.tokens(s, zhWords = true).toSeq == Seq("我们", "使用", "数据"))
  }

  test("zh segmenter is deterministic and total on arbitrary strings") {
    val r = new graft.util.SplitMix64(99L)
    (0 until 200).foreach { _ =>
      val sb = new StringBuilder
      (0 until r.nextInt(40)).foreach { _ =>
        sb.append((0x4e00 + r.nextInt(0x51a6)).toChar)
      }
      val s = sb.toString
      val a = ZhSegment.segment(s)
      assert(a.toSeq == ZhSegment.segment(s).toSeq)
      assert(a.map(_.length).sum == s.length) // partition of the input
    }
  }
}
