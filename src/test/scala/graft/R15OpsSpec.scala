package graft

import graft.ops.{Curation, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 operators: temperature-scaled token mixture (q193) and the
  * declared-vs-detected language audit (q194).
  *
  * Load-bearing assertions:
  *  - the q193 allocation is EXACTLY the budget (largest-remainder
  *    rounding must neither drop nor invent tokens), weights are
  *    monotone in token mass, and rep_ppm replays the integer identity;
  *  - q194's per-cell doc counts reconcile with the corpus, ppm replays
  *    the integer identity, and top_wrong_pred is NULL exactly on
  *    zero-mismatch cells (the q180 degenerate-case rule: both engines
  *    must agree on the empty case, so the spec pins it).
  */
class R15OpsSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("temperatureMixture: allocation sums to the budget exactly") {
    val out = Curation.temperatureMixture(spark, sf, budget = 50000L)
    assert(out.agg(sum("alloc")).head.getLong(0) == 50000L)
  }

  test("temperatureMixture: weight = floor(n_tokens^0.25), monotone in token mass") {
    val rows = Curation.temperatureMixture(spark, sf)
      .select("n_tokens", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (n, w) =>
      assert(w == math.floor(math.sqrt(math.sqrt(n.toDouble))).toLong,
        s"w($n) = $w")
    }
    // sublinear but monotone: more tokens never means a smaller weight
    rows.sortBy(_._1).sliding(2).foreach {
      case Array((_, w1), (_, w2)) => assert(w1 <= w2)
      case _ => ()
    }
  }

  test("temperatureMixture: rep_ppm is the exact integer identity; upweighting is real") {
    val rows = Curation.temperatureMixture(spark, sf)
      .select("n_tokens", "alloc", "rep_ppm").collect()
    rows.foreach { r =>
      val (n, a, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(p == a * 1000000L / math.max(n, 1L))
    }
    // alpha = 0.25 must upweight the smallest source relative to the
    // largest: repetition factor strictly ordered against token mass
    val byMass = rows.map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(byMass.head._2 > byMass.last._2,
      "smallest source should carry the highest repetition factor")
  }

  test("langMismatchAudit: doc counts reconcile and ppm replays") {
    val out = TextAnalysis.langMismatchAudit(spark, sf).collect()
    val corpus = Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(2)).sum == corpus)
    out.foreach { r =>
      val (n, m, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(m <= n && ppm == m * 1000000L / n)
    }
  }

  test("langMismatchAudit: top_wrong_pred is NULL exactly on zero-mismatch cells, else a real lang") {
    val out = TextAnalysis.langMismatchAudit(spark, sf).collect()
    out.foreach { r =>
      val m = r.getLong(3)
      if (m == 0L) assert(r.isNullAt(5), s"cell $r: expected NULL top")
      else {
        assert(!r.isNullAt(5))
        val top = r.getString(5)
        assert(Set("en", "es", "de", "fr")(top) && top != r.getString(1),
          s"top_wrong_pred $top must differ from the label")
      }
    }
  }

  test("langMismatchAudit: top_wrong_pred is the modal mismatch with smallest-lex ties") {
    // replay the mode from the raw per-doc predictions
    val raw = TextAnalysis.langId(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .select("source", "lang_label", "lang_pred").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val expect = raw.filter(t => t._2 != t._3)
      .groupBy(t => (t._1, t._2))
      .map { case (k, ts) =>
        val counts = ts.groupBy(_._3).map { case (p, xs) => (p, xs.length) }
        k -> counts.toSeq.sortBy { case (p, c) => (-c, p) }.head._1
      }
    val got = TextAnalysis.langMismatchAudit(spark, sf).collect()
      .filter(_.getLong(3) > 0L)
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(5)).toMap
    assert(got == expect)
  }
}
