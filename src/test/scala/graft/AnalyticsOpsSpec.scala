package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the round-10 analytics quartet (q132–q135): gap-fill
  * carry-forward semantics, transition-matrix algebra (conservation +
  * row-normalization), attribution window/boundary/credit-conservation
  * rules, and the integer-exact rolling z-test (variance-0, null-until-
  * full-frame). Hand fixtures pin the semantics; sf0.001 checks pin the
  * corpus-level invariants. */
class AnalyticsOpsSpec extends AnyFunSuite with SparkFixture {

  /** Write (user, type, value, ts-ms) rows as an events table fixture. */
  private def eventsOf(dir: String, rows: Seq[(Long, String, Double, Long)]): String = {
    val s = spark
    import s.implicits._
    val tmp = s"target/tmp/$dir"
    rows.zipWithIndex.map { case ((u, ty, v, tms), i) =>
      (i.toLong, new java.sql.Timestamp(tms), u, ty, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  // ---------------------------------------------------------------- q132

  test("gapFill: missing days minted and carried forward, flagged") {
    val day = 86400000L
    val tmp = eventsOf("gapfill_spec", Seq(
      (1L, "view", 1.0, 10 * day), (1L, "view", 0.5, 10 * day + 1000),
      (1L, "view", 2.5, 13 * day)))
    val got = graft.ops.Relational.gapFill(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 10L, false, 1.5), // observed: 1.0 + 0.5
      (1L, 11L, true, 1.5),  // minted, carried from day 10
      (1L, 12L, true, 1.5),
      (1L, 13L, false, 2.5))) // observed again: carry stops
  }

  test("gapFill: dense span, no filled values, value never null (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.Relational.gapFill(spark, sf).cache()
    val daily = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
      .distinct().cache()
    // row count = sum over users of (span + 1)
    val spans = daily.groupBy(col("user_id"))
      .agg((max(col("day")) - min(col("day")) + 1).as("rows"))
      .agg(sum(col("rows"))).head.getLong(0)
    assert(got.count() == spans)
    // filled rows are exactly the minted ones
    assert(got.where(col("filled")).count() == spans - daily.count())
    // the carry never runs dry: first day of every span has data
    assert(got.where(col("value").isNull).isEmpty)
  }

  // ---------------------------------------------------------------- q133

  test("pathTransitions: lead pairing, ppm normalization, tie by event_id") {
    val tmp = eventsOf("transitions_spec", Seq(
      (1L, "A", 0.0, 1000L), (1L, "B", 0.0, 2000L),
      (1L, "B", 0.0, 3000L), (1L, "C", 0.0, 4000L),
      // u2: B then A at the SAME second — event_id (write order) breaks
      // the tie, so the transition is B -> A
      (2L, "B", 0.0, 9000L), (2L, "A", 0.0, 9000L)))
    val got = graft.ops.Relational.pathTransitions(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("A", "B", 1L, 1000000L),
      ("B", "A", 1L, 333333L), // 3 B-rows: B->A 1, B->B 1, B->C 1
      ("B", "B", 1L, 333333L),
      ("B", "C", 1L, 333333L)))
  }

  test("pathTransitions: transition count conserves, rows normalize (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.Relational.pathTransitions(spark, sf).cache()
    val ev = Tables.events(spark, sf)
    // every user contributes (events − 1) transitions
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(got.agg(sum(col("n"))).head.getLong(0) == expected)
    // each row of the matrix sums to 1000000 up to integer-div floor loss
    val rows = got.groupBy(col("from_type"))
      .agg(sum(col("p_ppm")).as("p"), count(lit(1)).as("k")).collect()
    rows.foreach { r =>
      val (p, k) = (r.getLong(1), r.getLong(2))
      assert(p <= 1000000L && p > 1000000L - k,
        s"${r.getString(0)}: ppm row sum $p with $k cells")
    }
  }

  // ---------------------------------------------------------------- q134

  test("attribution: window boundaries, ranks, and per-model credit") {
    val day = 86400000L
    val t0 = 100 * day
    val tmp = eventsOf("attribution_spec", Seq(
      (1L, "view", 0.0, t0 - 7 * day),     // exactly 7d before: INCLUDED (>=)
      (1L, "signup", 0.0, t0 - 3 * day),
      (1L, "view", 0.0, t0),               // same ms as purchase: EXCLUDED (<)
      (1L, "purchase", 12.0, t0),
      (2L, "view", 0.0, t0 - 8 * day),     // outside the lookback: EXCLUDED
      (2L, "purchase", 5.0, t0)))
    val got = graft.ops.Relational.attribution(spark, tmp).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    // u1: two attributed touches — first = the 7d-old view, last = signup;
    // u2's purchase has no in-window touch and drops out entirely
    assert(got(("first_touch", "view")) == ((1L, 12.0)))
    assert(got(("first_touch", "signup")) == ((1L, 0.0)))
    assert(got(("last_touch", "signup")) == ((1L, 12.0)))
    assert(got(("last_touch", "view")) == ((1L, 0.0)))
    assert(got(("linear", "view")) == ((1L, 6.0)))
    assert(got(("linear", "signup")) == ((1L, 6.0)))
  }

  test("attribution: every model distributes the same total credit (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.Relational.attribution(spark, sf).cache()
    val totals = got.groupBy(col("model"))
      .agg(round(sum(col("credit")), 2).as("total")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(totals.size == 3)
    // first/last/linear all allocate exactly the attributed purchase value.
    // Tolerance, not ==: both sides are round(sum, 2) over the same values
    // summed in different orders, so a sum landing on a 2-decimal rounding
    // boundary can flip one side by a cent (ADVICE r10).
    assert(math.abs(totals("first_touch") - totals("last_touch")) < 0.01,
      s"first ${totals("first_touch")} vs last ${totals("last_touch")}")
    assert(math.abs(totals("linear") - totals("first_touch")) < 0.05,
      s"linear ${totals("linear")} vs first ${totals("first_touch")}")
  }

  // ---------------------------------------------------------------- q135

  test("rollingAnomaly: spike flagged, constant series quiet, null until full frame") {
    val day = 86400000L
    val rows = (0 until 7).flatMap { d => // u1: 5/day for a week, then 50
      (0 until 5).map(i => (1L, "view", 0.0, (10 + d) * day + i * 1000L))
    } ++ (0 until 50).map(i => (1L, "view", 0.0, 17 * day + i * 1000L)) ++
      (0 until 8).flatMap { d => // u2: constant 3/day — zero variance, no spike
        (0 until 3).map(i => (2L, "view", 0.0, (10 + d) * day + i * 1000L))
      }
    val tmp = eventsOf("anomaly_spec", rows)
    val got = graft.ops.Relational.rollingAnomaly(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), if (r.isNullAt(4)) None else Some(r.getBoolean(4))))).toMap
    // first 7 days: frame incomplete -> NULL flag
    (10 to 16).foreach { d =>
      assert(got((1L, d.toLong))._3.isEmpty, s"day $d should be unflagged")
    }
    // day 17: m=7, s1=35, s2=175 -> (7*50-35)^2 = 99225 > 4*(7*175-35^2) = 0
    assert(got((1L, 17L)) == ((50L, 7L, Some(true))))
    // u2 day 17: (7*3-21)^2 = 0 > 0 is false — constant series never flags
    assert(got((2L, 17L)) == ((3L, 7L, Some(false))))
  }

  // ---------------------------------------------------------------- q137

  test("incrementalAgg: merged equals direct; delta-only groups appear") {
    val s = spark
    import s.implicits._
    val tmp = "target/tmp/incr_spec"
    // event_ids chosen so type X lives ONLY in the delta (ids % 5 == 0)
    // and type Y only in history — both group-alignment edge cases
    Seq((5L, "X", 1.5), (10L, "X", 2.5), (1L, "Y", 3.0), (2L, "Y", 4.0),
      (3L, "Z", 1.0), (15L, "Z", 9.0))
      .map { case (id, ty, v) =>
        (id, new java.sql.Timestamp(id * 1000L), id, ty, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.ops.Relational.incrementalAgg(spark, tmp).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    for (ty <- Seq("X", "Y", "Z"))
      assert(got((ty, "merged")) == got((ty, "direct")), s"type $ty diverged")
    assert(got(("X", "merged")) == ((2L, 4.0, 1.5, 2.5))) // delta-only group
    assert(got(("Z", "merged")) == ((2L, 10.0, 1.0, 9.0))) // split group
    // the rollup artifact really exists on disk (the delta path reads it)
    assert(new java.io.File("target/tmp/incr_q137/agg").exists())
  }

  // ---------------------------------------------------------------- q139

  test("driftAudit: shares normalize, totals conserve, drift bounded (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.TextAnalysis.driftAudit(spark, sf).cache()
    val docs = Tables.documents(spark, sf).count()
    // per feature, each snapshot's counts partition its snapshot
    val byFeat = got.groupBy(col("feature"))
      .agg(sum(col("n_a")).as("na"), sum(col("n_b")).as("nb"),
        sum(col("ppm_a")).as("pa"), sum(col("ppm_b")).as("pb"),
        count(lit(1)).as("k")).collect()
    assert(byFeat.length == 2)
    byFeat.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == docs, s"${r.getString(0)} counts")
      // ppm shares sum to 1e6 up to integer-div floor loss per bucket
      for (p <- Seq(r.getLong(3), r.getLong(4)))
        assert(p <= 1000000L && p > 1000000L - r.getLong(5),
          s"${r.getString(0)} ppm sum $p")
    }
    // drift is |a-b| of ppm shares: within [0, 1e6] per bucket
    assert(got.where(col("drift_ppm") < 0 || col("drift_ppm") > 1000000L).isEmpty)
  }

  // ---------------------------------------------------------------- q140

  test("tokenizerStats: conserves q114's totals, fertility >= 1 token/word (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.TextAnalysis.tokenizerStats(spark, sf).cache()
    val langs = Tables.documents(spark, sf)
      .select(col("lang")).distinct().count()
    assert(got.count() == langs)
    // the per-lang roll-up partitions q114's per-doc totals exactly
    val q114 = graft.ops.TextAnalysis.bpeEncode(spark, sf)
      .agg(sum(col("n_words")), sum(col("n_tokens"))).head
    val mine = got.agg(sum(col("n_words")), sum(col("n_tokens"))).head
    assert(mine.getLong(0) == q114.getLong(0) &&
      mine.getLong(1) == q114.getLong(1))
    // every word encodes to >= 1 token, so fertility_ppm >= 1e6
    assert(got.where(col("fertility_ppm") < 1000000L).isEmpty)
  }

  // ---------------------------------------------------------------- q141

  test("filterFunnel: funnel identities hold (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Curation.filterFunnel(spark, sf).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val (n, fLen, _, s1) = rows("len_band")
    assert(s1 == n - fLen) // stage 1 survivors = docs minus its fails
    // survivors are monotone down the chain
    val chain = Seq(rows("len_band")._4, rows("min_words")._4, rows("digit_ratio")._4)
    assert(chain == chain.sorted.reverse && chain.forall(_ >= 0))
    // a unique kill is in particular a kill
    rows.values.foreach { case (_, f, u, _) => assert(u <= f) }
    // removing every filter's unique kills cannot beat the union bound:
    // final survivors + sum of all fails >= n (inclusion-exclusion floor)
    assert(chain.last + rows.values.map(_._2).sum >= n)
  }

  // ---------------------------------------------------------------- q146

  test("filterFunnelDrift: snapshot counts reconcile with q141's flags, ppm and delta consistent (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Curation.filterFunnelDrift(spark, sf).collect()
    assert(rows.length == 3)
    val docs = graft.Tables.documents(spark, sf)
    val nA = docs.where(col("doc_id") % 10 =!= 0).count()
    val nB = docs.where(col("doc_id") % 10 =!= 1).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_a") == nA && r.getAs[Long]("n_b") == nB)
      for (side <- Seq("a", "b")) {
        val f = r.getAs[Long](s"n_fail_$side")
        val n = r.getAs[Long](s"n_$side")
        assert(f >= 0 && f <= n)
        assert(r.getAs[Long](s"fail_${side}_ppm") == 1000000L * f / n)
      }
      assert(r.getAs[Long]("abs_delta_ppm") ==
        math.abs(r.getAs[Long]("fail_a_ppm") - r.getAs[Long]("fail_b_ppm")))
    }
    // cross-check one filter's snapshot-A fails against a direct count
    val lenFailA = docs.where(col("doc_id") % 10 =!= 0 &&
      !(col("n_chars") >= 100 && col("n_chars") <= 500)).count()
    assert(rows.find(_.getAs[String]("filter") == "len_band").get
      .getAs[Long]("n_fail_a") == lenFailA)
  }

  test("rollingAnomaly: flag is null exactly below the full frame (sf0.001)") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.Relational.rollingAnomaly(spark, sf).cache()
    assert(got.where(col("window_days") < 7 && col("anomaly").isNotNull).isEmpty)
    assert(got.where(col("window_days") === 7 && col("anomaly").isNull).isEmpty)
    assert(got.where(col("window_days") > 7).isEmpty) // frame is 7 rows max
  }
}
