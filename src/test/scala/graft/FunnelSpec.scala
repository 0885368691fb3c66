package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the product-analytics pair (q123/q124): funnel ordering
  * semantics on hand fixtures (strictly-after steps, tie rejection,
  * out-of-order rejection), single-pass ≡ chained-scan equality on the
  * real corpus, and retention cohort algebra (cohort = first week,
  * delta-0 completeness, conservation). */
class FunnelSpec extends AnyFunSuite with SparkFixture {

  /** Run the funnel pipeline on synthetic (user, type, ts-seconds). */
  private def funnelOf(rows: Seq[(Long, String, Long)]): (Long, Long, Long, Long) = {
    val s = spark
    import s.implicits._
    val df = rows.map { case (u, ty, t) =>
      (u, ty, new java.sql.Timestamp(t * 1000L)) }
      .toDF("user_id", "event_type", "ts")
    val tmp = "target/tmp/funnel_spec"
    // events schema: event_id, ts, user_id, event_type, value, props
    df.select(monotonically_increasing_id().as("event_id"), col("ts"),
        col("user_id"), col("event_type"), lit(1.0d).as("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = graft.ops.Relational.funnel(spark, tmp).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  test("strictly-ordered completion counts each step once") {
    // u1 completes in order; u2 purchases BEFORE viewing; u3 views at
    // the same second as signup (tie -> not strictly after)
    val got = funnelOf(Seq(
      (1L, "signup", 100L), (1L, "view", 200L), (1L, "purchase", 300L),
      (2L, "signup", 100L), (2L, "purchase", 150L), (2L, "view", 200L),
      (3L, "signup", 100L), (3L, "view", 100L), (3L, "purchase", 300L)))
    // users=3, signup=3, view-after: u1 (200>100), u2 (200>100), NOT u3
    // purchase-after: u1 (300>200); u2's purchase (150) precedes its
    // valid view (200); u3 has no valid view at all
    assert(got == ((3L, 3L, 2L, 1L)))
  }

  test("a later signup cannot retro-qualify an earlier view") {
    val got = funnelOf(Seq(
      (1L, "view", 50L), (1L, "signup", 100L), (1L, "purchase", 300L)))
    assert(got == ((1L, 1L, 0L, 0L)))
  }

  test("single-pass funnel equals the chained-scan formulation at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("t")).cache()
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val s2 = ev.join(s1, "user_id")
      .where(col("event_type") === "view" && col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t2"))
    val s3 = ev.join(s2, "user_id")
      .where(col("event_type") === "purchase" && col("t") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t3"))
    val got = graft.ops.Relational.funnel(spark, sf).collect().head
    assert(got.getLong(1) == s1.count() && got.getLong(2) == s2.count() &&
      got.getLong(3) == s3.count())
  }

  test("retention cohorts: delta-0 row per cohort, users conserve") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.ops.Relational.retentionCohorts(spark, sf).cache()
    // every cohort has its own week-0 cell, by definition of cohort
    val cohorts = got.where(col("week_delta") === 0)
    assert(cohorts.count() == got.select(col("cohort_week")).distinct().count())
    // week-0 user totals = all distinct users (everyone is in a cohort)
    val total = cohorts.agg(sum(col("n_users"))).head.getLong(0)
    val users = Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(total == users, s"cohort week-0 sum $total != $users users")
    // no negative deltas
    assert(got.where(col("week_delta") < 0).isEmpty)
  }
}
