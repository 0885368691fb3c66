package graft

import graft.ops.Reconcile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the reconciliation digest (q99): the anti-entropy
  * properties — a corruption is DETECTED and LOCALIZED to its key's
  * bucket with counts intact, a loss shows in the counts, and identical
  * content digests identically under any row order or partitioning. */
class ReconcileSpec extends AnyFunSuite with SparkFixture {

  private def digest(rows: Seq[(Long, String)], parts: Int = 4) = {
    val s = spark
    import s.implicits._
    Reconcile.tableDigest(
        rows.toDF("id", "v").repartition(parts),
        keyCols = Seq(col("id").cast("string")),
        cols = Seq(col("id").cast("string"), col("v")), nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  test("digest: layout- and order-independent (xor partials commute)") {
    val rows = (1L to 500L).map(i => (i, s"payload-$i"))
    assert(digest(rows) == digest(rows.reverse, parts = 11))
    assert(digest(rows) == digest(scala.util.Random.shuffle(rows), parts = 1))
  }

  test("digest: one mutated value diverges EXACTLY its key's bucket, counts intact") {
    val base = (1L to 500L).map(i => (i, s"payload-$i"))
    val corrupted = base.map { case (i, v) => if (i == 250L) (i, "CORRUPT") else (i, v) }
    val a = digest(base)
    val b = digest(corrupted)
    // key-derived buckets: same buckets, same counts — mutation, not loss
    assert(a.map(t => (t._1, t._2)) == b.map(t => (t._1, t._2)))
    // content diverges in exactly ONE bucket — the repair unit
    assert(a.zip(b).count { case (x, y) => x != y } == 1)
  }

  private def diff(l: Seq[(Long, String)], r: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    Reconcile.diffKeys(
        l.toDF("id", "v").repartition(3), r.toDF("id", "v").repartition(5),
        keyCols = Seq("id"),
        cols = Seq(col("id").cast("string"), col("v")), nBuckets = 16)
      .collect().map(row => (row.getLong(0), row.getString(1)))
      .sortBy(_._1).toSeq
  }

  test("diffKeys: identical tables diff to empty") {
    val rows = (1L to 400L).map(i => (i, s"v-$i"))
    assert(diff(rows, rows.reverse) == Seq.empty)
  }

  test("diffKeys: mutation, deletion, insertion each named with the right status") {
    val base = (1L to 400L).map(i => (i, s"v-$i"))
    val other = base
      .map { case (i, v) => if (i == 42L) (i, "MUT") else (i, v) } // mutated
      .filterNot(_._1 == 99L) :+                                   // only_left
      (9999L, "new")                                               // only_right
    assert(diff(base, other) == Seq(
      (42L, "mutated"), (99L, "only_left"), (9999L, "only_right")))
  }

  test("diffKeys: key-compare join is pruned by the diverged-bucket broadcast semi-join") {
    val s = spark
    import s.implicits._
    val base = (1L to 400L).map(i => (i, s"v-$i"))
    val other = base.map { case (i, v) => if (i == 7L) (i, "X") else (i, v) }
    val plan = Reconcile.diffKeys(
        base.toDF("id", "v"), other.toDF("id", "v"),
        keyCols = Seq("id"),
        cols = Seq(col("id").cast("string"), col("v")), nBuckets = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), "pruning semi-join missing:\n" + plan)
    assert(plan.contains("BroadcastHashJoin"), "diverged list not broadcast:\n" + plan)
  }

  test("digest: a dropped row is visible as its bucket's count-1") {
    val base = (1L to 500L).map(i => (i, s"payload-$i"))
    val a = digest(base)
    val b = digest(base.filterNot(_._1 == 77L))
    val changed = a.filterNot(b.contains)
    assert(changed.size == 1)
    val fixed = b.filterNot(a.contains)
    // bucket either vanished (was singleton) or lost exactly one row
    assert(fixed.isEmpty || (changed.head._2 - fixed.head._2 == 1))
  }

  private def mergeLog(rows: Seq[(Long, String, Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "v", "version", "op").repartition(5)
  }

  test("mergeUpsert: every CDC case — update chain, delete, delete-after-update, resurrect, insert") {
    val log = mergeLog(Seq(
      (1L, "base", 0L, "U"),                                        // untouched
      (2L, "base", 0L, "U"), (2L, "upd", 1L, "U"), (2L, "upd2", 2L, "U"), // last wins
      (3L, "base", 0L, "U"), (3L, "gone", 1L, "D"),                 // delete
      (4L, "base", 0L, "U"), (4L, "upd", 1L, "U"), (4L, "x", 2L, "D"), // delete-after-update
      (5L, "base", 0L, "U"), (5L, "x", 1L, "D"), (5L, "back", 2L, "U"), // resurrect
      (6L, "new", 1L, "U")))                                        // insert (no base row)
    val got = ops.Reconcile.mergeUpsert(log, Seq("id"), "version", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "base", 0L), (2L, "upd2", 2L),
      (5L, "back", 2L), (6L, "new", 1L)))
  }

  test("mergeUpsert: plan aggregates map-side before ONE shuffle — no window") {
    val log = mergeLog((1L to 200L).flatMap(i =>
      (0L to i % 5).map(v => (i, s"v$v", v, if (v == 3) "D" else "U"))))
    val plan = ops.Reconcile.mergeUpsert(log, Seq("id"), "version", "op")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // the partial max_by runs BELOW the agg exchange (map-side collapse:
    // the exchange carries one winner per key per task, not every version)
    assert(plan.contains("partial_max_by"), plan)
    assert(plan.indexOf("partial_max_by") >
      plan.indexOf("Exchange hashpartitioning"), plan)
    // exactly one key-hash exchange — the window plan would need the same
    // exchange but with the FULL log on the wire plus a post-shuffle sort
    assert(plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1, plan)
  }

  import graft.streaming.CdcApply
  import graft.streaming.CdcApply.{ApplyState, Change}

  test("CdcApply.step: latest-wins across invocations; counter accumulates; out-of-order immune") {
    def c(v: Long, st: String, op: String) = Change(1L, 10L, st, "P", v, op)
    // batch 1: v0 base + v2 update → winner v2, 2 applied
    val s1 = CdcApply.step(None, Iterator(c(0, "base", "U"), c(2, "upd", "U")))
    assert(s1 == ApplyState(2, "U", 10L, "upd", "P", 2))
    // batch 2 arrives OUT OF ORDER with a lower version → winner unchanged,
    // counter still advances (state must survive the batch boundary)
    val s2 = CdcApply.step(Some(s1), Iterator(c(1, "late", "U")))
    assert(s2 == ApplyState(2, "U", 10L, "upd", "P", 3))
    // batch 3: delete at v3 then resurrect at v4 in a LATER batch
    val s3 = CdcApply.step(Some(s2), Iterator(c(3, "x", "D")))
    assert(s3.op == "D" && s3.nApplied == 4)
    val s4 = CdcApply.step(Some(s3), Iterator(c(4, "back", "U")))
    assert(s4 == ApplyState(4, "U", 10L, "back", "P", 5))
  }

  test("CdcApply batch-mode applyStream snapshot equals mergeUpsert") {
    val s = spark
    import s.implicits._
    val rows = (1L to 120L).flatMap { k =>
      val n = (k % 4) + 1
      (0L until n).map(v => Change(k, k * 10, s"s$v", "P", v, if ((k + v) % 5 == 0) "D" else "U"))
    }
    val winners = CdcApply.applyStream(rows.toDS().repartition(7))
    val streamSnap = winners.where(col("op") === "U")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "version")
    val batchSnap = ops.Reconcile.mergeUpsert(
      rows.toDF().repartition(3), Seq("o_orderkey"), "version", "op")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "version")
    assert(streamSnap.exceptAll(batchSnap).isEmpty
      && batchSnap.exceptAll(streamSnap).isEmpty)
    // every log row was applied exactly once
    assert(winners.agg(sum("n_applied")).head.getLong(0) == rows.size)
  }

  test("mergeUpsert: hash-agg formulation equals the window formulation row-for-row") {
    val s = spark
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random log: versions unique per key by design
    val log = mergeLog((1L to 300L).flatMap { i =>
      val n = (i * 7 % 4) + 1
      (0L until n).map(v => (i, s"p${i}v$v", v, if ((i + v) % 6 == 0) "D" else "U"))
    })
    val agg = ops.Reconcile.mergeUpsert(log, Seq("id"), "version", "op")
    val win = log
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("version").desc)))
      .where(col("rn") === 1 && col("op") === "U")
      .select("id", "v", "version")
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
  }

  private def history(rows: Seq[(Long, String, Long, String)]) =
    ops.Reconcile.scd2History(mergeLog(rows), Seq("id"), "version", "op")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3)).toSeq

  test("scd2History: update chain becomes chained intervals, one open") {
    assert(history(Seq(
      (2L, "base", 0L, "U"), (2L, "upd", 1L, "U"), (2L, "upd2", 2L, "U"))) ==
      Seq((2L, "base", 0L, 1L, false), (2L, "upd", 1L, 2L, false),
        (2L, "upd2", 2L, -1L, true)))
  }

  test("scd2History: a delete closes the interval and emits no row") {
    assert(history(Seq((3L, "base", 0L, "U"), (3L, "gone", 1L, "D"))) ==
      Seq((3L, "base", 0L, 1L, false)))
  }

  test("scd2History: delete-then-resurrect leaves a validity gap") {
    assert(history(Seq(
      (5L, "base", 0L, "U"), (5L, "x", 3L, "D"), (5L, "back", 4L, "U"))) ==
      Seq((5L, "base", 0L, 3L, false), (5L, "back", 4L, -1L, true)))
  }

  test("pointInTimeJoin: at most one version per fact; deletion-gap facts drop") {
    val sf = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), (col("l_partkey") % 5).as("as_of"))
    val facts = li.count()
    val total = ops.Reconcile.pointInTimeJoin(spark, sf)
      .agg(sum(col("n_facts"))).head.getLong(0)
    // disjoint SCD2 intervals ⇒ each fact joins ≤ 1 version
    assert(total <= facts)
    // the only drops are deletion-gap reads: as_of=3 hits every %11==2
    // key's gap; as_of=4 hits it unless the key resurrected (%55==2)
    val drop3 = li.where(col("as_of") === 3 && col("l_orderkey") % 11 === 2).count()
    val drop4 = li.where(col("as_of") === 4 && col("l_orderkey") % 11 === 2 &&
      !(col("l_orderkey") % 55 === 2)).count()
    assert(total == facts - drop3 - drop4,
      s"joined $total != $facts - $drop3 - $drop4")
  }

  test("scd2History: current slice equals the q102 merged snapshot") {
    // the history's open rows ARE the snapshot mergeUpsert computes —
    // the cross-operator invariant that ties q119 to q102
    val sf = "/root/testdata/sf0.001"
    val current = ops.Reconcile.scd2Gate(spark, sf)
      .where(col("is_current"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val snapshot = ops.Reconcile.mergeUpsertGate(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    assert(current.exceptAll(snapshot).isEmpty &&
      snapshot.exceptAll(current).isEmpty)
  }
}
