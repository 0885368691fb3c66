package graft

import graft.streaming.StreamIngest
import graft.pipeline.CopyRead
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Streaming ingest: file-source CSV stream → parse → inference →
  * checkpointed parquet sink; restart resumes without reprocessing
  * (the reference's token-checkpoint semantics, `read.go:100-107`). */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private val base = new java.io.File(Scratch.unique("stream")).getAbsolutePath

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("flag", BooleanType)))

  private def writeInputFile(n: Int, tag: String): Unit = {
    val dir = Paths.get(s"$base/in")
    Files.createDirectories(dir)
    val content = (1 to n)
      .map(i => s"""$i,"$tag-$i",${if (i % 2 == 0) "true" else "false"}""")
      .mkString("\n")
    Files.writeString(dir.resolve(s"$tag.csv"), content)
  }

  test("checkpointed stream ingests, then resumes with only new data") {
    writeInputFile(100, "first")
    val cfg = CopyConfig()
    val q1 = StreamIngest.writeParquetStream(
      StreamIngest.readCsvStream(spark, s"$base/in", schema, cfg),
      s"$base/out", s"$base/ckpt")
    q1.awaitTermination(60000)
    val afterFirst = spark.read.parquet(s"$base/out").count()
    assert(afterFirst == 100)

    // restart with one more file: checkpoint must resume, not reprocess
    writeInputFile(50, "second")
    val q2 = StreamIngest.writeParquetStream(
      StreamIngest.readCsvStream(spark, s"$base/in", schema, cfg),
      s"$base/out", s"$base/ckpt")
    q2.awaitTermination(60000)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 150)
    assert(out.where(col("flag") === true).count() == 75)
    assert(out.agg(sum("id")).head.getLong(0) == (1 to 100).sum + (1 to 50).sum)
  }

  test("sessionize step function: gap closes sessions, accumulators correct") {
    import graft.streaming.Sessionize._
    def ev(uid: Long, tMs: Long, et: String, v: Double) =
      Event(uid, new java.sql.Timestamp(tMs), et, v)
    val gap = 1000L
    val (closed, open) = step(None, Seq(
      ev(1, 0, "a", 1.0), ev(1, 500, "b", 2.0),   // session 1
      ev(1, 2000, "a", 3.0),                      // gap > 1000 → closes s1
      ev(1, 2500, "c", 4.0)), gap)
    assert(closed.length == 1)
    assert(closed.head.n_events == 2 && closed.head.sum_value == 3.0 &&
      closed.head.n_types == 2 && closed.head.closed_by == "gap")
    assert(open.exists(s => s.nEvents == 2 && s.sumValue == 7.0))
    // continuing from open state within gap extends it
    val (closed2, open2) = step(open, Seq(ev(1, 3000, "a", 1.0)), gap)
    assert(closed2.isEmpty && open2.exists(_.nEvents == 3))
  }

  test("batch sessionization over real events: flushOpen accounts for every event") {
    import graft.streaming.Sessionize
    val s = spark
    import s.implicits._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
      .as[Sessionize.Event]
    val total = ev.count()
    val sessions = Sessionize.sessions(ev, gapMs = 60 * 60 * 1000L, flushOpen = true)
      .collect()
    assert(sessions.nonEmpty)
    assert(sessions.map(_.n_events).sum == total) // every event in exactly one session
    assert(sessions.forall(x => x.session_end.getTime >= x.session_start.getTime))
  }

  test("streaming dedup drops within-watermark duplicates across micro-batches") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("user_id", "ts", "value")
    val deduped = StreamIngest.dedupStream(events, Seq("user_id"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
      // batch 1: user 1 twice (dup within batch), user 2 once
      mem.addData((1L, ts(0), 1.0), (1L, ts(1), 2.0), (2L, ts(1), 3.0))
      q.processAllAvailable()
      // batch 2: user 1 again within the watermark horizon → still a dup;
      // user 3 is new
      mem.addData((1L, ts(2), 4.0), (3L, ts(3), 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = s.sql("SELECT user_id FROM dedup_out").collect().map(_.getLong(0)).toSeq
    assert(out.sorted == Seq(1L, 2L, 3L), s"got $out")
  }

  test("stream-stream interval join matches batch rangeJoin semantics; stateful symmetric join planned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // NOT epoch-based: the initial watermark is 0, and rows AT the
    // watermark are late — a ts(0)=epoch row would be state-cleaned
    // before it can match (observed: cleanup predicate `ts <= 0`).
    // Real event times sit far above epoch; base the fixture there too.
    def ts(min: Int) = new java.sql.Timestamp((1000000 + min) * 60000L)
    val memL = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val memR = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val signups = memL.toDF().toDF("user_id", "ts", "event_id")
    val views = memR.toDF().toDF("user_id", "rts", "value")
    val joined = StreamIngest.intervalJoinStream(signups, views, "user_id",
      window_ = "30 minutes", watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      // signup u1 at t0; views: in-window (t0, t0+29), out (t0+30, before),
      // wrong user. Split across micro-batches to exercise buffering.
      memL.addData((1L, ts(0), 100L))
      memR.addData((1L, ts(0), 1.0), (1L, ts(29), 2.0))
      q.processAllAvailable()
      memR.addData((1L, ts(30), 4.0), (2L, ts(5), 8.0))
      memL.addData((2L, ts(40), 200L))
      memR.addData((2L, ts(41), 16.0))
      q.processAllAvailable()
      // the join must be the stateful symmetric hash join (evictable
      // state), not a static join
      val planDump = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(planDump)) { q.explain() }
      assert(planDump.toString.contains("StreamingSymmetricHashJoin"))
    } finally q.stop()
    val got = s.sql("SELECT event_id, value FROM ij_out").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((100L, 1.0), (100L, 2.0), (200L, 16.0)), s"got $got")
    // same rows through the BATCH operator agree (modulo the bucketing path)
    val bl = Seq((1L, ts(0), 100L), (2L, ts(40), 200L)).toDF("user_id", "ts", "event_id")
    val br = Seq((1L, ts(0), 1.0), (1L, ts(29), 2.0), (1L, ts(30), 4.0),
      (2L, ts(5), 8.0), (2L, ts(41), 16.0)).toDF("user_id", "ts", "value")
    val batch = graft.ops.Temporal.rangeJoin(bl, br, "user_id", "ts",
        windowMs = 30 * 60000L, bucketMs = 30 * 60000L)
      .select(col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch == got)
  }

  test("left-outer interval join: outer rows emit exactly on watermark close") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    def ts(min: Int) = new java.sql.Timestamp((1000000 + min) * 60000L)
    val memL = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val memR = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val signups = memL.toDF().toDF("user_id", "ts", "event_id")
    val views = memR.toDF().toDF("user_id", "rts", "value")
    val joined = StreamIngest.intervalJoinStreamOuter(signups, views, "user_id",
      window_ = "30 minutes", watermark = "10 minutes")
    val q = joined.select(col("event_id"), col("value"))
      .writeStream.format("memory").queryName("oj_out")
      .outputMode("append").start()
    def rows() = s.sql("SELECT event_id, value FROM oj_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSet
    try {
      // u1 signup matches; u2 signup never matches (wrong-user and
      // out-of-window views only)
      memL.addData((1L, ts(0), 100L), (2L, ts(1), 200L))
      memR.addData((1L, ts(5), 1.0), (3L, ts(6), 2.0), (2L, ts(40), 4.0))
      q.processAllAvailable()
      // watermark so far: 0 → nothing evicted; matched row present, no
      // outer row yet even though u2 has no match
      assert(rows() == Set((100L, Some(1.0))), s"early outer? ${rows()}")
      // advance both watermarks far past ts(1)+30min: u2's window closes
      memL.addData((9L, ts(200), 900L))
      memR.addData((9L, ts(200), 0.5))
      q.processAllAvailable()
      assert(rows() == Set((100L, Some(1.0)), (900L, Some(0.5)), (200L, None)),
        s"got ${rows()}")
    } finally q.stop()
  }

  test("sessionsBatch (window SQL) matches the stateful path, incl. a hot key") {
    import graft.streaming.Sessionize
    val s = spark
    import s.implicits._
    // real events PLUS one synthetic hot user (id -1) with 5000 events
    // spanning many gaps — the skew case the window path must absorb
    val hot = {
      var t = 0L
      (0 until 5000).map { i =>
        if (i > 0) t += (if (i % 50 == 0) 7200000L else 1000L) // 2h jump per 50
        Sessionize.Event(-1L, new java.sql.Timestamp(t), s"t${i % 3}", 0.5)
      }
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
      .as[Sessionize.Event]
      .union(hot.toDS())
    val gap = 60 * 60 * 1000L
    def key(x: Sessionize.SessionOut) =
      (x.user_id, x.session_start.getTime, x.session_end.getTime,
        x.n_events, x.n_types, x.closed_by, math.round(x.sum_value * 1e6))
    val a = Sessionize.sessions(ev, gap, flushOpen = true).collect().map(key).sorted
    val b = Sessionize.sessionsBatch(ev, gap).collect().map(key).sorted
    assert(a.nonEmpty && a.length == b.length)
    assert(a.toSeq == b.toSeq)
    // the hot key produced many sessions, all accounted
    val hotSessions = Sessionize.sessionsBatch(ev, gap).where(col("user_id") === -1L).collect()
    assert(hotSessions.map(_.n_events).sum == 5000L)
    assert(hotSessions.length == 100) // 5000 events / 50-event sessions
  }

  test("ExternalEventSorter: spills past the buffer bound, merge equals full sort") {
    import graft.streaming.{ExternalEventSorter, Sessionize}
    val rnd = new scala.util.Random(42)
    val events = (0 until 20000).map { i =>
      Sessionize.Event(7L, new java.sql.Timestamp(rnd.nextInt(1000000).toLong),
        s"t${rnd.nextInt(5)}", i * 0.25)
    }
    val sorter = new ExternalEventSorter(512) // force ~39 spilled runs
    val got = sorter.sorted(events.iterator).toVector
    assert(sorter.nSpilledRuns > 10, s"expected spills, got ${sorter.nSpilledRuns}")
    assert(got.size == events.size)
    val keys = got.map(e => (e.ts.getTime, e.event_type))
    assert(keys == keys.sorted) // globally ordered despite chunked runs
    // multiset equality with the input (no event lost or duplicated)
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ==
      events.groupBy(identity).view.mapValues(_.size).toMap)
    // in-memory fast path: no spill, same contract
    val small = new ExternalEventSorter(1 << 20)
    assert(small.sorted(events.take(100).iterator).toVector
      .map(e => (e.ts.getTime, e.event_type)).sliding(2).forall(p => p.size < 2 ||
        Ordering[(Long, String)].lteq(p(0), p(1))))
    assert(small.nSpilledRuns == 0)
  }

  test("sessions hot key: bounded buffer (forced spills) matches unbounded result") {
    import graft.streaming.Sessionize
    val s = spark
    import s.implicits._
    // one hot user whose slice (10k events) far exceeds the 256-event
    // buffer — the guard must spill-sort, not materialize the slice
    val hot = {
      var t = 0L
      (0 until 10000).map { i =>
        if (i > 0) t += (if (i % 100 == 0) 7200000L else 500L)
        Sessionize.Event(-9L, new java.sql.Timestamp(t), s"t${i % 4}", 1.0)
      }
    }
    val ev = new scala.util.Random(7).shuffle(hot).toDS().repartition(1)
    val gap = 60 * 60 * 1000L
    def key(x: Sessionize.SessionOut) =
      (x.user_id, x.session_start.getTime, x.session_end.getTime,
        x.n_events, x.n_types, x.closed_by)
    val bounded = Sessionize.sessions(ev, gap, flushOpen = true, maxBuffered = 256)
      .collect().map(key).sorted.toSeq
    val reference = Sessionize.sessions(ev, gap, flushOpen = true)
      .collect().map(key).sorted.toSeq
    assert(bounded == reference)
    assert(bounded.length == 100) // 10000 events / 100-event sessions
    assert(bounded.map(_._4).sum == 10000L)
  }

  test("stream-static enrichment join: stateless, matches the batch join exactly") {
    val sf = "/root/testdata/sf0.001"
    val ev = Tables.eventsStream(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val q = StreamIngest.enrichStream(ev, dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // stateless: an enrichment join must not create a state store
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0L))
    val got = spark.table("enrich_out")
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = Tables.events(spark, sf)
      .join(Tables.customer(spark, sf), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sv"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty && got == want)
    spark.catalog.dropTempView("enrich_out")
  }

  test("windowed event counts with watermark produce bounded-state plan") {
    // batch-mode check of the same transformation (streaming plan tested
    // via the analyzer accepting watermark + window grouping)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val out = StreamIngest.windowedEventCounts(ev)
    assert(out.columns.toSeq ==
      Seq("window_start", "window_end", "event_type", "n_events", "sum_value"))
    assert(out.count() > 0)
    val sess = StreamIngest.sessionizedEvents(ev)
    assert(sess.count() > 0)
  }

  test("stateful CDC apply killed mid-delivery resumes from checkpoint: state continues, not restarts") {
    // r9 verdict item 6: q54 proves checkpoint resume for STATELESS
    // ingest; this drives the STATEFUL class (flatMapGroupsWithState)
    // through a mid-delivery stop — the checkpointed state store, not
    // just the source offsets, must survive the restart. The q103
    // counter contract is the detector: Σ_key max(n_applied) == total
    // log rows holds ONLY if per-key state continued across the stop
    // (a re-initialized state undercounts keys touched before the kill;
    // a reprocessed batch overcounts them).
    import graft.streaming.CdcApply
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    val dir = s"$base/cdc_resume"
    val tiers = graft.ops.Reconcile.changeLogTiers(
      Tables.orders(spark, "/root/testdata/sf0.001"))
    tiers.foreach(_.coalesce(1).write.mode("append").parquet(s"$dir/log"))
    val totalLog = spark.read.parquet(s"$dir/log").count()
    def startRun() = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CdcApply.Change].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/log").as[CdcApply.Change]
      CdcApply.applyStream(stream)
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    // phase 1: stop as soon as the 2nd of 6 single-file micro-batches
    // has committed — a stop in the middle of the log, possibly with a
    // batch in flight (whose rollback the resume must handle)
    val q1 = startRun()
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (q1.isActive && System.nanoTime() < deadline &&
      (q1.lastProgress == null || q1.lastProgress.batchId < 1)) Thread.sleep(10)
    q1.stop(); q1.awaitTermination(60000)
    def appliedSum(): Long = {
      val out = spark.read.parquet(s"$dir/out") // FileStreamSink metadata: committed files only
      out.groupBy(col("o_orderkey")).agg(max(col("n_applied")).as("na"))
        .agg(sum(col("na"))).head.getLong(0)
    }
    val phase1 = appliedSum()
    assert(phase1 < totalLog,
      s"stop was not mid-delivery (phase1=$phase1, total=$totalLog) — kill landed too late")
    // phase 2: re-open the same checkpoint; AvailableNow drains the rest
    val q2 = startRun()
    assert(q2.awaitTermination(300000), "resumed stream missed deadline")
    assert(appliedSum() == totalLog,
      "per-key counters do not sum to the log: state reset or batch replayed")
    // and the resumed snapshot equals the single-shot batch apply
    val streamed = spark.read.parquet(s"$dir/out")
      .groupBy(col("o_orderkey")).agg(
        max_by(struct(col("version"), col("op"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")), col("n_applied")).as("w"))
      .select(col("o_orderkey"), col("w.*"))
    val batch = CdcApply.applyStream(
        spark.read.parquet(s"$dir/log").as[CdcApply.Change])
      .drop("n_applied")
    assert(streamed.exceptAll(batch.toDF()).isEmpty &&
      batch.toDF().exceptAll(streamed).isEmpty,
      "resumed streaming snapshot differs from batch apply")
  }

  test("deliverWaves: micro-batch i of a maxFilesPerTrigger=1 stream holds exactly wave i") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val s = spark
    import s.implicits._
    val dir = s"$base/waves"
    // disjoint keys per wave; the waves are written concurrently, so
    // only the delivery fixes which one the source takes first
    val keys = (0 until 3).map(i => (i * 100L until i * 100L + 20L).toSet)
    val in = graft.ops.Pipelines.deliverWaves(spark, dir, keys.map(_.toSeq.toDF("k")))
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]()
    val q = spark.readStream.schema(StructType(Seq(StructField("k", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
        seen.put(batchId, batch.as[Long].collect().toSet); ()
      }.option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "wave stream missed its deadline")
    val got = (0L until seen.size).map(seen.get)
    assert(seen.size == 3 && got == keys, s"micro-batches $got, waves $keys")
  }

  test("rolling-anomaly ring: scores match the batch frame, ring trims to 7") {
    import graft.streaming.RollingAnomaly.{stepDays, Ring}
    // 8 constant days then a spike, delivered in two waves: the spike's
    // score must use the ring carried across the wave boundary
    val wave1 = (1L to 5L).map(d => (d, 5L))
    val wave2 = Seq((6L, 5L), (7L, 5L), (8L, 5L), (9L, 50L))
    val (f1, r1) = stepDays(1L, Ring(Nil, Nil), wave1)
    assert(f1.forall(_.anomaly.isEmpty)) // frames 0..4 all partial
    val (f2, r2) = stepDays(1L, r1, wave2)
    val byDay = f2.map(f => f.day -> f).toMap
    assert(byDay(8L).anomaly.contains(false)) // first full frame, constant
    assert(byDay(9L).anomaly.contains(true))  // the spike
    assert(r2.days == (3L to 9L) && r2.counts.size == 7) // trimmed ring
  }

  test("rolling-anomaly ring: an out-of-order day fails loud") {
    import graft.streaming.RollingAnomaly.{stepDays, Ring}
    val (_, r) = stepDays(1L, Ring(Nil, Nil), Seq((5L, 1L)))
    val e = intercept[IllegalStateException](stepDays(1L, r, Seq((5L, 2L))))
    assert(e.getMessage.contains("ascending"))
  }
}
