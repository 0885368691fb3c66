package graft

import graft.ops._
import graft.pipeline.BatchingSink
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Spark specs on sf0.001 (~6k lineitem rows) — pipelines,
  * dedup, similarity — asserting the invariants the DuckDB oracle can't
  * (file round-trips, quoted-bit semantics, LSH recall vs the exact
  * baseline, budget aborts). */
class PipelineSparkSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("csv round-trip is lossless (internal signature check throws on mismatch)") {
    // csvRoundtrip REQUIREs src-signature == read-back-signature internally;
    // reaching the summary row at all is the losslessness assertion
    val row = Pipelines.csvRoundtrip(spark, sf).collect().head
    assert(row.getAs[Long]("n_source") > 0)
    assert(row.getAs[Long]("n_source") == row.getAs[Long]("n_roundtrip"))
    assert(row.getAs[Long]("digest") > 0L)
  }

  test("quote-dominance: tagged inference histogram is the expected single row") {
    val rows = Pipelines.taggedInference(spark, sf).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("k_tag") == "long")      // unquoted int
    assert(r.getAs[String]("kq_tag") == "string")   // same value quoted
    assert(r.getAs[String]("price_tag") == "string")// no-float rule
    assert(r.getAs[String]("flag_tag") == "bool")
    assert(r.getAs[String]("null_tag") == "null")
  }

  test("LSH near-dup candidates are a subset of exact jaccard>=0.5 pairs, with recall") {
    val exact = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(exact.nonEmpty)
    // est_jaccard >= 0.5 can include borderline pairs the exact filter
    // excludes; the planted near-identical pairs must all be found
    assert((exact -- lsh).isEmpty, s"LSH missed exact pairs: ${exact -- lsh}")
  }

  test("batching sink commits every row incl. tail batch; retry recovers") {
    val df = Tables.orders(spark, sf).select("o_orderkey")
    val n = df.count()
    val committed = spark.sparkContext.longAccumulator("committed")
    val failed = spark.sparkContext.longAccumulator("failedBatches")
    BatchingSink.runWith[Unit](df, CopyConfig(chunkSize = 100, maxAttempts = 3, backoffMs = 0),
      () => (), (_, batch) => committed.add(batch.size.toLong), _ => (), failed)
    assert(committed.value == n)
    assert(failed.value == 0L)
  }

  test("runWith: one resource per partition, recycled on failure, all closed") {
    val df = Tables.orders(spark, sf).select("o_orderkey").repartition(4)
    val n = df.count()
    val opens = spark.sparkContext.longAccumulator("opens")
    val closes = spark.sparkContext.longAccumulator("closes")
    val committed = spark.sparkContext.longAccumulator("committedW")
    val failed = spark.sparkContext.longAccumulator("failedW")
    // per-task mutable state: each task deserializes its own copy
    class Flaky extends ((Unit, Seq[org.apache.spark.sql.Row]) => Unit) with Serializable {
      var failedOnce = false
      def apply(r: Unit, batch: Seq[org.apache.spark.sql.Row]): Unit = {
        if (!failedOnce) { failedOnce = true; sys.error("transient sink hiccup") }
        committed.add(batch.size.toLong)
      }
    }
    BatchingSink.runWith[Unit](df,
      CopyConfig(chunkSize = 100, maxAttempts = 3, backoffMs = 0),
      () => opens.add(1L), new Flaky, _ => closes.add(1L), failed)
    assert(committed.value == n) // retry recovered every row
    assert(failed.value == 0L)
    assert(opens.value == closes.value, "every opened resource is closed")
    // per partition: 1 lazy open + 1 reopen after the transient failure
    assert(opens.value == 8L, s"expected 2 opens x 4 partitions, got ${opens.value}")
  }

  test("insert-error budget actually aborts (reference bug #4 fixed)") {
    val df = Tables.orders(spark, sf).select("o_orderkey").limit(500)
    val failed = spark.sparkContext.longAccumulator("failedBatches2")
    val ex = intercept[Exception] {
      BatchingSink.runWith[Unit](df,
        CopyConfig(chunkSize = 100, maxAttempts = 1, backoffMs = 0, maxInsertErrors = 0),
        () => (), (_, _) => sys.error("sink down"), _ => (), failed)
    }
    def allMessages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + allMessages(t.getCause)
    assert(allMessages(ex).contains("insert-error budget") || failed.value > 0)
  }

  test("parse-error budget counts malformed records and aborts past budget") {
    val s = spark
    import s.implicits._
    val lines = (Seq("1,ok", "bad\"row,x", "2,\"fine\"") ++ Seq.fill(3)("oops\"")).toDS()
    val cfg = CopyConfig(maxParseErrors = 1)
    val (parsed, errs) = graft.pipeline.CopyWrite.parseRecords(lines, cfg)
    assert(parsed.count() == 2) // the two well-formed rows survive
    intercept[IllegalStateException](errs.check())
  }

  test("pool failure: siblings are stopped before the failure surfaces") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val running = new AtomicInteger(0)
    val sleeperUp = new CountDownLatch(1)
    @volatile var sparkOutcome = "not run"
    def sibling(body: => Unit): () => Unit = () => {
      running.incrementAndGet()
      try body finally running.decrementAndGet()
    }
    val sleeper = sibling { sleeperUp.countDown(); Thread.sleep(120000L) }
    // a Spark job whose one task runs until it is killed (or 120 s pass)
    val sparkJob = sibling {
      try {
        spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
          PoolProbe.taskLive.incrementAndGet()
          try {
            PoolProbe.taskStarted.countDown()
            val ctx = org.apache.spark.TaskContext.get()
            val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
            while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
          } finally PoolProbe.taskLive.decrementAndGet()
        }
        sparkOutcome = "completed"
      } catch { case t: Throwable => sparkOutcome = t.getClass.getSimpleName; throw t }
    }
    val failing = () => {
      sleeperUp.await(60, TimeUnit.SECONDS)
      PoolProbe.taskStarted.await(60, TimeUnit.SECONDS)
      throw new IllegalStateException("injected")
    }
    val e = intercept[IllegalStateException] {
      Pipelines.runConcurrently(spark, 3)(Seq(sleeper, sparkJob, failing))
    }
    assert(e.getMessage == "injected")
    assert(running.get == 0, "a sibling job was still running when the failure surfaced")
    assert(sparkOutcome != "completed" && sparkOutcome != "not run", sparkOutcome)
    // the cancelled Spark job's task is killed, not left to its 120 s bound
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (PoolProbe.taskLive.get > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(PoolProbe.taskLive.get == 0)
    // without a failure, each job's value comes back in submission order,
    // although the first job finishes last
    val secondDone = new CountDownLatch(1)
    val values = Pipelines.runConcurrently(spark, 3)(Seq(
      () => { secondDone.await(60, TimeUnit.SECONDS); spark.range(10).count() },
      () => try spark.range(3).count() finally secondDone.countDown(),
      () => 7L))
    assert(values == Seq(10L, 3L, 7L))
  }

  test("CLI typed jdbc round-trip: CSV -> Derby typed DDL -> CSV preserves types") {
    val base = new java.io.File(Scratch.unique("cli_typed")).getAbsolutePath
    val csvIn = s"$base/in"
    new java.io.File(csvIn).mkdirs()
    val lines = Seq(
      "1,\"alpha\",3.5,true,2024-01-02 03:04:05+0000",
      "2,\"beta, with comma\",-0.25,false,2024-06-07 08:09:10+0000",
      "3,\"gamma \"\"q\"\"\",12.0,true,2024-12-31 23:59:59+0000")
    val pw = new java.io.PrintWriter(s"$csvIn/part-0.csv")
    lines.foreach(pw.println); pw.close()
    val url = graft.sources.JdbcBackend.derbyUrl(s"$base/db")
    // write verb with DECLARED types → typed decode + typed DDL
    Cli.run(Array("write", "cli_rt",
      "id:long,name:string,score:double,flag:bool,ts:timestamp",
      "--in", csvIn, "--out", url), spark)
    val conn = java.sql.DriverManager.getConnection(url)
    val md = conn.getMetaData.getColumns(null, null, "CLI_RT", null)
    val types = scala.collection.mutable.Map[String, String]()
    while (md.next())
      types(md.getString("COLUMN_NAME").toLowerCase) = md.getString("TYPE_NAME")
    conn.close()
    assert(types("id") == "BIGINT" && types("score") == "DOUBLE"
      && types("flag") == "BOOLEAN" && types("ts") == "TIMESTAMP"
      && types("name").startsWith("VARCHAR"))
    // read verb: Derby → CSV; typed quoting must reproduce the input
    val csvOut = s"$base/out"
    Cli.run(Array("read", "cli_rt", "id,name,score,flag,ts",
      "--in", url, "--out", csvOut), spark)
    val out = spark.read.textFile(csvOut).collect().sorted
    assert(out.toSeq == lines)
    // read verb with DECLARED types (symmetric with write): casts apply
    // before rendering, so the typed export contract holds even when the
    // source surfaces different types — same bytes out here
    val csvOutTyped = s"$base/out_typed"
    Cli.run(Array("read", "cli_rt",
      "id:long,name:string,score:double,flag:bool,ts:timestamp",
      "--in", url, "--out", csvOutTyped), spark)
    assert(spark.read.textFile(csvOutTyped).collect().sorted.toSeq == lines)
  }

  test("read verb cast accounting: nulled cells counted in the export pass, budget enforced") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-readcast").toString
    Seq(("1", "10"), ("2", "oops"), ("3", "30"))
      .toDF("id", "v").write.parquet(s"$base/src")
    // budget 0, one unconvertible cell → the export must fail loudly
    val err = intercept[RuntimeException] {
      Cli.run(Array("read", "t", "id:long,v:long",
        "--in", s"$base/src", "--out", s"$base/out1",
        "--max-parse-errors", "0"), spark)
    }
    assert(err.getMessage.contains("cast-error budget exceeded"))
    // unlimited budget → exports, the bad cell as the NULL literal
    Cli.run(Array("read", "t", "id:long,v:long",
      "--in", s"$base/src", "--out", s"$base/out2"), spark)
    val out = spark.read.textFile(s"$base/out2").collect().sorted.toSeq
    assert(out.exists(_.contains("NULL")), s"expected a NULL literal in $out")
    assert(out.size == 3)
  }

  test("approx_count_distinct stays within the configured 2% rsd envelope") {
    // raw estimate magnitude (the gate face q14 emits only the exact
    // count + the within-10% contract flag, oracle-asserted TRUE)
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"approx=$approx exact=$exact drift too large")
    }
    // and the gate face's flag is true on this corpus
    val face = Relational.approxDistinctUsers(spark, sf).collect()
    assert(face.nonEmpty && face.forall(_.getAs[Boolean]("within_10pct")))
  }

  test("approxQuantiles: rank error within the TIGHT 1/accuracy bound; gate flags true") {
    import org.apache.spark.sql.functions._
    val acc = 1000
    val price = col("l_extendedprice")
    val li = Tables.lineitem(spark, sf).select(price)
    val n = li.count()
    val qs = li.agg(percentile_approx(price, array(lit(0.5), lit(0.95)), lit(acc)))
      .head.getSeq[Double](0)
    for ((p, av) <- Seq(0.5 -> qs(0), 0.95 -> qs(1))) {
      val rank = li.where(price <= av).count()
      // the documented GK guarantee (the gate face allows 2x headroom)
      assert(math.abs(rank - p * n) <= n.toDouble / acc + 1,
        s"p=$p rank=$rank target=${p * n} n=$n")
    }
    val face = Relational.approxQuantiles(spark, sf).collect()
    assert(face.length == 1 && face.head.getBoolean(1) && face.head.getBoolean(2))
  }

  test("count-min sketch: est >= exact and within the epsilon*N bound") {
    import org.apache.spark.sql.functions._
    val rows = Relational.cmsUserFrequency(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.events(spark, sf).count()
    rows.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact_n"), r.getAs[Long]("est_n"))
      assert(est >= exact, s"CMS must never underestimate: $r")
      assert(est <= exact + (0.001 * n).toLong + 1, s"CMS above eps*N bound: $r (n=$n)")
    }
  }

  test("portable CMS: est >= exact, within the eps*N envelope, min-over-rows identity") {
    import org.apache.spark.sql.functions._
    val rows = Relational.cmsFrequencyPortable(spark, sf).collect()
    assert(rows.length == 5)
    val n = Tables.events(spark, sf).count()
    rows.foreach { r =>
      val (exact, est) = (r.getAs[Long]("exact_n"), r.getAs[Long]("est_n"))
      assert(est >= exact, s"CMS must never underestimate: $r")
      // depth-5/width-2048 classic bound: overshoot ~ N/width per row,
      // min over rows far tighter; 4x slack keeps the spec non-flaky
      assert(est <= exact + 4 * n / 2048 + 1, s"est too loose: $r (n=$n)")
    }
  }

  test("portable HLL: estimate within 6% of exact per event_type") {
    val rows = Relational.hllPortable(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Double]("approx_users")
      val exact = r.getAs[Long]("exact_users").toDouble
      // m=1024 → standard error 1.04/sqrt(m) ≈ 3.3%; allow ~2 sigma
      assert(math.abs(approx - exact) / exact <= 0.065,
        s"approx=$approx exact=$exact drift too large")
    }
  }

  test("batch progress listener counts written rows") {
    val rep = new graft.pipeline.BatchProgressListener(
      CopyConfig(reportFrequencyMs = 100), _ => ())
    rep.start(spark)
    val out = Scratch.unique("progress")
    try {
      val df = Tables.orders(spark, sf).select("o_orderkey")
      val n = df.count()
      df.write.mode("overwrite").parquet(out)
      // listener events are delivered async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (rep.rowsDone < n && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(rep.rowsDone == n, s"listener saw ${rep.rowsDone}, wrote $n")
    } finally rep.stop()
  }

  test("cli flag parsing maps the reference flag surface") {
    val (cfg, other) = Cli.parseFlags(Seq(
      "--header", "--null", "-", "--bool-style", "yes,no", "--chunk-size", "500",
      "--max-parse-errors", "3", "--offset", "42", "--with-doubles",
      "--in", "/a", "--out", "/b"))
    assert(cfg.header && cfg.nullValue == "-" && cfg.trueValue == "yes")
    assert(cfg.withDoubles)
    assert(cfg.chunkSize == 500 && cfg.maxParseErrors == 3 && cfg.offset == 42L)
    assert(other == Map("in" -> "/a", "out" -> "/b"))
  }

  test("salted join is row-equivalent to the plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, "l_orderkey")
    val salted = ops.SkewJoin.saltedJoin(li, o, "l_orderkey", 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.toSeq == plain.columns.sorted.toSeq)
    // multiset equality via counts per full row
    val a = plain.groupBy(plain.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*).count()
    val b = salted.groupBy(salted.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*).count()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("hot-key split join is row-equivalent to the plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val hot = li.groupBy("l_orderkey").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc).limit(3)
      .collect().map(_.getLong(0)).toSeq
    val plain = li.join(o, "l_orderkey")
    val split = ops.SkewJoin.hotKeySplitJoin(li, o, "l_orderkey", hot)
    assert(split.count() == plain.count())
  }

  test("simhash banding is complete for its own metric (all Hamming<=5 pairs found)") {
    import org.apache.spark.sql.functions._
    val banded = Dedup.simhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    // brute-force ground truth over all pairs (fine at sf0.001)
    val sig = Dedup.simhash(spark, sf)
    val a = sig.select(col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = sig.select(col("doc_id").as("d2"), col("simhash").as("s2"))
    val exact = a.join(b, col("d1") < col("d2"))
      .where(bit_count(col("s1").bitwiseXOR(col("s2"))) <= 5)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(exact.nonEmpty)
    assert(banded == exact, // pigeonhole guarantee: banding loses nothing <= 5
      s"missed: ${exact -- banded}; spurious: ${banded -- exact}")
  }

  test("winnowing: shared-run pairs overlap the jaccard near-dups") {
    val winnow = TextAnalysis.winnowPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    val exact = Dedup.jaccardPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(winnow.nonEmpty)
    // near-identical docs share long runs → winnowing must find them
    assert((exact -- winnow).isEmpty, s"winnowing missed: ${exact -- winnow}")
  }

  test("partitioned write + partition-pruned read") {
    val out = Scratch.unique("part")
    Tables.events(spark, sf).write.partitionBy("event_type").parquet(out)
    val df = spark.read.parquet(out)
      .where(org.apache.spark.sql.functions.col("event_type") === "click")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString()
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"), scan)
    val expected = Tables.events(spark, sf)
      .where(org.apache.spark.sql.functions.col("event_type") === "click").count()
    assert(df.count() == expected)
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions.col
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // files persist — clear the locations too
    for (t <- Seq("orders_b", "customer_b")) {
      val p = new org.apache.hadoop.fs.Path(wh, t)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_b")
    Tables.customer(spark, sf).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_b")
    val joined = spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString()
    // co-located bucketing: sort-merge join with NO shuffle exchange
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() ==
      Tables.orders(spark, sf).join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey")).count())
    assert(wh != null)
  }

  test("ivf topk returns ranked neighbors per probe") {
    val rows = Similarity.ivfTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.head == 1 && ranks.length <= 10)
    }
  }

  test("quantized ivf topk: integer dots, ranked per probe, in-cell results only") {
    val rows = Similarity.ivfTopKQuantized(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.head.getAs[Int]("rank") == 1 && sorted.length <= 10)
      // dots are non-increasing with rank (exact integer ordering)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("dot") >= b.getAs[Long]("dot"), s"probe $qid")
        case _ =>
      }
      assert(!sorted.exists(_.getAs[Long]("cid") == qid), "probe returned itself")
    }
  }

  test("ANN LSH pairs: exact precision vs the FULL all-pairs baseline") {
    // the gate's q41 is a deterministic subsample; the spec drives the
    // full O(n²) baseline at small SF — every LSH-surfaced pair must
    // appear in the exact set with the identical rounded cosine
    val exact = Similarity.cosinePairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("cos")).toMap
    val ann = Similarity.annLshPairs(spark, sf).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val k = (r.getAs[Long]("id1"), r.getAs[Long]("id2"))
      assert(exact.get(k).contains(r.getAs[Double]("cos")),
        s"ANN pair $k not in exact baseline (or cosine differs)")
    }
  }

  test("LSH band width sizes to corpus: floor at driver SFs, grows with n") {
    // every driver-checked corpus (n<=2000) must land on the oracle's
    // literal 4-bit config; beyond that occupancy stays ~constant
    assert(Similarity.bitsForCorpus(500) == 4)
    assert(Similarity.bitsForCorpus(2000) == 4)
    assert(Similarity.bitsForCorpus(20000) == 8)   // synthetic sf1
    assert(Similarity.bitsForCorpus(2000000) == 14)
    // wider bands must not surface pairs outside the exact baseline
    val exact = Similarity.cosinePairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("cos")).toMap
    val wide = Similarity.annLshPairs(spark, sf, bitsPerBand = 6).collect()
    wide.foreach { r =>
      val k = (r.getAs[Long]("id1"), r.getAs[Long]("id2"))
      assert(exact.get(k).contains(r.getAs[Double]("cos")))
    }
  }

  test("q41 gate subsample equals the full baseline restricted to the subset") {
    val full = Similarity.cosinePairs(spark, sf).collect()
      .filter(r => r.getAs[Long]("id1") % 2 == 0 && r.getAs[Long]("id2") % 2 == 0)
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("cos"))).toSet
    val sampled = Similarity.cosinePairs(spark, sf, modSample = 2).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("cos"))).toSet
    assert(sampled == full)
  }

  test("q41 auto stride: constant pair budget — floors at driver SFs, grows with n") {
    // every driver-checked corpus (n<=2000) lands on the oracle's
    // `vec_id % 2` literal; beyond that the sampled set stays ~constant
    assert(Similarity.modSampleForCorpus(500) == 2)
    assert(Similarity.modSampleForCorpus(2000) == 2)
    assert(Similarity.modSampleForCorpus(20000) == 20)    // synthetic sf1
    assert(Similarity.modSampleForCorpus(2000000) == 2000)
    for (n <- Seq(2000L, 20000L, 2000000L))
      assert(n / Similarity.modSampleForCorpus(n) <= Similarity.TargetSample)
    // at driver SFs the auto face IS the oracle-checked 1-in-2 subset
    val auto = Similarity.cosinePairsAuto(spark, sf).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("cos"))).toSet
    val fixed = Similarity.cosinePairs(spark, sf, modSample = 2).collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"), r.getAs[Double]("cos"))).toSet
    assert(auto == fixed)
    val autoKeep = Similarity.cosineDedupAuto(spark, sf).collect().map(_.getLong(0)).toSet
    val fixedKeep = Similarity.cosineDedup(spark, sf, modSample = 2)
      .collect().map(_.getLong(0)).toSet
    assert(autoKeep == fixedKeep)
  }

  test("SharedPlans.cachedCount runs the sizing job once per (session, key)") {
    var calls = 0
    def get() = SharedPlans.cachedCount(spark, "spec-sizing-key") { calls += 1; 42L }
    assert(get() == 42L)
    assert(get() == 42L)
    assert(calls == 1)
  }

  test("JDBC (Derby) round-trip through the batching sink is lossless") {
    import org.apache.spark.sql.functions._
    val db = new java.io.File(Scratch.unique("derby_spec")).getAbsolutePath
    val u = graft.sources.JdbcBackend.derbyUrl(db)
    val src = Tables.supplier(spark, sf)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .repartition(4)
    graft.sources.JdbcBackend.writeTable(src, u, "sup_rt", CopyConfig(chunkSize = 100))
    val back = graft.sources.JdbcBackend.readTable(spark, u, "sup_rt")
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    assert(back.count() == src.count())
    // order-insensitive multiset compare via per-row hash sum
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head.getDecimal(0)
    assert(sig(src).compareTo(sig(back)) == 0)
    // partitioned read path (the token-range analog) sees the same rows
    val maxKey = src.agg(max(col("s_suppkey"))).head.getLong(0)
    val part = graft.sources.JdbcBackend.readTable(spark, u, "sup_rt",
      partitionColumn = Some("s_suppkey"), lowerBound = 0L,
      upperBound = maxKey + 1, numPartitions = 4)
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == src.count())
  }

  test("cosine dedup: keep-list drops exactly the id2 side of near-dup pairs") {
    import org.apache.spark.sql.functions._
    val kept = Similarity.cosineDedup(spark, sf).collect().map(_.getLong(0)).toSet
    val all = Tables.embeddings(spark, sf).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val pairs = Similarity.cosinePairs(spark, sf).collect()
    val dropped = pairs.map(_.getAs[Long]("id2")).toSet
    assert(kept == all -- dropped)
    // every dropped vec has a kept (or earlier-dropped) smaller near-dup;
    // no kept vec appears as the larger side of any pair
    assert(kept.intersect(dropped).isEmpty)
    // the LSH-sourced variant (the scale path) keeps a superset: banding
    // can only MISS pairs, so it never drops a vector the exact path keeps
    val keptLsh = Similarity.cosineDedup(spark, sf, exact = false)
      .collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(keptLsh))
  }

  test("text near-dedup keep-list: exact policy holds; LSH variant accounted") {
    import org.apache.spark.sql.functions._
    val kept = Dedup.nearDedup(spark, sf).collect().map(_.getLong(0)).toSet
    val all = Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val dropped = Dedup.jaccardPairs(spark, sf).collect().map(_.getAs[Long]("d2")).toSet
    assert(kept == all -- dropped)
    // the LSH-sourced keep-list may differ only on pairs whose estimated
    // jaccard crosses 0.5 differently from the true jaccard; every doc is
    // still either kept or dropped by a smaller near-dup, never lost
    val keptLsh = Dedup.nearDedup(spark, sf, exact = false)
      .collect().map(_.getLong(0)).toSet
    val droppedLsh = Dedup.minhashLshPairs(spark, sf).collect()
      .map(_.getAs[Long]("d2")).toSet
    assert(keptLsh == all -- droppedLsh)
  }

  test("jaccard maxDf cap changes nothing when no shingle exceeds it (and bounds the join)") {
    // at test SFs the max shingle df is ~25, so cap=100 must be a no-op on
    // RESULTS (the plan-level point of the cap is join-volume bounding);
    // a tight cap=1 must still run and only shrink the pair set
    val capped = Dedup.jaccardPairs(spark, sf, maxDf = 100).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Double]("jaccard"))).toSet
    val uncapped = Dedup.jaccardPairs(spark, sf, maxDf = Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Double]("jaccard"))).toSet
    assert(capped == uncapped)
    val tight = Dedup.jaccardPairs(spark, sf, maxDf = 1).collect()
    assert(tight.length <= capped.size)
  }

  test("schemaDrift (q148): corrupted numeric column flips long->string, nulls don't flip the ts column") {
    val rows = graft.ops.Pipelines.schemaDrift(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(rows.keySet == Set("c1", "c2", "c3"))
    val orders = graft.Tables.orders(spark, sf)
    val nA = orders.where(
      org.apache.spark.sql.functions.col("o_orderkey") % 10 =!= 0).count()
    val nB = orders.where(
      org.apache.spark.sql.functions.col("o_orderkey") % 10 =!= 1).count()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_a") == nA && r.getAs[Long]("n_b") == nB)
    }
    // the drift: batch B's every-97th 'hello' downgrades c1 to string
    assert(rows("c1").getAs[String]("type_a") == "long")
    assert(rows("c1").getAs[String]("type_b") == "string")
    assert(rows("c1").getAs[Boolean]("changed"))
    // booleans unchanged
    assert(rows("c2").getAs[String]("type_a") == "bool")
    assert(rows("c2").getAs[String]("type_b") == "bool")
    assert(!rows("c2").getAs[Boolean]("changed"))
    // NULL cells appear in c3's batch B but must NOT flip its type
    assert(rows("c3").getAs[Long]("n_null_b") > 0)
    assert(rows("c3").getAs[Long]("n_null_a") == 0)
    assert(rows("c3").getAs[String]("type_a") == "ts")
    assert(rows("c3").getAs[String]("type_b") == "ts")
    assert(!rows("c3").getAs[Boolean]("changed"))
  }
}

/** JVM-wide handles for the pool-failure spec's Spark task (a local
  * master runs tasks in the driver JVM). */
private object PoolProbe {
  val taskStarted = new java.util.concurrent.CountDownLatch(1)
  val taskLive = new java.util.concurrent.atomic.AtomicInteger(0)
}
