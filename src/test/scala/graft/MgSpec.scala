package graft

import graft.functions.MgAgg.mgSketch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the Misra–Gries frequent-items sketch (q104): the theorem's
  * three clauses exercised where the gate corpus can't isolate them —
  * exact passthrough below capacity (the only order-INdependent value
  * regime), the guaranteed-hit + underestimate + N/(cap+1) bound on an
  * adversarial Zipf stream across hostile partition layouts, and
  * serialization round-trip through real shuffles. */
class MgSpec extends AnyFunSuite with SparkFixture {

  private def sketch(keys: Seq[String], cap: Int, parts: Int = 4): Map[String, Long] = {
    val s = spark
    import s.implicits._
    keys.toDF("k").repartition(parts)
      .agg(mgSketch(col("k"), cap).as("sk"))
      .collect().head.getMap[String, Long](0).toMap
  }

  test("mg: below capacity the sketch IS the exact frequency table, any layout") {
    val keys = (1 to 50).flatMap(i => Seq.fill(i)(s"w$i"))
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sketch(keys, cap = 64) == exact)
    assert(sketch(keys, cap = 64, parts = 13) == exact)
    assert(sketch(keys, cap = 64, parts = 1) == exact)
  }

  test("mg: guaranteed hit + underestimate + bound on a Zipf stream, hostile layouts") {
    // Zipf-ish: word i appears 2000/i times, i in 1..400 — far over any
    // small capacity, with genuine heavy hitters at the head
    val keys = (1 to 400).flatMap(i => Seq.fill(2000 / i)(f"w$i%03d"))
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = keys.size.toLong
    for (cap <- Seq(8, 32); parts <- Seq(1, 4, 13)) {
      val sk = sketch(scala.util.Random.shuffle(keys), cap, parts)
      assert(sk.size <= cap, s"cap=$cap parts=$parts size=${sk.size}")
      val bound = n / (cap + 1)
      exact.foreach { case (w, f) =>
        val est = sk.getOrElse(w, 0L)
        assert(est <= f, s"overestimate: $w est=$est f=$f")
        assert(est >= f - bound, s"bound breach: $w est=$est f=$f bound=$bound")
        if (f > bound)
          assert(sk.contains(w), s"missing heavy hitter $w (f=$f > $bound)")
      }
    }
  }

  test("mg: survives a real shuffle (per-group sketches, grouped agg)") {
    val s = spark
    import s.implicits._
    // two groups with disjoint exact-regime streams: grouped aggregation
    // must keep buffers separate through serialize/deserialize
    val rows = (1 to 30).flatMap(i => Seq.fill(i)(("a", s"x$i"))) ++
      (1 to 30).flatMap(i => Seq.fill(31 - i)(("b", s"y$i")))
    val got = rows.toDF("g", "k").repartition(7)
      .groupBy("g").agg(mgSketch(col("k"), 64).as("sk"))
      .collect().map(r => r.getString(0) -> r.getMap[String, Long](1).toMap).toMap
    assert(got("a") == (1 to 30).map(i => s"x$i" -> i.toLong).toMap)
    assert(got("b") == (1 to 30).map(i => s"y$i" -> (31 - i).toLong).toMap)
  }

  test("mg gate face (q104): flags all true, guaranteed set named, at sf0.001") {
    val rows = graft.ops.Relational.mgHeavyHitters(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty, "guaranteed-hit set empty at sf0.001 — raise cap")
    rows.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5),
        s"contract flag false for ${r.getString(0)}")
    }
  }

  test("streaming mg (q111): 3 micro-batches, count parity, flags all true") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.ops.Pipelines.streamHeavyHitters(spark, sf).collect()
    assert(rows.nonEmpty)
    // n_total parity with the batch corpus proves no micro-batch was
    // dropped or double-counted through the state restore
    val s = spark
    val exactTotal = graft.Tables.documents(s, sf)
      .select(org.apache.spark.sql.functions.explode(
        graft.ops.TextAnalysis.words(org.apache.spark.sql.functions.col("text"))))
      .count()
    assert(rows.head.getLong(2) == exactTotal,
      s"stream n_total ${rows.head.getLong(2)} != corpus tokens $exactTotal")
    rows.foreach { r =>
      assert(r.getBoolean(3) && r.getBoolean(4) && r.getBoolean(5),
        s"contract flag false for ${r.getString(0)} in streamed sketch")
    }
    // the delivery really was multi-batch: >= 3 data files in the input
    // dir, and maxFilesPerTrigger=1 makes each its own micro-batch. The
    // dir comes from the operator itself (not a re-derived literal), and
    // must exist — a missing dir would otherwise NPE or pass vacuously.
    val inDir = graft.ops.Pipelines.streamHeavyHittersInputDir
    assert(inDir.isDirectory, s"q111 input dir missing: $inDir")
    val inFiles = inDir.listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(inFiles >= 3, s"expected >=3 delivery files, found $inFiles")
  }
}
