package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The schema-drift guard (Tables.logicalSchemas + Tables.normalize).
  *
  * The harness regenerates /root/testdata between rounds and physical
  * parquet types have drifted before (events.ts nanos→micros, round 8 —
  * commit 0783490 was the reactive fix). This spec makes the whole class
  * loud and local:
  *
  *  - every table at every SF must normalize to its DECLARED logical
  *    schema (footer-only reads — cheap at all three SFs). A drifted
  *    regeneration fails HERE, naming the table/column/types, instead of
  *    as dozens of mysterious verify-gate reds;
  *  - the two timestamp representation drifts we auto-fix (nanos-as-long,
  *    NTZ↔instant) are exercised against forced-drift fixtures and must
  *    be VALUE-preserving, not just type-correct;
  *  - a non-fixable drift (e.g. a key narrowed to int32) must throw
  *    SchemaDriftException naming the column.
  */
class SchemaGuardSpec extends AnyFunSuite with SparkFixture {

  private def tmp(name: String): String = {
    val dir = new java.io.File(s"target/tmp/schemaguard/$name")
    scala.reflect.io.Path(dir).deleteRecursively()
    dir.getPath
  }

  test("every table at every SF normalizes to its declared logical schema") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.names) {
      val got = Tables.load(spark, s"/root/testdata/$sf", t).schema
      val declared = Tables.logicalSchemas(t)
      declared.fields.foreach { f =>
        val g = got.find(_.name == f.name)
        assert(g.isDefined, s"$sf/$t.${f.name}: missing after normalize")
        assert(g.get.dataType == f.dataType,
          s"$sf/$t.${f.name}: normalized to ${g.get.dataType.catalogString}, " +
            s"declared ${f.dataType.catalogString}")
      }
    }
  }

  test("forced drift: ts written as a plain long (nanos) normalizes to the declared instant, value-preserving") {
    val dir = tmp("nanos_long")
    val s = spark
    import s.implicits._
    // 2021-03-04T05:06:07.123456Z in epoch nanos
    val micros = 1614834367123456L
    Seq((1L, micros * 1000L, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir)
    val got = Tables.normalize("events", spark.read.parquet(dir))
    assert(got.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val back = got.select(unix_micros(col("ts"))).collect().head.getLong(0)
    assert(back == micros, s"nanos→micros conversion lost value: $back != $micros")
  }

  test("forced drift: an instant ts where NTZ is declared casts value-preserving under UTC") {
    val dir = tmp("instant_for_ntz")
    val s = spark
    import s.implicits._
    val micros = 1614834367123456L
    Seq((1L, 2L, "O", 3.5, "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .withColumn("o_orderdate", timestamp_micros(lit(micros)))
      .write.parquet(dir)
    val got = Tables.normalize("orders", spark.read.parquet(dir))
    assert(got.schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // wall-clock under UTC must equal the instant's UTC rendering
    val wall = got.select(col("o_orderdate").cast("string")).collect().head.getString(0)
    assert(wall == "2021-03-04 05:06:07.123456", wall)
  }

  test("forced drift: a narrowed key type throws naming the column") {
    val dir = tmp("narrowed_key")
    val s = spark
    import s.implicits._
    Seq((1, "a", "en", "web", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars") // doc_id int32
      .write.parquet(dir)
    val e = intercept[Tables.SchemaDriftException] {
      Tables.normalize("documents", spark.read.parquet(dir))
    }
    assert(e.getMessage.contains("documents.doc_id"), e.getMessage)
    assert(e.getMessage.contains("int"), e.getMessage)
    assert(e.getMessage.contains("bigint"), e.getMessage)
  }

  test("forced drift: a missing declared column throws naming it") {
    val dir = tmp("missing_col")
    val s = spark
    import s.implicits._
    Seq((1L, "a", "en", "web")).toDF("doc_id", "text", "lang", "source")
      .write.parquet(dir)
    val e = intercept[Tables.SchemaDriftException] {
      Tables.normalize("documents", spark.read.parquet(dir))
    }
    assert(e.getMessage.contains("documents.n_chars"), e.getMessage)
    assert(e.getMessage.contains("MISSING"), e.getMessage)
  }

  test("NTZ↔instant fixup refuses a non-UTC session (would shift values)") {
    val dir = tmp("tz_guard")
    val s = spark
    import s.implicits._
    Seq(Tuple1(1L)).toDF("o_orderkey")
      .withColumn("o_custkey", lit(2L))
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_totalprice", lit(3.5))
      .withColumn("o_orderdate", timestamp_micros(lit(1614834367123456L)))
      .withColumn("o_orderpriority", lit("x"))
      .write.parquet(dir)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Tables.normalize("orders", spark.read.parquet(dir))
      }
      assert(e.getMessage.contains("UTC"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }
}
