package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** Keeps q35's simhash stage, the largest generated method of the gate
  * (7,793 bytes measured at sf0.01), under HotSpot's 8,000-byte limit:
  * a larger method is never JIT-compiled and runs interpreted. */
class CodegenSizeSpec extends AnyFunSuite with SparkFixture {

  /** HotSpot's `HugeMethodLimit`: bytecode larger than this stays interpreted. */
  val HugeMethodLimit = 8000

  test("q35 simhash: every whole-stage method compiles under HotSpot's huge-method limit") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.ops.Dedup.simhash(spark, "/root/testdata/sf0.01").queryExecution.executedPlan
      val stages = plan.collectWithSubqueries { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, plan.treeString)
      val sizes = stages.map { w =>
        val (_, code) = w.doCodeGen()
        CodeGenerator.compile(code)._2.maxMethodCodeSize
      }
      assert(sizes.max < HugeMethodLimit, s"largest method per stage: ${sizes.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
