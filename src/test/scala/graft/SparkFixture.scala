package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's one session: the `test` profile of [[Session]], started
  * before the first test and stopped after the last. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = Session.test(getClass.getSimpleName)
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
