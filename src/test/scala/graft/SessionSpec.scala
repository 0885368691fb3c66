package graft

import graft.Session.Profile
import org.scalatest.funsuite.AnyFunSuite

/** Pins the session profiles: `bench` carries exactly the engine confs
  * Bench set in its own builder before the profiles existed, and every
  * other profile departs from it only in the keys `Session.departures`
  * documents. */
class SessionSpec extends AnyFunSuite {

  // a gate-sized dir (AQE start = width) and one the size probe cannot
  // see (the conservative 256-wide start)
  private val dirs = Seq("/root/testdata/sf0.01", "target/tmp/no_such_sf")

  test("bench profile: exactly the confs and log level Bench set itself") {
    assert(Profile.Bench.logLevel == "WARN")
    for (sf <- dirs; w <- Seq(4, 32)) {
      val expected = Map(
        "spark.sql.shuffle.partitions" -> w.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
        "graft.stream.parts" -> "8",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
          Tables.aqeInitialPartitions(sf, w).toString,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
        "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
        "spark.ui.enabled" -> "false")
      assert(Session.confs(Profile.Bench, w, sf) == expected, s"$sf at width $w")
    }
    assert(Tables.aqeInitialPartitions(dirs(1), 4) == 256)
  }

  test("verify, tool and test differ from bench only in their documented keys") {
    assert(Session.departures.keySet ==
      Set(Profile.Bench, Profile.Verify, Profile.Tool, Profile.Test))
    for ((p, documented) <- Session.departures; sf <- dirs; w <- Seq(4, 32)) {
      val bench = Session.confs(Profile.Bench, w, sf)
      val other = Session.confs(p, w, sf)
      val differing = (bench.keySet ++ other.keySet).filter(k => bench.get(k) != other.get(k))
      assert(differing == documented, s"$p over $sf at width $w")
    }
    assert(Profile.Verify.logLevel == "WARN")
    assert(Profile.Tool.logLevel == "ERROR" && Profile.Test.logLevel == "ERROR")
  }
}
