package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the derived-partitioning rule (r26 verdict task 5): both clamps of
  * both knobs, at the three regimes that matter — the sf0.1 protocol box
  * (lands on cpus), the sf100 decade (the 172-partition point the
  * spill-merge finding required >128 for), and the saturation cap.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val g8 = 8L << 30 // the protocol box: 8 GiB heap / 32 slots

  test("advisory = clamp(heapPerSlot/8, 8MB, 64MB)") {
    assert(GraftSession.advisoryBytes(32, g8) == (32L << 20)) // 250MB/slot -> 32MB
    assert(GraftSession.advisoryBytes(32, 16L << 30) == (64L << 20)) // cap
    assert(GraftSession.advisoryBytes(32, 2L << 30) == (8L << 20)) // floor
  }

  test("initial partitions at three input sizes: sf0.1 -> cpus, sf100 -> 172, cap -> 4096") {
    // sf0.1 (~17.5 MB): x8 inflation over 32MB advisory ~ 4.4 -> clamps UP to cpus
    assert(GraftSession.initialPartitions(32, 17500000L, g8) == 32L)
    // sf100 (~723 MB measured): 723e6*8/32MB = 172 — the derived sf100 point
    assert(GraftSession.initialPartitions(32, 723000000L, g8) == 172L)
    // 100 TB-ish inputs saturate the 4096 cap (AQE coalescing trims down)
    assert(GraftSession.initialPartitions(32, 1L << 40, g8) == 4096L)
  }

  test("the dev override pins the initial count but never the advisory") {
    // configure() reads SPARK_GRAFT_INIT_PARTITIONS from the env — assert the
    // derivation helpers it composes are deterministic in (cpus, heap, bytes)
    assert(GraftSession.initialPartitions(16, 17500000L, g8)
      == 16L) // clamp floor follows cpus
    assert(GraftSession.advisoryBytes(16, g8) == (64L << 20)) // 512MB/slot -> cap
  }

  test("conf holds every shared session setting, AQE pair included") {
    val c = GraftSession.conf(8, "/nonexistent-sf-dir").toMap
    assert(c("spark.sql.shuffle.partitions") == "8")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(c("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    assert(c("spark.ui.enabled") == "false")
    assert(c("spark.sql.adaptive.advisoryPartitionSizeInBytes") ==
      GraftSession.advisoryBytes(8).toString)
    assert(c.contains("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
  }

  test("the shared test session pins the initial partition count, whatever the env holds") {
    assert(SparkSpec.session.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "4")
  }
}
