package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build(Some("local[4]"), 4, "",
    "spark.app.name" -> "graft-test",
    // pinned, so SPARK_GRAFT_INIT_PARTITIONS in the environment cannot
    // change tier-1 plans (4 = Spark's default: the shuffle partition count)
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "4",
    // the idiomatic deployment path for the native graft_* expressions —
    // ExpressionsSpec proves they resolve with NO in-session registration
    "spark.sql.extensions" -> "graft.expressions.GraftExtensions",
    // keep catalog-touching suites (JDBC dialects) from dropping a
    // spark-warehouse/ dir at the repo root (r26 verdict task 8)
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-test-wh").toString)
}
