package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict to named queries (dev iteration only;
    // the driver always runs the full surface)
    val only = args.drop(2).toSet
    val cpus = GraftSession.envCpus
    // dev-only master override (driver never sets it): the multi-JVM
    // invariance pass runs the SAME surface under local-cluster[2,16,m]
    // so shuffle blocks, broadcasts, and TypedImperativeAggregate partial
    // states cross a real process/serialization boundary (local[n] keeps
    // everything in one JVM and never exercises those paths)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // ONE shared session path with Bench (and any embedder), so the
    // correctness surface always runs the identical plan regime the bench
    // measures (rationale: [[GraftSession]])
    val spark = GraftSession.build(Some(master), cpus, sfDir)
    // dev-only speculative-attempt counter (driver never sets it): the
    // speculation-determinism pass must prove duplicate attempts actually
    // RACED (a run where zero tasks were speculated proves nothing), and
    // the WARN log level above hides the scheduler's INFO marking lines —
    // so count launched speculative attempts from the listener bus and
    // print the total as the artifact's evidence channel.
    val specCount = new java.util.concurrent.atomic.AtomicLong
    if (sys.env.get("SPARK_GRAFT_COUNT_SPECULATIVE").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskStart(
              e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
            if (e.taskInfo.speculative) { specCount.incrementAndGet(); () }
        })
    new java.io.File(outDir).mkdirs()
    val runner = new QueryRunner(spark, "verify")
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        runner.run(name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(SparkEntry.oracleSql))
    if (sys.env.get("SPARK_GRAFT_COUNT_SPECULATIVE").contains("1"))
      System.err.println(s"[verify] speculative_attempts=${specCount.get}")
    spark.stop()
  }
}
