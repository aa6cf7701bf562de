package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared per-query runner: watchdog, failure channel and sweep. */
class QueryRunnerSpec extends AnyFunSuite with SparkSpec {

  test("a body that outlives the timeout is Left(Timeout) and its job group is cancelled") {
    val runner = new QueryRunner(spark, "spec", timeoutSec = 1)
    val r = runner.run("sleeper") {
      spark.sparkContext.parallelize(1 to 2, 2).foreach(_ => Thread.sleep(60000))
    }
    assert(r == Left("Timeout"))
    val tracker = spark.sparkContext.statusTracker
    val jobs = tracker.getJobIdsForGroup("graft-spec-sleeper")
    assert(jobs.nonEmpty, "the body's job never ran under the runner's group")
    val deadline = System.nanoTime() + 30e9.toLong
    def settled = jobs.forall(id => tracker.getJobInfo(id)
      .forall(_.status == org.apache.spark.JobExecutionStatus.FAILED))
    while (!settled && System.nanoTime() < deadline) Thread.sleep(100)
    assert(settled, "the timed-out job was not cancelled")
  }

  test("a throwing body is Left(<exception class name>)") {
    val runner = new QueryRunner(spark, "spec")
    assert(runner.run("boom")(throw new IllegalStateException("boom")) ==
      Left("IllegalStateException"))
  }

  test("frames persisted inside the body are swept after the run") {
    val runner = new QueryRunner(spark, "spec")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var inside = Set.empty[Int]
    val r = runner.run("persist") {
      spark.range(100).toDF("id").persist().count()
      spark.sparkContext.parallelize(1 to 100, 2).persist().count()
      inside = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(r.isRight)
    assert(inside.size == 2, s"expected two persisted RDDs inside the body, saw $inside")
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(inside).isEmpty)
  }
}
