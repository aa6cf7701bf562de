package graft

import org.apache.spark.sql.SparkSession

/** Runs one query body the way every harness must, so one query's residue
  * or stall never lands on the next:
  *
  *   - a sweep of persisted intermediates before and after (untimed);
  *   - the body on a daemon thread under its own job group;
  *   - a wall-clock watchdog that cancels the group (and every job it would
  *     submit later) and interrupts the thread on breach.
  *
  * The result is the body's wall time, or the failure's class name
  * (`"Timeout"` on a breach) — the honesty channel: a failed query is
  * recorded as failed, never as a plausible timing.
  *
  * @param tag        names the job group (`graft-<tag>-<query>`) and
  *                   prefixes the stderr lines
  * @param timeoutSec the per-query watchdog bound
  */
final class QueryRunner(spark: SparkSession, tag: String,
    timeoutSec: Long = QueryRunner.DefaultTimeoutSec) {

  def run(name: String)(body: => Unit): Either[String, Double] = {
    // PRE-query sweep too (round-13 advisory): a zombie worker from an
    // earlier timed-out query could have re-persisted blocks AFTER that
    // query's post-sweep ran — sweeping again here (untimed) keeps any
    // such residue from inflating this query's measurement.
    QueryRunner.sweep(spark)
    val t0 = System.nanoTime()
    try {
      @volatile var err: Option[Throwable] = None
      val group = s"graft-$tag-$name"
      val worker = new Thread(() => {
        try {
          // job group is thread-local: set it on the thread that runs the jobs
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          body
        } catch { case e: Throwable => err = Some(e) }
      }, group)
      worker.setDaemon(true)
      worker.start()
      worker.join(timeoutSec * 1000)
      if (worker.isAlive) {
        // cancelJobGroup only reaches CURRENTLY-ACTIVE jobs: a driver-side
        // loop between jobs (iterative components/BPE rounds, local
        // post-processing) would just submit the next one. Spark 4's
        // AndFutureJobs variant fails every later submission under the
        // group, and interrupt() unwinds the driver-side loop itself.
        spark.sparkContext.cancelJobGroupAndFutureJobs(group)
        worker.interrupt()
        worker.join(30000) // give cancellation a moment to unwind
        if (worker.isAlive)
          // truly stuck (uninterruptible native call?) — the pre-query
          // sweep above contains any blocks it re-persists from here on
          System.err.println(s"[$tag] $name worker STILL ALIVE after cancel+interrupt; " +
            "subsequent queries re-sweep persistent RDDs before timing")
        System.err.println(s"[$tag] $name TIMEOUT after ${timeoutSec}s (cancelled)")
        Left("Timeout")
      } else err match {
        case Some(e) =>
          System.err.println(s"[$tag] $name FAILED: ${e.toString.linesIterator.next()}")
          Left(e.getClass.getSimpleName)
        case None => Right((System.nanoTime() - t0) / 1e9)
      }
    } finally QueryRunner.sweep(spark)
  }
}

object QueryRunner {

  /** ~30× the heaviest solo protocol median (7.4 s): the documented ~15×
    * ambient-contention band cannot false-fail an honest query, while a
    * genuinely stuck one costs at most 4 minutes of a run.
    */
  val DefaultTimeoutSec = 240L

  /** Drop every persisted intermediate: the SQL cache AND RDD-level
    * (localCheckpoint) blocks, which clearCache cannot reach — one query's
    * leaked blocks otherwise inflate every later query's time.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
