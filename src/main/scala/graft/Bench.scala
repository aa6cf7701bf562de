package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** Per-round benchmark: times every declared query at $SPARK_GRAFT_SF_DIR.
  *
  * Honesty rules (round-1 verdict):
  *   - failures are recorded per query (timing -1, name listed in "failed")
  *     and printed to stderr — never converted into plausible timings;
  *   - queries are executed with a noop-format write so every projected
  *     column is actually computed (count() lets Catalyst prune the
  *     projection down to nothing for pure-map queries);
  *   - an untimed warm-up pass absorbs JVM/codegen/session bring-up so the
  *     first timed queries aren't charged for it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    // dev-only override (driver never sets it): the constrained-heap sweep
    // measures partition sizing as the memory-pressure defense — more,
    // smaller shuffle partitions shrink every per-task buffer, which is the
    // production lever when heap per core drops (the 100 TB sizing rule:
    // partitions scale with data over memory, not with cores)
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)
    // Both AQE partition knobs derive from heap/slot count/input volume —
    // the shared rule every entry point applies (rationale + the measured
    // failures pinning each clamp: [[GraftSession]])
    val spark = GraftSession.build(Some(s"local[$cpus]"), cpus, sfDir,
      "spark.sql.shuffle.partitions" -> shufflePartitions)

    // Per-query WALL-CLOCK watchdog (round-12 verdict #1a): one
    // pathological query must never zero out the whole round's artifact
    // (BENCH_r12 was rc=124/no-data because a single query stalled past
    // the driver's global timeout) — see [[QueryRunner]].
    val runner = new QueryRunner(spark, "bench", sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT")
      .map(_.toLong).getOrElse(QueryRunner.DefaultTimeoutSec))

    // Optional per-query spill accounting (dev-only; the driver never sets
    // it): SPARK_GRAFT_SPILL=1 tallies executor memory/disk spill bytes per
    // query from task-end metrics into the full record — the constrained-
    // heap sweep's evidence channel (completion alone doesn't show where
    // the memory pressure went). Attribution rides the sequential query
    // loop: counters are snapshotted around each query after the async
    // listener bus quiesces; the inter-query sweeps contribute only
    // unpersist housekeeping, never spill.
    val spillOn = sys.env.get("SPARK_GRAFT_SPILL").contains("1")
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    if (spillOn) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            memSpilled.addAndGet(m.memoryBytesSpilled)
            diskSpilled.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })
    def drainListeners(): Unit = if (spillOn) {
      // task-end events arrive on the async listener bus — wait until the
      // counters are stable for 200 ms (3 s hard cap) before snapshotting
      var last = (memSpilled.get, diskSpilled.get)
      var stableMs = 0
      var waitedMs = 0
      while (stableMs < 200 && waitedMs < 3000) {
        Thread.sleep(50); waitedMs += 50
        val cur = (memSpilled.get, diskSpilled.get)
        if (cur == last) stableMs += 50 else { stableMs = 0; last = cur }
      }
    }
    val spill = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

    def runOnce(name: String): Either[String, Double] = runner.run(name) {
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    }

    // warm-up (untimed): one scan-heavy, one shuffle-heavy, one text query
    Seq("scan_parquet", "join_hash", "text_wordcount")
      .filter(SparkEntry.queries.contains).foreach(runOnce)
    // settle the async listener bus once before the timed loop: warm-up
    // straggler task-end events would otherwise land inside the first
    // timed query's spill-delta window and inflate its attribution
    drainListeners()

    // optional dev-only filter (driver never sets it): bench a named subset
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    // Spill-attribution honesty: a cancelled worker can keep emitting
    // task-end events past drainListeners' 3 s cap, so spill deltas
    // recorded AFTER any failure/timeout may carry a zombie query's
    // bytes. Record which queries' deltas are suspect so the protocol
    // scripts can reject the attribution (the failed==[] assert already
    // rejects the run for ratio purposes; this flags the spill channel
    // specifically).
    var spillTaintedFrom: Option[String] = None
    val spillTainted = scala.collection.mutable.LinkedHashSet.empty[String]
    def runPass(): Seq[(String, Either[String, Double])] = names.map { n =>
      val (m0, d0) = (memSpilled.get, diskSpilled.get)
      val r = n -> runOnce(n)
      drainListeners()
      if (spillOn) {
        spill(n) = (memSpilled.get - m0, diskSpilled.get - d0)
        if (spillTaintedFrom.isDefined) spillTainted += n
        if (r._2.isLeft && spillTaintedFrom.isEmpty) spillTaintedFrom = Some(n)
      }
      r
    }
    // Median-of-N in ONE invocation (round-26, verdict task 6): the per-
    // round artifact was a single contended pass, so cross-round comparison
    // required BASELINE.md exegesis (r16's 543 s vs r17's 277 s on an
    // identical surface was ambient, not a regression). The timed pass now
    // repeats up to SPARK_GRAFT_BENCH_RUNS times (default 3) under a wall-
    // clock budget (SPARK_GRAFT_BENCH_BUDGET seconds of TIMED passes,
    // default 1400 — a contended first pass shrinks the run count instead
    // of risking the driver's global timeout), and the artifact carries the
    // run totals + per-query MEDIANS. Same-JVM back-to-back passes are
    // warmer than the cross-JVM protocol triple, so the committed
    // BENCH_LOCAL.json denominator remains the cross-JVM number; within a
    // round, medians kill one-pass ambient spikes by construction. The
    // artifact file is re-written after EVERY completed pass, so a run
    // killed mid-pass still leaves a valid artifact for the passes done.
    val maxRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1400").toDouble
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    // stable per-core-count twin of outFile (see writeArtifact): the full
    // record keyed by slot count, e.g. bench_result_c32.json
    val cpuOutFile = {
      val dot = outFile.lastIndexOf('.')
      if (dot > 0) s"${outFile.substring(0, dot)}_c$cpus${outFile.substring(dot)}"
      else s"${outFile}_c$cpus"
    }

    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Either[String, Double])]]
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    // per-query median over the passes that succeeded for that query;
    // failed iff NO pass succeeded. Even counts average the two middles.
    def combined: Seq[(String, Either[String, Double])] = names.map { n =>
      val vals = passes.flatMap(_.collectFirst { case (`n`, Right(v)) => v }).toSeq
      if (vals.nonEmpty) n -> Right(median(vals))
      else n -> Left(passes.head.collectFirst { case (`n`, Left(e)) => e }
        .getOrElse("NoData"))
    }
    def runTotals: Seq[Double] =
      passes.map(_.collect { case (_, Right(v)) => v }.sum).toSeq
    // per-pass failure counts: a query failing transiently in one pass
    // deflates that pass's total, so run_totals are only comparable where
    // these are zero — the artifact flags it instead of hiding it
    def runFailed: Seq[Int] =
      passes.map(_.count(_._2.isLeft)).toSeq

    def failedNames(results: Seq[(String, Either[String, Double])]): Seq[String] =
      results.collect { case (k, Left(_)) => k }
    // headline value (round-27 advisory fix): SUM OF THE PER-QUERY MEDIANS
    // — consistent with the "queries" map by construction, and immune to a
    // transient one-pass failure deflating a pass total (median-of-pass-
    // totals was not: the deflated total skewed the median while the
    // per-query medians ignored it). A single pass degrades to the sum of
    // its per-query times.
    def headline(results: Seq[(String, Either[String, Double])]): Double =
      results.collect { case (_, Right(v)) => v }.sum

    def record(results: Seq[(String, Either[String, Double])]): String = {
      val spillJson: ListMap[String, Any] =
        if (!spillOn) ListMap.empty
        else ListMap("spill_bytes" -> spill.map { case (k, (m, dd)) => k -> Seq(m, dd) }) ++
          (if (spillTainted.isEmpty) Nil else Seq("spill_tainted" -> spillTainted))
      // "headline" names the aggregation rule IN the artifact (round-19
      // verdict #1: the rule changed once between rounds and silently made
      // totals incommensurable — it is now pinned and self-describing);
      // "cpus" records the slot count so per-core-count artifacts are
      // attributable without exegesis.
      Json.write(ListMap(
        "metric" -> "total", "value" -> headline(results), "unit" -> "sec",
        "headline" -> "sum_of_medians", "cpus" -> cpus,
        "queries" -> ListMap(results.map {
          case (k, Right(v)) => k -> v
          case (k, Left(_)) => k -> -1
        }: _*),
        "sf" -> sfDir, "failed" -> failedNames(results), "runs" -> passes.length,
        "run_totals" -> runTotals.map(t => new java.math.BigDecimal(f"$t%.3f")),
        "run_failed" -> runFailed) ++ spillJson)
    }
    def writeArtifact(results: Seq[(String, Either[String, Double])]): Unit = {
      val bytes = (record(results) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Files.write(Paths.get(outFile), bytes)
      // Per-query channel restoration (round-19 verdict #2): the driver runs
      // the bench at TWO core counts and both write the same default
      // `bench_result.json`, so the c8 run overwrote the c32 per-query map
      // and PERF had no per-query data two rounds running. A per-core-count
      // copy is a STABLE filename neither run clobbers; the compact stdout
      // line names it so the driver (and the next round) can find it.
      Files.write(Paths.get(cpuOutFile), bytes)
    }

    var timedSec = 0.0
    var lastPassSec = 0.0
    while (passes.length < maxRuns &&
        (passes.isEmpty || timedSec + lastPassSec <= budgetSec)) {
      val t0 = System.nanoTime()
      passes += runPass()
      lastPassSec = (System.nanoTime() - t0) / 1e9
      timedSec += lastPassSec
      System.err.println(f"[bench] pass ${passes.length}/$maxRuns done in $lastPassSec%.1f s " +
        f"(timed total $timedSec%.1f s, budget $budgetSec%.0f s)")
      writeArtifact(combined) // progressive: a killed later pass still leaves a valid artifact
    }

    val results = combined
    // Two channels, two shapes (round-14 verdict #1): the FULL record —
    // per-query map included — goes to bench_result.json (the unambiguous
    // artifact); stdout's FINAL line is a COMPACT summary with no
    // per-query map. The driver keeps only a ~2 KB tail of stdout, and
    // the full record is >25 KB, so printing it last still truncated
    // mid-object and left BENCH_rN `parsed: null` four rounds running.
    // The compact line is a few hundred bytes and always survives the
    // tail window.
    writeArtifact(results)
    val compact = Json.write(ListMap(
      "metric" -> "total", "value" -> headline(results), "unit" -> "sec",
      "headline" -> "sum_of_medians", "cpus" -> cpus, "n" -> names.size,
      "runs" -> passes.length, "sf" -> sfDir, "failed" -> failedNames(results),
      "queries_file" -> outFile, "queries_file_cpus" -> cpuOutFile))
    spark.stop()
    System.out.flush()
    println(compact)
    System.out.flush()
  }
}
