package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `queries`: closed-loop passes over a frozen list of declared queries —
  * the sub-second floor, where per-query overhead dominates, and the
  * kernel-heavy queries — in an order the seed fixes.
  *
  * Each query is built through `SparkEntry.queries(name)(spark, dir)` and
  * executed with a noop-format write, as `graft.Bench` does, between two
  * sweeps of cached blocks and under its own job group and watchdog. An
  * untimed check pass first runs every query once, collects its output and
  * compares the row count and content digest with the values recorded in
  * `expected/queries.json`; it doubles as the queries' warm-up.
  */
object QueryWorkload {

  final case class OpRecord(
      name: String, wall: Double, build: Double, plan: Double, exec: Double,
      error: Option[String], layers: Map[String, Double], topOps: Seq[(String, Double)])

  final case class Pass(traced: Boolean, wall: Double, cpu: Double, ops: Seq[OpRecord])

  /** The tables, relative to the benchmark's directory. */
  val Data = "data/sf0.01"

  /** The set-up rounds' warm-up: one cheap scan, so set-up stays session work. */
  val Warmup = "scan_parquet"

  def dataDir(ctx: RunCtx): String = ctx.home.resolve(Data).toAbsolutePath.toString

  def expectedFile(ctx: RunCtx): Path = ctx.home.resolve("expected").resolve("queries.json")

  def run(ctx: RunCtx): Outcome = {
    val names = ctx.cfg.queryNames
    val data = dataDir(ctx)
    val expected = loadExpected(expectedFile(ctx))
    val (spark, setups) = SetupRounds.run(ctx, data) { s =>
      runOp(s, Warmup, data, Session.TimeoutS, None)
    }

    // output check, outside every timed region; also warms each query
    val mismatches = ctx.spans("check") {
      names.flatMap(n => ctx.spans(s"check:$n")(check(spark, n, data, Session.TimeoutS, expected.get(n))))
    }
    val badNames = mismatches.map(_.takeWhile(_ != ':')).toSet

    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes only, so every seed measures the same set of queries;
    // a traced run brackets its one traced pass between two untraced ones,
    // the base its overhead is measured against
    while (if (ctx.trace) passes.size < 3
           else passes.isEmpty || elapsed + passes.last.wall <= ctx.seconds) {
      val traced = ctx.trace && passes.size == 1
      if (traced) tracer.foreach(_.install())
      val p0 = System.nanoTime()
      val c0 = Session.cpuSeconds()
      val ops = ctx.spans(s"pass${passes.size}") {
        order.map(n => ctx.spans(s"query:$n") {
          runOp(spark, n, data, Session.TimeoutS, if (traced) tracer else None)
        })
      }
      passes += Pass(traced, (System.nanoTime() - p0) / 1e9, Session.cpuSeconds() - c0, ops)
      if (traced) tracer.foreach(_.uninstall())
    }
    spark.stop()

    val measured = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val allOps = passes.flatMap(_.ops)
    val failed = allOps.count(o => o.error.nonEmpty || badNames(o.name))
    val opWalls = measured.flatMap(_.ops.filter(_.error.isEmpty).map(_.wall)).toSeq
    val e2e = Map(
      "setup_s" -> setups.setupS,
      "batch_s" -> Stats.median(measured.map(_.wall).toSeq),
      "op_p50_s" -> (if (opWalls.isEmpty) 0.0 else Stats.median(opWalls)),
      "batch_cpu_s" -> Stats.median(measured.map(_.cpu).toSeq))

    val layers: Map[String, Double] = traced.headOption.map { t =>
      val sum = t.ops.flatMap(_.layers).groupMapReduce(_._1)(_._2)(_ + _)
      sum ++ Map(
        "session.build_s" -> setups.buildS,
        "session.warmup_s" -> setups.warmupS,
        "exec.slot_busy_ratio" ->
          Stats.Ratio(sum.getOrElse("exec.task_busy_s", 0.0), Session.cpus * sum.getOrElse("exec.exec_s", 0.0)).value,
        "exec.peak_exec_mem_mb" -> t.ops.map(_.layers.getOrElse("exec.peak_exec_mem_mb", 0.0)).max,
        "ops_failed_ratio" -> Stats.Ratio(failed.toDouble, allOps.size.toDouble).value,
        "trace.overhead_pct" -> overheadPct(t.wall, measured.map(_.wall).toSeq))
    }.getOrElse(Map.empty)

    Outcome(
      attempted = allOps.size.toLong,
      failed = failed.toLong,
      mismatches = mismatches ++ allOps.flatMap(o => o.error.map(e => s"${o.name}: $e")).distinct,
      endToEnd = Layers.metrics(Layers.endToEnd, e2e),
      layers = Layers.metrics(Layers.all, layers),
      detail = Map(
        "workload" -> "queries",
        "seed" -> ctx.seed,
        "cpus" -> Session.cpus,
        "order" -> order,
        "setup_rounds" -> setups.all.map { case (b, w) => Map("build_s" -> b, "warmup_s" -> w) },
        "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpu) ++
          p.ops.groupBy(o => ctx.cfg.group(o.name)).map { case (g, os) => s"${g}_s" -> os.map(_.wall).sum }),
        "op_samples" -> opWalls.size,
        "op_p90_s" -> Stats.tailQuantile(opWalls, 0.9),
        "ops" -> passes.zipWithIndex.flatMap { case (p, i) => p.ops.map(o => Map(
          "pass" -> i, "traced" -> p.traced, "name" -> o.name, "wall_s" -> o.wall,
          "build_s" -> o.build, "plan_s" -> o.plan, "exec_s" -> o.exec, "error" -> o.error,
          "layers" -> o.layers, "top_operators" -> o.topOps.map { case (op, s) => Map("op" -> op, "s" -> s) }))
        }))
  }

  /** How much longer the traced pass took than the mean untraced one, in %. */
  def overheadPct(traced: Double, untraced: Seq[Double]): Double =
    (Stats.Ratio(traced, untraced.sum / untraced.size).value - 1) * 100

  /** One timed query execution. With a tracer, the listener delta of the
    * execution becomes the record's layer figures.
    */
  def runOp(spark: SparkSession, name: String, data: String, timeoutS: Long,
      tracer: Option[Tracer]): OpRecord = {
    val q = graft.SparkEntry.queries(name)
    Session.sweep(spark)
    val before = tracer.map { t =>
      val s = t.snapshot(); t.takePlanExec(); t.resetPeak(); t.opStarted(); s
    }
    var build = 0.0
    val t0 = System.nanoTime()
    val err = Session.guarded(spark, s"perfbench-$name", timeoutS, Map(Tracer.PhaseKey -> "build")) {
      val df = q(spark, data)
      build = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.buildEnded())
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, "exec")
      df.write.mode("overwrite").format("noop").save()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Session.sweep(spark)
    (tracer, before) match {
      case (Some(t), Some(b)) =>
        val d = t.snapshot().since(b)
        val (plan, exec) = t.takePlanExec()
        OpRecord(name, wall, build, plan, exec, err,
          Layers.exec(d, "exec") ++ Map(
            "ops.build_s" -> build,
            "ops.build_jobs" -> d("build.jobs"),
            "sql.plan_s" -> plan,
            "exec.exec_s" -> exec,
            "exec.peak_exec_mem_mb" -> d.peakExecMem / 1048576.0),
          d.topOps)
      case _ => OpRecord(name, wall, build, 0.0, 0.0, err, Map.empty, Nil)
    }
  }

  /** Runs `name` once, untimed, and digests its collected output. */
  def digest(spark: SparkSession, name: String, data: String, timeoutS: Long)
      : Either[String, ContentHash.Digest] = {
    var got: Option[ContentHash.Digest] = None
    Session.sweep(spark)
    val err = Session.guarded(spark, s"perfbench-check-$name", timeoutS) {
      got = Some(ContentHash.of(graft.SparkEntry.queries(name)(spark, data)))
    }
    Session.sweep(spark)
    got.toRight(err.getOrElse("no output"))
  }

  /** Compares `name`'s output digest with the recorded one. */
  def check(spark: SparkSession, name: String, data: String, timeoutS: Long,
      expected: Option[ContentHash.Digest]): Option[String] =
    (digest(spark, name, data, timeoutS), expected) match {
      case (Left(e), _) => Some(s"$name: check run failed: $e")
      case (_, None) => Some(s"$name: no recorded digest")
      case (Right(g), Some(x)) if g != x => Some(s"$name: digest ${g.render} != recorded ${x.render}")
      case _ => None
    }

  def loadExpected(file: Path): Map[String, ContentHash.Digest] =
    if (!Files.exists(file)) Map.empty
    else new ObjectMapper().readTree(file.toFile).get("digests").properties().asScala
      .map(e => e.getKey -> ContentHash.Digest.parse(e.getValue.asText)).toMap

  /** Recomputes every listed query's digest (the `record` mode). */
  def record(ctx: RunCtx): Map[String, String] = {
    val data = dataDir(ctx)
    val spark = Session.build(data, ctx.work)
    try ctx.cfg.queryNames.map { n =>
      n -> digest(spark, n, data, Session.TimeoutS).fold(e => s"error: $e", _.render)
    }.toMap
    finally spark.stop()
  }
}
