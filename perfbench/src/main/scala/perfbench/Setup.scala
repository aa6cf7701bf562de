package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The frozen workload inputs in `workloads.json`: the two mailbox shapes
  * and the query lists.
  */
final case class Config(
    floor: Seq[String],
    kernels: Seq[String],
    shape: Mailbox.Shape,
    warmupShape: Mailbox.Shape) {
  /** The `queries` workload's list: the sub-second floor, then the kernels. */
  def queryNames: Seq[String] = floor ++ kernels
  def group(name: String): String = if (kernels.contains(name)) "kernels" else "floor"
}

object Config {
  def load(file: Path): Config = {
    val root = new ObjectMapper().readTree(file.toFile)
    def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    def shape(n: JsonNode): Mailbox.Shape = Mailbox.Shape(
      smallFiles = n.get("small_files").asInt,
      smallRowsMin = n.get("small_rows_min").asInt,
      smallRowsMax = n.get("small_rows_max").asInt,
      largeRows = n.get("large_rows").elements().asScala.map(_.asInt).toSeq,
      badPermille = n.get("bad_permille").asInt,
      unmatchedFiles = n.get("unmatched_files").asInt)
    val q = root.get("queries")
    val m = root.get("ingest_mailbox")
    Config(
      floor = strings(q.get("floor")),
      kernels = strings(q.get("kernels")),
      shape = shape(m.get("shape")),
      warmupShape = shape(m.get("warmup_shape")))
  }
}

/** Session construction with the settings `graft.Bench` uses, with every
  * scratch directory kept under the benchmark's work directory.
  */
object Session {
  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** Watchdog for one operation (a query or a drain); a breach counts as a
    * failed operation.
    */
  val TimeoutS: Long = 60

  def build(sizingDir: String, work: Path): SparkSession = {
    val local = Files.createDirectories(work.resolve("spark-local"))
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString), cpus, sizingDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.silenceBoundedWindowWarnings()
    spark.sparkContext.setCheckpointDir(
      Files.createDirectories(work.resolve("checkpoints")).toString)
    spark
  }

  /** Drops every cached or persisted block so the next operation pays for
    * its own inputs (the same sweep `graft.Bench` runs around each query).
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs `body` on a worker thread under its own job group, with `props`
    * set as local properties there, and cancels it after `timeoutS`.
    * Returns the failure, if any, as a short message.
    */
  def guarded(spark: SparkSession, group: String, timeoutS: Long,
      props: Map[String, String] = Map.empty)(body: => Unit): Option[String] = {
    @volatile var err: Option[String] = None
    val sc = spark.sparkContext
    val worker = new Thread(() => {
      try {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        body
      } catch {
        case e: Throwable => err = Some(e.toString.linesIterator.nextOption().getOrElse(e.getClass.getName))
      }
    }, group)
    worker.setDaemon(true)
    worker.start()
    worker.join(timeoutS * 1000)
    if (worker.isAlive) {
      sc.cancelJobGroupAndFutureJobs(group)
      worker.interrupt()
      worker.join(30000)
      Some(s"timeout after ${timeoutS}s")
    } else err
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on all its threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val f = p.toFile
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm))
      x.delete(): Unit
    }
    rm(f)
  }
}

/** Context of one invocation. */
final case class RunCtx(
    cfg: Config,
    home: Path,
    work: Path,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    spans: Tracer.Spans)

/** The set-up phase: build the session and warm it up, [[Rounds]] times,
  * stopping every session but the last. The first round also starts the
  * JVM's Spark machinery and is far slower, so it is kept apart. Returns
  * the kept session, the first round and the later rounds, each as
  * (build, warm-up) seconds.
  */
object SetupRounds {
  val Rounds = 4

  final case class Timings(cold: (Double, Double), warm: Seq[(Double, Double)]) {
    def all: Seq[(Double, Double)] = cold +: warm
    /** `setup_s`: the median warm round's build plus warm-up. */
    def setupS: Double = Stats.median(warm.map { case (b, w) => b + w })
    def buildS: Double = Stats.median(warm.map(_._1))
    def warmupS: Double = Stats.median(warm.map(_._2))
  }

  def run(ctx: RunCtx, sizingDir: String)(warm: SparkSession => Unit): (SparkSession, Timings) = {
    val rounds = Seq.newBuilder[(Double, Double)]
    var kept: SparkSession = null
    for (i <- 0 until Rounds) {
      ctx.spans(s"setup$i") {
        val t0 = System.nanoTime()
        val spark = ctx.spans("session.build")(Session.build(sizingDir, ctx.work))
        val t1 = System.nanoTime()
        ctx.spans("session.warmup")(warm(spark))
        val t2 = System.nanoTime()
        rounds += (((t1 - t0) / 1e9, (t2 - t1) / 1e9))
        if (i < Rounds - 1) spark.stop() else kept = spark
      }
    }
    val r = rounds.result()
    (kept, Timings(r.head, r.tail))
  }
}
