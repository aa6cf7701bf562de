package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Listener-side accounting for the traced run.
  *
  * Jobs are attributed to a phase through the `perfbench.phase` local
  * property the benchmark sets on the thread that submits them (threads
  * that thread starts — the stream's micro-batch thread and its commit
  * pool — inherit it). Tasks inherit their stage's phase. Counters are
  * cumulative; callers take a [[Tracer.Snapshot]] before and after an
  * operation and subtract, after [[quiesce]] has delivered every event the
  * operation posted.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stagePhase = mutable.Map.empty[Int, String]
  private val sqlStarts = mutable.Map.empty[Long, (Long, String)]
  private var peakExecMem = 0L
  private var lastTopOps: Seq[(String, Double)] = Nil
  /** Execution-side planning and SQL execution intervals, in epoch ms. */
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Output directories whose writes are timed separately, by label. */
  @volatile var writeTargets: Seq[(String, String)] = Nil

  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("none")
      add(s"$phase.jobs", 1)
      e.stageIds.foreach(stagePhase(_) = phase)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      add(s"${stagePhase.getOrElse(e.stageInfo.stageId, "none")}.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val p = stagePhase.getOrElse(e.stageId, "none")
      val m = e.taskMetrics
      add(s"$p.tasks", 1)
      if (m != null) {
        add(s"$p.task_busy_s", m.executorRunTime / 1e3)
        add(s"$p.task_cpu_s", m.executorCpuTime / 1e9)
        add(s"$p.gc_s", m.jvmGCTime / 1e3)
        add(s"$p.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s"$p.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s"$p.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        sqlStarts(s.executionId) = (s.time, s.physicalPlanDescription)
      }
      case end: SparkListenerSQLExecutionEnd => lock.synchronized {
        sqlStarts.remove(end.executionId).foreach { case (t0, plan) =>
          // executions that start once the current operation's build is
          // over are its execution side; earlier ones ran during build
          if (t0 >= buildEndMs) intervals += (("sql", t0, end.time))
          if (plan.contains("InsertIntoHadoopFsRelationCommand"))
            writeTargets.find { case (_, dir) => plan.contains(dir) }.foreach { case (label, _) =>
              add(s"write.$label.s", (end.time - t0) / 1e3)
            }
        }
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = PlanPhases.flatMap(qe.tracker.phases.get)
      val ops = try topOperators(qe.executedPlan) catch { case _: Exception => Nil }
      lock.synchronized {
        // planning that starts once the current operation's build is over
        // belongs to its execution side; earlier planning was part of build
        if (phases.forall(_.startTimeMs >= buildEndMs))
          phases.foreach(p => intervals += (("plan", p.startTimeMs, p.endTimeMs)))
        lastTopOps = ops
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val d = e.progress.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("stream.triggers", 1)
      add("stream.add_batch_s", ms("addBatch") / 1e3)
      add("stream.latest_offset_s", ms("latestOffset") / 1e3)
      add("stream.wal_commit_s", ms("walCommit") / 1e3)
    }
  }

  @volatile private var buildEndMs = Long.MaxValue

  /** Marks the end of the current operation's build phase. */
  def buildEnded(): Unit = buildEndMs = System.currentTimeMillis()

  /** Marks the start of an operation: until [[buildEnded]], its planning
    * and executions belong to its build, and it has no final plan yet.
    */
  def opStarted(): Unit = lock.synchronized {
    buildEndMs = Long.MaxValue
    lastTopOps = Nil
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Blocks until every event posted so far has been delivered. */
  def quiesce(): Unit = org.apache.spark.perfbench.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  def snapshot(): Snapshot = {
    quiesce()
    lock.synchronized {
      Snapshot(counters.toMap, peakExecMem, CodeGenerator.compileTime / 1e9, lastTopOps)
    }
  }

  /** Execution-side (plan, exec) seconds since the last call. Planning
    * that ran inside an execution's window (the final plan is built after
    * the execution is announced) counts as planning only, so the two never
    * overlap.
    */
  def takePlanExec(): (Double, Double) = {
    quiesce()
    lock.synchronized {
      val plans = intervals.filter(_._1 == "plan").toSeq
      val sqls = intervals.filter(_._1 == "sql").toSeq
      intervals.clear()
      val planMs = plans.map(p => p._3 - p._2).sum
      val execMs = sqls.map { case (_, s0, s1) =>
        (s1 - s0) - plans.map { case (_, p0, p1) => math.max(0L, math.min(s1, p1) - math.max(s0, p0)) }.sum
      }.sum
      (planMs / 1e3, execMs / 1e3)
    }
  }

  /** Resets the peak-memory high-water mark (peaks do not subtract). */
  def resetPeak(): Unit = lock.synchronized { peakExecMem = 0L }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  /** One timed region of the driver: a session build, a query's build,
    * plan or execution, a drain, or a direct layer call.
    */
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** In-memory span log; `parent` is -1 at the top level. */
  final class Spans {
    private val done = mutable.ArrayBuffer.empty[Span]
    private var open = List.empty[(Int, String, Long)]
    private var nextId = 0

    def apply[T](name: String)(body: => T): T = {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      try body
      finally {
        val (_, _, t0) = open.head
        open = open.tail
        done += Span(id, name, parent, t0, System.nanoTime())
      }
    }

    def all: Seq[Span] = done.sortBy(_.id).toSeq
  }
  private val PlanPhases = Seq("analysis", "optimization", "planning")

  final case class Snapshot(
      counters: Map[String, Double],
      peakExecMem: Long,
      codegenS: Double,
      topOps: Seq[(String, Double)]) {
    def apply(k: String): Double = counters.getOrElse(k, 0.0)

    /** Counters accumulated since `before`; peak and top operators are
      * this snapshot's own.
      */
    def since(before: Snapshot): Snapshot = Snapshot(
      (counters.keySet ++ before.counters.keySet).map(k => k -> (this(k) - before(k))).toMap,
      peakExecMem, codegenS - before.codegenS, topOps)

  }

  /** The five operators with the most SQL-metric time in a final plan,
    * descending into adaptive query stages.
    */
  def topOperators(plan: SparkPlan): Seq[(String, Double)] = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(plan) { case p => p }
      .map { p =>
        val secs = p.metrics.values.collect {
          case m if m.metricType == "timing" => m.value / 1e3
          case m if m.metricType == "nsTiming" => m.value / 1e9
        }.sum
        p.nodeName -> secs
      }
      .filter(_._2 > 0)
      .sortBy(-_._2)
      .take(5)
  }
}
