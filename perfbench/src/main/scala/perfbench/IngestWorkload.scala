package perfbench

import graft.config.GraftConfig
import graft.ingest.{CtbIngest, Sink}
import graft.notify.Notifier
import graft.schema.CtbSchema
import graft.streaming.StreamIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `ingest_mailbox`: one `Trigger.AvailableNow` drain of a freshly
  * generated CTB mailbox per operation, through `StreamIngest.runOnce`.
  *
  * Every drain gets its own mailbox, sink (`Sink.init`), errors directory,
  * checkpoint and archive, built untimed: the checkpoint is the ack, so a
  * reused one would turn the drain into a no-op. After each drain the
  * benchmark waits for the source's archiving to finish and checks the
  * sink, the error rows, the notifications, the returned `RunStats` and the
  * archive against the generator's expectations, all untimed.
  */
object IngestWorkload {

  /** The mailbox's file name pattern, as the paper's job polls it. */
  val SourceGlob = "CTB*"

  /** Files the engine's file source takes per trigger (`maxFilesPerTrigger`
    * in `StreamIngest`). The source archives a trigger's files when it plans
    * the next one, so after a drain the files of every trigger but the last
    * must be in the archive.
    */
  val FilesPerTrigger = 64

  /** The CTB files a drain must have archived: those of every trigger but
    * the last, in the order the file source takes them (modification time,
    * which [[Mailbox.write]] sets in generation order).
    */
  def mustArchive(gen: Mailbox.Generated): Seq[String] =
    gen.expected.map(_.name).grouped(FilesPerTrigger).toSeq.dropRight(1).flatten

  final case class Note(kind: String, file: String, atNs: Long,
      inserted: Option[Long], rowErrors: Option[Long], details: String = "")

  /** The benchmark's notification transport: records what was sent, and
    * when, instead of mailing it.
    */
  final class Recorder extends Notifier {
    val recipients = "perfbench@localhost"
    private val buf = mutable.ArrayBuffer.empty[Note]
    private val Partial = """(?s)Inserted (\d+) rows with (\d+) row-level errors.*""".r

    def send(to: String, subject: String, body: String): Unit = ()

    private def note(n: Note): Unit = synchronized { buf += n }

    override def notifySuccess(fileName: String, insertedRows: Long): Unit = {
      note(Note("success", fileName, System.nanoTime(), Some(insertedRows), Some(0L)))
      super.notifySuccess(fileName, insertedRows)
    }
    override def notifyError(context: String, errorDetails: String): Unit = {
      val (ins, errs) = errorDetails match {
        case Partial(i, e) => (Some(i.toLong), Some(e.toLong))
        case _ => (None, None)
      }
      note(Note("error", context, System.nanoTime(), ins, errs, errorDetails))
      super.notifyError(context, errorDetails)
    }
    override def notifyNoData(query: String): Unit = {
      note(Note("no_data", query, System.nanoTime(), None, None))
      super.notifyNoData(query)
    }
    def notes: Seq[Note] = synchronized(buf.toList)
  }

  final case class Drain(
      wall: Double, cpu: Double, fileLatencies: Seq[Double], badFiles: Set[String],
      mismatches: Seq[String], layers: Map[String, Double])

  def run(ctx: RunCtx): Outcome = {
    val gen = Mailbox.generate(ctx.cfg.shape, ctx.seed)
    val sizing = ctx.work.resolve("sizing")
    Mailbox.write(gen, sizing)
    var drains = 0
    def nextRoot(): Path = { drains += 1; ctx.work.resolve(f"drain$drains%03d") }

    val (spark, setups) = SetupRounds.run(ctx, sizing.toString) { s =>
      drain(ctx, s, Mailbox.generate(ctx.cfg.warmupShape, ctx.seed), nextRoot(), None, check = false)
    }

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val done = mutable.ArrayBuffer.empty[(Boolean, Drain)]
    var measuredS = 0.0
    // a traced run makes one untraced drain, the base its overhead is
    // measured against, then one traced drain (a third drain would not
    // fit the run's time limit)
    while (if (ctx.trace) done.size < 2
           else done.isEmpty || measuredS + done.last._2.wall <= ctx.seconds) {
      val traced = ctx.trace && done.size == 1
      if (traced) tracer.foreach(_.install())
      val d = ctx.spans(s"drain${done.size}")(drain(ctx, spark, gen, nextRoot(), if (traced) tracer else None))
      measuredS += d.wall
      done += traced -> d
      if (traced) tracer.foreach(_.uninstall())
    }
    val direct = tracer.map { t =>
      t.install()
      try ctx.spans("direct")(directLayers(ctx, spark, t, gen)) finally t.uninstall()
    }
    spark.stop()

    val measured = done.filterNot(_._1).map(_._2)
    val traced = done.filter(_._1).map(_._2)
    val files = gen.expected.size
    val all = done.map(_._2)
    val failed = all.map(_.badFiles.size).sum + direct.map(_._2.size).getOrElse(0)
    val attempted = all.size * files
    val latencies = measured.flatMap(_.fileLatencies).toSeq
    val e2e = Map(
      "setup_s" -> setups.setupS,
      "batch_s" -> Stats.median(measured.map(_.wall).toSeq),
      "op_p50_s" -> (if (latencies.isEmpty) 0.0 else Stats.median(latencies)),
      "batch_cpu_s" -> Stats.median(measured.map(_.cpu).toSeq))
    val layers: Map[String, Double] = traced.headOption.map { t =>
      t.layers ++ direct.map(_._1).getOrElse(Map.empty) ++ Map(
        "session.build_s" -> setups.buildS,
        "session.warmup_s" -> setups.warmupS,
        "ops_failed_ratio" -> Stats.Ratio(failed.toDouble, attempted.toDouble).value,
        "trace.overhead_pct" -> QueryWorkload.overheadPct(t.wall, measured.map(_.wall).toSeq))
    }.getOrElse(Map.empty)
    Outcome(
      attempted = attempted.toLong,
      failed = failed.toLong,
      mismatches = (all.flatMap(_.mismatches) ++ direct.map(_._2).getOrElse(Nil)).distinct.toSeq,
      endToEnd = Layers.metrics(Layers.endToEnd, e2e),
      layers = Layers.metrics(Layers.all, layers),
      detail = Map(
        "workload" -> "ingest_mailbox",
        "seed" -> ctx.seed,
        "cpus" -> Session.cpus,
        "mailbox" -> Map(
          "ctb_files" -> files, "clean_rows" -> gen.cleanRows,
          "rejected_rows" -> gen.rejectedRows, "failed_files" -> gen.failedFiles),
        "setup_rounds" -> setups.all.map { case (b, w) => Map("build_s" -> b, "warmup_s" -> w) },
        "drains" -> done.map { case (t, d) => Map("traced" -> t, "wall_s" -> d.wall, "cpu_s" -> d.cpu,
          "file_notify_s" -> d.fileLatencies, "layers" -> d.layers) },
        "file_notify_samples" -> latencies.size,
        "file_notify_p90_s" -> Stats.tailQuantile(latencies, 0.9),
        "ingest_rows_per_s" -> Stats.Ratio(gen.cleanRows.toDouble, e2e("batch_s"))))
  }

  /** Directory names under a drain root; none is a prefix of another, so
    * a write's target can be told from its plan text.
    */
  private def dirs(root: Path) = (root.resolve("inbox"), root.resolve("sink_table"),
    root.resolve("error_table"), root.resolve("stream_checkpoint"), root.resolve("archive_dir"))

  /** The job's configuration for a drain under `root`; the sink batch size
    * is the engine's default.
    */
  private def graftConfig(root: Path): GraftConfig = {
    val (inbox, sink, errors, ckpt, archive) = dirs(root)
    GraftConfig(
      inputDir = inbox.toString, sinkDir = sink.toString, errorsDir = errors.toString,
      checkpointDir = ckpt.toString, archiveDir = archive.toString, sourceGlob = SourceGlob)
  }

  /** One drain over a fresh copy of `gen` under `root`, then its checks
    * (skipped for the set-up phase's warm-up drains).
    */
  def drain(ctx: RunCtx, spark: SparkSession, gen: Mailbox.Generated, root: Path,
      tracer: Option[Tracer], check: Boolean = true): Drain = {
    val (inbox, sink, errors, _, archive) = dirs(root)
    Mailbox.write(gen, inbox)
    Sink.init(spark, sink.toString, CtbSchema.sparkSchema)
    val cfg = graftConfig(root)
    val notifier = new Recorder
    tracer.foreach(_.writeTargets = Seq("sink" -> sink.toString, "errors" -> errors.toString))
    val before = tracer.map { t => val s = t.snapshot(); t.resetPeak(); s }

    var stats: Option[StreamIngest.RunStats] = None
    val c0 = Session.cpuSeconds()
    val t0 = System.nanoTime()
    val err = Session.guarded(spark, s"perfbench-drain-${root.getFileName}", Session.TimeoutS,
        Map(Tracer.PhaseKey -> "drain")) {
      stats = Some(StreamIngest.runOnce(spark, cfg, notifier))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Session.cpuSeconds() - c0
    if (err.nonEmpty) spark.streams.active.foreach(_.stop())
    if (!check) return Drain(wall, cpu, Nil, Set.empty, err.toSeq, Map.empty)
    val delta = tracer.map(_.snapshot()).zip(before).map { case (a, b) => a.since(b) }

    // the source archives a trigger's files on its cleaner thread once the
    // next trigger is planned; give it up to 10 s to finish
    val ctbNames = gen.expected.map(_.name).toSet
    val mustArch = mustArchive(gen)
    def files(dir: Path): Seq[String] = if (!Files.exists(dir)) Nil
      else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!mustArch.forall(files(archive).toSet) && System.nanoTime() < deadline) Thread.sleep(50)

    val notes = notifier.notes
    val mismatches = mutable.ArrayBuffer.empty[String]
    val bad = mutable.Set.empty[String]
    def fail(file: Option[String], msg: String): Unit = {
      mismatches += s"${root.getFileName}: $msg"
      file match { case Some(f) => bad += f; case None => bad ++= ctbNames }
    }
    err.foreach(e => fail(None, s"drain failed: $e"))

    // per file: exactly one notification, of the expected kind and counts
    gen.expected.foreach { x =>
      notes.filter(_.file == x.name) match {
        case Seq(n) =>
          val ok = x.outcome match {
            case Mailbox.Success => n.kind == "success" && n.inserted.contains(x.clean)
            case Mailbox.Partial => n.kind == "error" && n.inserted.contains(x.clean) &&
              n.rowErrors.contains(x.rejected)
            case Mailbox.Failed(reason) =>
              n.kind == "error" && n.inserted.isEmpty && n.details.contains(reason)
          }
          if (!ok) fail(Some(x.name), s"${x.name}: notified $n, expected ${x.outcome} " +
            s"with ${x.clean} rows and ${x.rejected} row errors")
        case other => fail(Some(x.name), s"${x.name}: ${other.size} notifications")
      }
    }
    val stray = notes.filterNot(n => ctbNames(n.file))
    if (stray.nonEmpty) fail(None, s"unexpected notifications: ${stray.map(n => s"${n.kind} ${n.file}")}")
    val want = StreamIngest.RunStats(ctbNames.size.toLong, gen.succeededFiles.toLong)
    if (!stats.contains(want)) fail(None, s"RunStats $stats, expected $want")
    val sinkRows = spark.read.parquet(sink.toString).collect().toSeq
    val got = ContentHash.ofRows(sinkRows)
    if (got != gen.sinkHash) fail(None, s"sink digest ${got.render}, expected ${gen.sinkHash.render}")
    val errorRows = if (Files.exists(errors)) spark.read.parquet(errors.toString).count() else 0L
    if (errorRows != gen.rejectedRows + gen.failedFiles)
      fail(None, s"$errorRows error rows, expected ${gen.rejectedRows + gen.failedFiles}")
    // the files of every trigger but the last are archived; the last
    // trigger's wait in the inbox for the next drain's first trigger to
    // archive them; names outside the glob stay put
    val arch = files(archive)
    val left = files(inbox)
    val unmatched = gen.files.map(_._1).filterNot(ctbNames).toSet
    val notArchived = mustArch.filterNot(arch.toSet)
    notArchived.foreach(f => fail(Some(f), s"$f: not archived after the drain"))
    if ((arch ++ left).sorted != gen.files.map(_._1).sorted || arch.exists(unmatched))
      fail(None, s"archive holds ${arch.sorted}, inbox holds ${left.sorted}")

    val latencies = gen.expected.flatMap(x => notes.find(_.file == x.name).map(n => (n.atNs - t0) / 1e9))
    val layers = delta.map { d =>
      val parquet = Files.walk(sink).iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq
      Layers.exec(d, "drain") ++ Map(
        "exec.exec_s" -> wall,
        "exec.slot_busy_ratio" -> Stats.Ratio(d("drain.task_busy_s"), Session.cpus * wall).value,
        "exec.peak_exec_mem_mb" -> d.peakExecMem / 1048576.0,
        "stream.triggers" -> d("stream.triggers"),
        "stream.add_batch_s" -> d("stream.add_batch_s"),
        "stream.latest_offset_s" -> d("stream.latest_offset_s"),
        "stream.wal_commit_s" -> d("stream.wal_commit_s"),
        "stream.jobs_per_file" -> Stats.Ratio(d("drain.jobs"), ctbNames.size.toDouble).value,
        "stream.sink_write_s" -> d("write.sink.s"),
        "stream.error_write_s" -> d("write.errors.s"),
        "sink.files_written" -> parquet.size.toDouble,
        "sink.bytes_per_row" ->
          Stats.Ratio(parquet.map(Files.size(_)).sum.toDouble, sinkRows.size.toDouble).value,
        "notify.success" -> notes.count(_.kind == "success").toDouble,
        "notify.error" -> notes.count(_.kind == "error").toDouble,
        "notify.no_data" -> notes.count(_.kind == "no_data").toDouble,
        "lifecycle.archived_files" -> arch.size.toDouble)
    }.getOrElse(Map.empty)
    Drain(wall, cpu, latencies, bad.toSet, mismatches.toSeq, layers)
  }

  /** The traced run's direct layer calls over a fresh copy of the mailbox:
    * `CtbIngest.ingestMany`, then `Sink.appendBatched` once per file.
    * Returns the layer figures and any mismatch with the expectations.
    */
  def directLayers(ctx: RunCtx, spark: SparkSession, t: Tracer,
      gen: Mailbox.Generated): (Map[String, Double], Seq[String]) = {
    val root = ctx.work.resolve("direct")
    val cfg = graftConfig(root)
    val inbox = cfg.inputDir
    val sink = cfg.sinkDir
    Mailbox.write(gen, Paths.get(inbox))
    Sink.init(spark, sink, CtbSchema.sparkSchema)
    val sc = spark.sparkContext
    val mismatches = mutable.ArrayBuffer.empty[String]

    sc.setLocalProperty(Tracer.PhaseKey, "ingest")
    val b0 = t.snapshot()
    val p0 = System.nanoTime()
    val res = ctx.spans("ingest.ingestMany")(CtbIngest.ingestMany(spark, s"$inbox/$SourceGlob"))
    val clean = res.clean.persist()
    val (nClean, nRejected) = ctx.spans("ingest.materialize")((clean.count(), res.errors.count()))
    val parseS = (System.nanoTime() - p0) / 1e9
    val b1 = t.snapshot()
    if (nClean != gen.cleanRows || nRejected != gen.rejectedRows || res.fileFailed.size != gen.failedFiles)
      mismatches += s"ingestMany: $nClean clean, $nRejected rejected, ${res.fileFailed.size} failed files; " +
        s"expected ${gen.cleanRows}, ${gen.rejectedRows}, ${gen.failedFiles}"

    sc.setLocalProperty(Tracer.PhaseKey, "sink")
    val files = clean.select(CtbIngest.SRC_FILE).distinct().collect().map(_.getString(0)).sorted
    val b2 = t.snapshot()
    var appendS = 0.0
    var batches = 0L
    var inserted = 0L
    files.foreach { f =>
      val a0 = System.nanoTime()
      val w = ctx.spans(s"sink.appendBatched:${f.split('/').last}")(Sink.appendBatched(
        clean.filter(col(CtbIngest.SRC_FILE) === f).drop(CtbIngest.SRC_FILE), sink, cfg.batchSize))
      appendS += (System.nanoTime() - a0) / 1e9
      batches += w.attemptedBatches
      inserted += w.insertedRows
      if (w.batchErrors.nonEmpty) mismatches += s"appendBatched($f): ${w.batchErrors.head}"
    }
    val b3 = t.snapshot()
    sc.setLocalProperty(Tracer.PhaseKey, null)
    clean.unpersist(false)
    if (inserted != gen.cleanRows) mismatches += s"appendBatched inserted $inserted, expected ${gen.cleanRows}"
    val parse = b1.since(b0)
    val append = b3.since(b2)
    (Map(
      "ingest.parse_s" -> parseS,
      "ingest.parse_jobs" -> parse("ingest.jobs"),
      "ingest.rows_clean" -> nClean.toDouble,
      "ingest.rows_rejected" -> nRejected.toDouble,
      "sink.append_s" -> appendS,
      "sink.batches" -> batches.toDouble,
      "sink.jobs_per_batch" -> Stats.Ratio(append("sink.jobs"), batches.toDouble).value),
      mismatches.map(m => s"direct: $m").toSeq)
  }
}
