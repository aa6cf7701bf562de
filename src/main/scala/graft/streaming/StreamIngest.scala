package graft.streaming

import graft.config.GraftConfig
import graft.ingest.{CtbIngest, Sink}
import graft.notify.Notifier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.hadoop.fs.Path
import java.util.concurrent.atomic.AtomicLong
import scala.util.{Failure, Try}

/** The reference's poll -> process -> ack cycle (reference main.py:648-687)
  * as a Structured Streaming file-source pipeline:
  *
  *   - discovery: `readStream` over an input directory (the "mailbox"),
  *     `Trigger.AvailableNow` = one poll cycle that drains everything
  *     currently pending (the reference's batch run); `pathGlobFilter`
  *     carries the source-pushed predicate (the GMAIL_QUERY / CTB-prefix
  *     idiom, A1);
  *   - processing: the same CtbIngest per-row semantics applied in
  *     `foreachBatch`, with the C2 sink precondition and the C3 batched
  *     append (partial-success accounting);
  *   - commit/ack: checkpointed offsets ARE the INBOX-label removal — a
  *     second run is a no-op for already-seen files (main.py:667 semantics);
  *     `cleanSource=archive` mirrors the Unprocessed->Processed move
  *     (main.py:493-494);
  *   - reporting: D2/D3/D4 notifications fire on the same conditions as the
  *     reference (success with inserted count; error with the accumulated
  *     report; no-data when nothing was found OR nothing succeeded,
  *     main.py:679-685).
  *
  * Per-file isolation (E1): a malformed or poison file records its failure
  * and notification and the run continues (reference's per-message
  * try/except, main.py:662-677).
  *
  * Scale notes:
  *   - the whole micro-batch is parsed and validated as ONE distributed
  *     plan (CtbIngest.ingestManyLines — per-file line numbers from a
  *     single stats pass, one row-rule pipeline per distinct header
  *     layout), so ingest cost is O(#layouts) Spark jobs per trigger, not
  *     O(#files);
  *   - row-error accounting is batch-wide: per-file error counts and
  *     bounded notification samples come from ONE aggregation, and the
  *     error sink gets ONE append per trigger instead of one per file;
  *   - the C3 commit runs from ONE batch plan per trigger
  *     ([[Sink.BatchPlan]] keyed by source file), so committing a file
  *     costs one append job per batch and nothing else. Files commit in
  *     sorted order, each notified as soon as its batches are written.
  */
object StreamIngest {

  final case class RunStats(filesSeen: Long, filesSucceeded: Long)

  /** Serializes physical appends into the shared sink/error directories:
    * concurrent append jobs into ONE directory race on the output
    * committer's shared `_temporary` dir. JVM-wide on purpose: two
    * concurrent drains against the same directories must not interleave
    * committer state.
    */
  private val sinkLock = new Object

  /** Run one AvailableNow drain cycle. Returns after the stream finishes. */
  def runOnce(spark: SparkSession, cfg: GraftConfig, notifier: Notifier): RunStats = {
    val seen = new AtomicLong(0)
    val succeeded = new AtomicLong(0)
    // 0-byte files yield no scan rows, so they are invisible to the batch's
    // row-derived file list AND the stats pass. They are handled ONCE per
    // run, after the drain (see below), debounced against mid-write races:
    // a file must be empty at BOTH run start and run end, and absent from
    // every batch, before it is B1-failed.
    val seenInBatch = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def zeroByte(pathOrGlob: String, recursive: Boolean): Set[String] =
      try CtbIngest.listFiles(spark, pathOrGlob, recursive)
        .filter(_.getLen == 0).map(_.getPath.getName).toSet
      catch { case _: Exception => Set.empty[String] }
    val inputGlob = new Path(cfg.inputDir, cfg.sourceGlob).toString
    val zeroAtStart = zeroByte(inputGlob, recursive = false)

    val raw = spark.readStream
      .option("cleanSource", "archive")
      .option("sourceArchiveDir", cfg.archiveDir)
      .option("maxFilesPerTrigger", 64)
      .option("pathGlobFilter", cfg.sourceGlob)
      .text(cfg.inputDir)

    val q = raw.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Only file NAMES and per-file stats reach the driver (the reference
        // materialized whole files in driver memory, main.py:366 — rejected
        // here); the batch's rows are parsed as one distributed plan.
        val spark2 = batch.sparkSession
        val files = batch.select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
        files.foreach(f => seenInBatch.add(new Path(f).getName))

        if (files.nonEmpty) {
          def failAll(reason: String) = CtbIngest.MultiIngestResult(
            spark2.emptyDataFrame, spark2.emptyDataFrame, files.map(_ -> reason).toMap)
          val multi =
            if (!Sink.tableExists(spark2, cfg.sinkDir))
              // C2: missing destination table fails the file, no auto-create
              // (and no parse)
              failAll(s"Destination table '${cfg.sinkDir}' does not exist. " +
                "Please ensure the table is created before running.")
            else try CtbIngest.ingestManyLines(spark2, batch)
            catch { case e: Exception =>
              // a scan-level poison batch (unreadable file, vanished split)
              // must not kill the run (E1): fail the batch's files with the
              // cause, keep draining subsequent triggers
              failAll(s"Batch parse failed: $e")
            }
          seen.addAndGet(files.length)
          succeeded.addAndGet(commitTrigger(spark2, cfg, notifier, files, multi)): Unit
        }
      }
      .start()
    q.awaitTermination()

    // B1 for 0-byte files (round-4 verdict gap, race-hardened in round 6):
    // fail a file only if it was empty at BOTH the run's start and its end
    // (a file mid-write at one listing has grown by the other) and no batch
    // saw it. A persisted handled-set next to the stream checkpoint keeps a
    // crash between failure and archive from re-failing the same file on
    // every later run, and the failed file is moved to the archive dir —
    // the same Unprocessed->Processed move cleanSource=archive performs for
    // processed files — so the mailbox self-cleans.
    try {
      val fs = new Path(cfg.inputDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val handledDir = new Path(cfg.checkpointDir, "graft-handled-empty")
      def handled(name: String): Boolean = fs.exists(new Path(handledDir, name))
      // The file source lists 0-byte files too: it "completes" them (zero
      // rows, so no batch ever names them) and cleanSource=archive may move
      // them out of inputDir before this listing. A 0-byte file that
      // migrated to the archive is still unprocessed data and must B1-fail
      // — so the end listing is input ∪ archive (recursive: the source
      // archives under the file's full source path).
      val zeroAtEnd = zeroByte(inputGlob, recursive = false) ++ zeroByte(cfg.archiveDir, recursive = true)
      val toFail = (zeroAtStart intersect zeroAtEnd)
        .filterNot(n => seenInBatch.contains(n) || handled(n))
      toFail.toSeq.sorted.foreach { name =>
        seen.incrementAndGet()
        fileFailed(spark, cfg, notifier, name, "File is empty")
        try {
          fs.mkdirs(handledDir)
          fs.create(new Path(handledDir, name), true).close()
          // move only if the source's own cleanup hasn't already archived it
          if (fs.exists(new Path(cfg.inputDir, name))) {
            fs.mkdirs(new Path(cfg.archiveDir))
            fs.rename(new Path(cfg.inputDir, name), new Path(cfg.archiveDir, name)): Unit
          }
        } catch { case _: Exception => () } // marker/move best-effort; failure keeps the error record
      }
    } catch { case _: Exception => () }

    // D4: nothing found, or found but nothing succeeded (main.py:679-685)
    if (succeeded.get() == 0)
      notifier.notifyNoData(s"${cfg.inputDir}/${cfg.sourceGlob}")
    RunStats(seen.get(), succeeded.get())
  }

  /** Commit one parsed trigger; returns the number of files that
    * succeeded. A batch plan that cannot be built fails every committable
    * file with the cause (E1), like any other exception scoped to a file.
    */
  private[streaming] def commitTrigger(
      spark: SparkSession, cfg: GraftConfig, notifier: Notifier,
      files: Seq[String], multi: CtbIngest.MultiIngestResult): Int = {
    val committable = files.exists(f => !multi.fileFailed.contains(f))
    val errors = multi.errors.persist()
    try {
      // batch-wide row-error accounting: ONE aggregation for per-file
      // counts + bounded samples, ONE append into the error sink.
      // Bound the notification sample BEFORE any aggregation buffer: the
      // window ranks errors per file through a spillable sort, so only the
      // 20 lexicographically-first survive into collect_list (when() yields
      // null past the cap; collect_list skips nulls). A pathological
      // million-error file thus never materializes its error strings in
      // one executor buffer.
      val perFile = org.apache.spark.sql.expressions.Window
        .partitionBy(col(CtbIngest.SRC_FILE)).orderBy(col("error"))
      val errStats: Map[String, (Long, Seq[String])] =
        if (!committable) Map.empty
        else errors
          .withColumn("rn", row_number().over(perFile))
          .groupBy(col(CtbIngest.SRC_FILE))
          .agg(count(lit(1)).as("n"),
            collect_list(when(col("rn") <= 20, col("error"))).as("sample"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[String](2).sorted.toList: Seq[String]))
          .toMap
      if (errStats.nonEmpty) sinkLock.synchronized {
        errors.drop(CtbIngest.SRC_FILE).write.mode("append").parquet(cfg.errorsDir)
      }
      val plan =
        if (committable) Try(new Sink.BatchPlan(multi.clean, CtbIngest.SRC_FILE, cfg.batchSize))
        else Failure(new NoSuchElementException("no committable file"))
      try files.count { file =>
        val name = new Path(file).getName
        try multi.fileFailed.get(file) match {
          case Some(reason) =>
            fileFailed(spark, cfg, notifier, name, reason)
            false
          case None =>
            val (nErrors, errSample) = errStats.getOrElse(file, (0L, Seq.empty[String]))
              val w = plan.get.write(file, (df, _) => sinkLock.synchronized {
              df.write.mode("append").parquet(cfg.sinkDir)
            })
            if (w.insertedRows > 0) {
              // partial success IS success (reference main.py:470-495)
              if (w.batchErrors.isEmpty && nErrors == 0)
                notifier.notifySuccess(name, w.insertedRows)
              else
                notifier.notifyError(name,
                  s"Inserted ${w.insertedRows} rows with ${nErrors} row-level " +
                    s"errors and ${w.batchErrors.size} batch errors:\n" +
                    (w.batchErrors ++ errSample).mkString("\n"))
              true
            } else {
              fileFailed(spark, cfg, notifier, name,
                s"No valid rows from '$name' could be inserted into the sink." +
                  (if (nErrors > 0) "\nRow-level errors:\n" + errSample.mkString("\n") else ""))
              false
            }
        } catch {
          case e: Exception => // poison file must not kill the run (E1)
            try fileFailed(spark, cfg, notifier, name, e.toString)
            catch { case _: Exception => () }
            false
        }
      } finally plan.foreach(_.release())
    } finally errors.unpersist(false)
  }

  /** Failure path: every file-scoped failure converges on error-sink write +
    * D3 notification (reference §3.3 convergence). The parquet append holds
    * [[sinkLock]].
    */
  private def fileFailed(
      spark: SparkSession, cfg: GraftConfig, notifier: Notifier,
      name: String, reason: String): Unit = {
    import spark.implicits._
    sinkLock.synchronized {
      Seq(s"$name: $reason").toDF("error")
        .write.mode("append").parquet(cfg.errorsDir)
    }
    notifier.notifyError(name, reason)
  }
}
