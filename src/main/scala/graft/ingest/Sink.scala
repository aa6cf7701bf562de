package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Destination-table sink: existence precondition + batched append.
  *
  * C2 (reference main.py:416-430): the reference refuses to auto-create the
  * destination table — a missing table fails the file with an error
  * notification. [[tableExists]] checks for an initialized sink;
  * [[init]] is the explicit create step the reference expects a human to
  * have run beforehand.
  *
  * C3 (reference main.py:448-468): rows are appended in slices of
  * `batchSize` with PER-BATCH error isolation and partial-success
  * accounting — a failing batch records its error and the loop continues;
  * the file counts as successfully processed iff at least one row landed.
  * Batch ids derive from per-partition row indexes (no global sort), so
  * slicing is partition-parallel ([[BatchPlan]]); the per-batch commit
  * loop itself is a faithful reproduction of the reference's RPC
  * batching — at production scale a connector's own batched writer
  * replaces it (Spark's file
  * committer is all-or-nothing per job, which cannot express the
  * reference's partial success).
  */
object Sink {

  final case class BatchedWriteResult(
      insertedRows: Long,
      attemptedBatches: Int,
      batchErrors: Seq[String])

  /** C2: is the sink initialized? True for a registered catalog table name
    * or for a path holding an actual committed parquet table — evidence is a
    * `_SUCCESS` marker or at least one `*.parquet` data file (directly or one
    * level down inside `key=value` partition directories). A merely
    * non-empty directory (a typo'd or unrelated path) does NOT count: the
    * reference's C2 check validates a real table, and appending into an
    * arbitrary directory would corrupt it.
    */
  def tableExists(spark: SparkSession, table: String): Boolean =
    if (try spark.catalog.tableExists(table) catch { case _: Exception => false }) true
    else {
      val p = new Path(table)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def evidence(dir: Path): Boolean = fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        (st.isFile && (n == "_SUCCESS" || n.endsWith(".parquet"))) ||
          (st.isDirectory && n.contains("=") && evidence(st.getPath))
      }
      fs.exists(p) && fs.getFileStatus(p).isDirectory && evidence(p)
    }

  /** Explicit sink creation: writes an empty parquet table with the given
    * schema (the "CREATE TABLE" the reference assumes was already run).
    */
  def init(spark: SparkSession, path: String, schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(path)

  /** Append partitioned by a date-like column — the lake layout for a
    * 100 TB sink: per-day directories let date predicates prune partitions
    * at planning time instead of scanning the table.
    */
  def appendPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("append").partitionBy(partitionCol).parquet(path)

  /** Partition columns of a parquet directory layout, outermost first:
    * the `key=` names on the chain of `key=value` subdirectories.
    */
  private def partitionColsOf(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    @annotation.tailrec
    def walk(dir: Path, acc: Seq[String]): Seq[String] =
      fs.listStatus(dir).find(st => st.isDirectory && st.getPath.getName.contains("=")) match {
        case Some(st) => walk(st.getPath, acc :+ st.getPath.getName.takeWhile(_ != '='))
        case None => acc
      }
    walk(new Path(path), Nil)
  }

  /** Compact a (possibly partition-subdir'd) parquet table in place:
    * streaming appends land one small file per micro-batch/file, and a
    * 100 TB table dies by a thousand 50 KB files. Rewrites to
    * ceil(rows/rowsPerFile) files via an atomic directory swap.
    *
    * Partitioned layouts are preserved: the `key=value` directory chain is
    * detected before the rewrite and the replacement is written with the
    * same `partitionBy`, so partition pruning survives compaction and later
    * [[appendPartitioned]] calls land in a consistent layout.
    */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long = 1000000L): Int = {
    recoverCompact(spark, path) // heal a crashed prior swap before touching anything
    val partCols = partitionColsOf(spark, path)
    val df = spark.read.parquet(path)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / rowsPerFile).toInt)
    val tmp = path + "_compact_tmp"
    df.repartition(files).write.mode("overwrite")
      .partitionBy(partCols: _*).parquet(tmp)
    val p = new Path(path); val t = new Path(tmp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(path + "_compact_bak")
    if (!fs.rename(p, bak)) throw new java.io.IOException(s"compact: backup rename failed for $path")
    if (!fs.rename(t, p)) { fs.rename(bak, p); throw new java.io.IOException(s"compact: swap failed for $path") }
    fs.delete(bak, true)
    files
  }

  /** Crash recovery for [[compact]]'s swap window: between the two renames
    * the table path briefly doesn't exist, and a crash there leaves only
    * `_compact_bak` (old data, intact) and possibly `_compact_tmp` (new
    * data, unswapped). Recovery restores the backup as the table — the
    * conservative choice: the backup is known-complete, the tmp may be a
    * partial write — and drops the tmp. Invoked automatically at the top of
    * [[compact]]; callers can also run it at process start. Readers racing
    * a live compaction should treat a transient missing path as retryable;
    * on an object store a manifest-pointer commit replaces the rename pair.
    *
    * @return true if a crashed swap was found and healed
    */
  def recoverCompact(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(path + "_compact_bak")
    val tmp = new Path(path + "_compact_tmp")
    if (!fs.exists(p) && fs.exists(bak)) {
      if (!fs.rename(bak, p))
        throw new java.io.IOException(s"compact recovery: restore rename failed for $path")
      fs.delete(tmp, true)
      true
    } else {
      // normal completion leaves neither; a crash AFTER the swap completes
      // can leave a stale bak next to a healthy table — drop it
      if (fs.exists(p) && fs.exists(bak)) fs.delete(bak, true)
      false
    }
  }

  /** Idempotent micro-batch writer for `foreachBatch` sinks: the
    * streaming engine's batchId keys a partition directory, and a
    * REPLAYED batch (crash between sink write and checkpoint commit — the
    * at-least-once window every appendBatched-style sink has) OVERWRITES
    * its own directory instead of appending a second copy. This is the
    * standard exactly-once-into-a-batch-sink recipe for sinks without
    * transactions: Structured Streaming guarantees a given batchId always
    * carries the same data, so overwrite-by-batchId is a safe upsert.
    * Readers see `batch` as a partition column under `sinkDir`; the
    * directory-granular overwrite never touches other batches' files.
    */
  def writeBatchIdempotent(df: DataFrame, sinkDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")

  /** C3: append `clean` to `path` in batches of at most `batchSize` rows —
    * the one-key case of [[BatchPlan]].
    *
    * @param writeBatch pluggable batch writer (tests inject failures to
    *                   exercise the partial-success accounting); default
    *                   appends parquet.
    */
  def appendBatched(
      clean: DataFrame,
      path: String,
      batchSize: Int,
      writeBatchOpt: Option[(DataFrame, Long) => Unit] = None): BatchedWriteResult = {
    val plan = new BatchPlan(clean.withColumn("_key", lit("")), "_key", batchSize)
    try plan.write("", writeBatchOpt.getOrElse(
      (df: DataFrame, _: Long) => df.write.mode("append").parquet(path)))
    finally plan.release()
  }

  /** The C3 batches of every value of the string column `key` (e.g. the
    * source file) at once. A key's batches are chunks of at most
    * `batchSize` of ITS rows within each input partition: batch id =
    * ((partition << 33) + the row's index among its key's rows there) div
    * batchSize, the value `monotonically_increasing_id() div batchSize`
    * gives over that key's rows alone — other keys in the partition never
    * move a boundary. The rows are persisted with their ids once (one
    * narrow pass, no sort) and every (key, batch) row count comes from
    * one aggregate, run by the constructor: a plan that cannot be built
    * throws before any write. Call [[release]] when done.
    */
  private[graft] final class BatchPlan(clean: DataFrame, key: String, batchSize: Int) {
    require(batchSize >= 1, s"appendBatched: batchSize must be >= 1, got $batchSize")

    private val rows = {
      val keyAt = clean.schema.fieldIndex(key)
      val size = batchSize // a local, so the task closure does not capture the plan
      clean.mapPartitions { it =>
        val base = TaskContext.getPartitionId().toLong << 33
        val seen = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { r =>
          val i = seen.getOrElse(r.getString(keyAt), 0L)
          seen(r.getString(keyAt)) = i + 1
          Row.fromSeq(r.toSeq :+ (base + i) / size)
        }
      }(Encoders.row(clean.schema.add("_batch", LongType, nullable = false)))
    }.persist()

    /** key -> (batch id, rows) per batch, ascending by id */
    private val batches: Map[String, Seq[(Long, Long)]] =
      try rows.groupBy(key, "_batch").count().collect().toSeq
        .groupMap(_.getString(0))(r => (r.getLong(1), r.getLong(2)))
        .map { case (k, bs) => k -> bs.sortBy(_._1) }
      catch { case e: Throwable => rows.unpersist(false); throw e }

    /** Write `k`'s batches in id order; a batch's precomputed row count is
      * added to `insertedRows` only if its write returns, and a failing
      * batch records its error while the loop continues.
      */
    def write(k: String, writeBatch: (DataFrame, Long) => Unit): BatchedWriteResult = {
      val mine = batches.getOrElse(k, Seq.empty)
      var inserted = 0L
      val errors = Seq.newBuilder[String]
      mine.zipWithIndex.foreach { case ((b, n), i) =>
        val batch = rows.filter(col(key) === k && col("_batch") === b).drop(key, "_batch")
        try {
          writeBatch(batch, b)
          inserted += n
        } catch {
          case e: Exception =>
            errors += s"Batch ${i + 1} insertion failed: ${e.getMessage}"
        }
      }
      BatchedWriteResult(inserted, mine.length, errors.result())
    }

    def release(): Unit = rows.unpersist(false)
  }
}
