package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Sink precondition (C2) + batched append with partial-success accounting (C3). */
class SinkSpec extends AnyFunSuite with SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("t").toString

  test("C2: tableExists is false for a missing path, true after init") {
    val path = tmp("sink")
    assert(!Sink.tableExists(spark, path))
    Sink.init(spark, path, graft.schema.CtbSchema.sparkSchema)
    assert(Sink.tableExists(spark, path))
  }

  test("C3: appendBatched slices into bounded batches and appends all rows") {
    import spark.implicits._
    val path = tmp("sink3")
    Sink.init(spark, path, (1 to 0).toDF("v").schema)
    val res = Sink.appendBatched((1 to 10).toDF("v"), path, batchSize = 3)
    assert(res.insertedRows == 10)
    assert(res.attemptedBatches >= 4) // ceil(10/3) per partition grouping
    assert(res.batchErrors.isEmpty)
    assert(spark.read.parquet(path).count() == 10)
  }

  test("partitioned sink prunes partitions for date predicates") {
    import spark.implicits._
    val path = tmp("sinkp")
    val df = Seq(
      ("A", "2025-01-01"), ("B", "2025-01-01"), ("C", "2025-01-02"),
      ("D", "2025-01-03"), ("E", "2025-01-03")).toDF("org", "snapshot_date")
    Sink.appendPartitioned(df, path, "snapshot_date")
    val q = spark.read.parquet(path).filter($"snapshot_date" === "2025-01-03")
    assert(q.count() == 2)
    // pruning is observable in the scan: only 1 of 3 partition dirs is read
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
    val readParts = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(readParts == 1, s"expected 1 pruned partition, scanned $readParts")
  }

  test("compact rewrites a many-small-files table to few files, same rows") {
    import spark.implicits._
    val path = tmp("sinkc")
    (1 to 20).foreach(i => Seq((i, s"v$i")).toDF("k", "v").write.mode("append").parquet(path))
    def nFiles = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 20)
    val before = spark.read.parquet(path).orderBy("k").collect().toSeq
    val written = Sink.compact(spark, path, rowsPerFile = 1000000L)
    assert(written == 1 && nFiles == 1)
    assert(spark.read.parquet(path).orderBy("k").collect().toSeq == before)
  }

  test("C2: tableExists rejects a non-empty directory that is not a parquet table") {
    val dir = Files.createTempDirectory("notatable")
    Files.writeString(dir.resolve("readme.txt"), "unrelated")
    assert(!Sink.tableExists(spark, dir.toString))
  }

  test("C2: tableExists accepts a partitioned table (parquet one level down)") {
    import spark.implicits._
    val path = tmp("sinkpe")
    Sink.appendPartitioned(
      Seq(("A", "2025-01-01")).toDF("org", "snapshot_date"), path, "snapshot_date")
    assert(Sink.tableExists(spark, path))
  }

  test("compact preserves a partitioned layout (pruning still works after)") {
    import spark.implicits._
    val path = tmp("sinkcp")
    val df = Seq(
      ("A", "2025-01-01"), ("B", "2025-01-02"), ("C", "2025-01-03")).toDF("org", "snapshot_date")
    Sink.appendPartitioned(df, path, "snapshot_date")
    Sink.compact(spark, path)
    // layout survived: key=value dirs still present, appends stay consistent
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("snapshot_date=")) == 3, dirs.toSeq)
    Sink.appendPartitioned(
      Seq(("D", "2025-01-03")).toDF("org", "snapshot_date"), path, "snapshot_date")
    val q = spark.read.parquet(path).filter($"snapshot_date" === "2025-01-03")
    assert(q.count() == 2)
    assert(spark.read.parquet(path).count() == 4)
    val readParts = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
      .selectedPartitions.partitionCount
    assert(readParts == 1, s"expected 1 pruned partition, scanned $readParts")
  }

  test("compact recovers from a crash inside the swap window") {
    import spark.implicits._
    val path = tmp("sinkcr")
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(path)
    val before = spark.read.parquet(path).orderBy("k").collect().toSeq
    // simulate a crash between the two renames: table gone, only _compact_bak
    // (old data) and a possibly-partial _compact_tmp remain
    val f = new java.io.File(path)
    assert(f.renameTo(new java.io.File(path + "_compact_bak")))
    val tmpDir = new java.io.File(path + "_compact_tmp")
    tmpDir.mkdirs()
    Files.writeString(tmpDir.toPath.resolve("part-partial.parquet"), "truncated")
    // next compact() heals first (restores the known-good backup, drops the
    // partial tmp), then compacts normally
    assert(Sink.recoverCompact(spark, path))
    assert(spark.read.parquet(path).orderBy("k").collect().toSeq == before)
    assert(!new java.io.File(path + "_compact_bak").exists())
    assert(!tmpDir.exists())
    val written = Sink.compact(spark, path)
    assert(written == 1)
    assert(spark.read.parquet(path).orderBy("k").collect().toSeq == before)
    // a stale bak next to a healthy table (crash after swap) is dropped too
    new java.io.File(path + "_compact_bak").mkdirs()
    assert(!Sink.recoverCompact(spark, path))
    assert(!new java.io.File(path + "_compact_bak").exists())
  }

  test("idempotent batch writer: a replayed micro-batch overwrites itself, not appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmp("idem")
    Sink.writeBatchIdempotent(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, batchId = 0)
    Sink.writeBatchIdempotent(Seq((3L, "c")).toDF("k", "v"), dir, batchId = 1)
    // crash-replay window: batch 1 runs again (same batchId, same data —
    // the Structured Streaming replay contract)
    Sink.writeBatchIdempotent(Seq((3L, "c")).toDF("k", "v"), dir, batchId = 1)
    val rows = spark.read.parquet(dir)
    assert(rows.count() === 3, "replay must not duplicate rows")
    assert(rows.filter(col("batch") === 1).count() === 1)
    // and per-batch reads prune to the batch directory (partition column)
    assert(rows.filter(col("batch") === 0).select("k").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
  }

  test("appendBatched rejects batchSize < 1 with a clear error") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException](
      Sink.appendBatched((1 to 3).toDF("v"), tmp("sinkbz"), batchSize = 0))
    assert(e.getMessage.contains("batchSize"))
  }

  test("C3 batch plan: files sharing a partition batch exactly as each would alone") {
    // one trigger's worth of CTB files packed into ONE input partition: a
    // 1200-row file (the largest, so it leads the partition) and six small
    // ones behind it. Per-file batches from the trigger-wide plan must be
    // the batches a solo appendBatched over that file's rows gives — a
    // naive trigger-wide `monotonically_increasing_id() div batchSize`
    // would let a boundary fall inside a small file.
    import org.apache.spark.sql.functions.{col, countDistinct, expr, spark_partition_id}
    val header = graft.schema.CtbSchema.canonicalColumns.mkString("\t")
    def row(org: String) = Seq(org, "ACME", "C1", "I1", "CP1", "desc", "2025-01-15", "100",
      "90", "2025-01-20", "F-A", "2025-01-22", "10", "2", "1", "GP", "M", "14", "GC",
      "cpd", "2025-01-01").mkString("\t")
    val dir = Files.createTempDirectory("plan")
    def put(name: String, n: Int): Unit = Files.write(dir.resolve(name),
      (header +: (1 to n).map(i => row(s"$name-$i"))).mkString("\n").getBytes("UTF-8"))
    put("big.tsv", 1200)
    val small = (0 until 16).map(i => 10 + 2 * i) // 400 rows in 16 files
    small.zipWithIndex.foreach { case (n, i) => put(s"small$i.tsv", n) }
    val total = 1200L + small.sum
    val conf = spark.conf
    val saved = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.files.openCostInBytes", "0")
      conf.set("spark.sql.files.minPartitionNum", "1")
      val clean = CtbIngest.ingestMany(spark, dir.toString).clean
      val perPart = clean.groupBy(spark_partition_id()).count().collect()
      assert(perPart.length == 1 && perPart.head.getLong(1) == total,
        s"fixture regression: files must share one partition, got ${perPart.toSeq}")
      val naive = clean.withColumn("b", expr("monotonically_increasing_id() div 500"))
        .groupBy(CtbIngest.SRC_FILE).agg(countDistinct("b").as("n"))
        .filter(col("n") > 1).count()
      assert(naive == 2, "fixture regression: trigger-wide ids must split a small file")
      val files = clean.select(CtbIngest.SRC_FILE).distinct().collect().map(_.getString(0)).sorted
      val plan = new Sink.BatchPlan(clean, CtbIngest.SRC_FILE, 500)
      val planned = try files.map(f => f -> plan.write(f, (_, _) => ())).toMap finally plan.release()
      files.foreach { f =>
        val solo = Sink.appendBatched(clean.filter(col(CtbIngest.SRC_FILE) === f)
          .drop(CtbIngest.SRC_FILE), tmp("solo"), 500)
        assert(planned(f) == solo, f)
      }
      val big = planned(files.find(_.endsWith("big.tsv")).get)
      assert(big.attemptedBatches == 3 && big.insertedRows == 1200L)
      assert(planned.values.map(_.insertedRows).sum == total)
      assert(planned.values.map(_.attemptedBatches).sum == 3 + small.length)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("C3: a failing batch is isolated — partial success, error accumulated") {
    import spark.implicits._
    val path = tmp("sink4")
    var failed = false
    val res = Sink.appendBatched((1 to 10).toDF("v").repartition(1), path, batchSize = 5,
      writeBatchOpt = Some { (df, b) =>
        if (!failed) { failed = true; throw new RuntimeException("injected RPC failure") }
        df.write.mode("append").parquet(path)
      })
    assert(res.attemptedBatches == 2)
    assert(res.batchErrors.size == 1)
    assert(res.batchErrors.head.contains("injected RPC failure"))
    assert(res.insertedRows == 5) // the surviving batch
    assert(spark.read.parquet(path).count() == 5)
  }
}
