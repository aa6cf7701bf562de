package perfbench

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Runs a few workload operations on a real local session. */
class TracedRunSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val home = Paths.get("").toAbsolutePath
  private val work = Files.createDirectories(home.resolve("target").resolve("test-work"))
  private val cfg = Config.load(home.resolve("workloads.json"))
  private val ctx = RunCtx(cfg, home, work, seed = 5, seconds = 1, trace = true, spans = new Tracer.Spans)
  private lazy val spark = Session.build(QueryWorkload.dataDir(ctx), work)

  override def afterAll(): Unit = {
    spark.stop()
    Session.deleteRecursively(work)
  }

  test("a traced query's build + plan + exec add up to within 5% of its wall time") {
    val data = QueryWorkload.dataDir(ctx)
    val names = Seq("scan_parquet", "join_left", "window_lag", "dedup_ngram")
    names.foreach(QueryWorkload.runOp(spark, _, data, 60, None)) // warm
    val t = new Tracer(spark)
    t.install()
    try names.foreach { n =>
      val r = QueryWorkload.runOp(spark, n, data, 60, Some(t))
      assert(r.error.isEmpty, n)
      assert(r.plan > 0 && r.exec > 0, s"$n: $r")
      val parts = r.build + r.plan + r.exec
      assert(math.abs(r.wall - parts) <= 0.05 * r.wall,
        f"$n: wall ${r.wall}%.3f s vs build ${r.build}%.3f + plan ${r.plan}%.3f + exec ${r.exec}%.3f")
      assert(r.layers("exec.jobs") >= 1)
    } finally t.uninstall()
  }

  test("a drain of a generated mailbox passes every output check") {
    val small = cfg.warmupShape
    val d = IngestWorkload.drain(ctx, spark, Mailbox.generate(small, 11), work.resolve("drain"), None)
    assert(d.mismatches.isEmpty, d.mismatches.mkString("\n"))
    assert(d.fileLatencies.size == Mailbox.generate(small, 11).expected.size)
  }

  test("a drain whose output disagrees with the expectations is reported") {
    val g = Mailbox.generate(cfg.warmupShape, 12)
    // expect one row fewer than the mailbox holds: the sink check must fail
    val wrong = g.copy(expected = g.expected.map(x =>
      if (x.rows.nonEmpty && x.name == "CTB_small_000.tsv") x.copy(rows = x.rows.tail) else x))
    val d = IngestWorkload.drain(ctx, spark, wrong.copy(files = g.files), work.resolve("drain-wrong"), None)
    assert(d.mismatches.exists(_.contains("sink digest")))
    assert(d.badFiles.nonEmpty)
  }

  test("a drain over more than one trigger archives every trigger's files but the last's") {
    val shape = cfg.warmupShape.copy(smallFiles = IngestWorkload.FilesPerTrigger - 2,
      smallRowsMin = 1, smallRowsMax = 3)
    val g = Mailbox.generate(shape, 13)
    assert(g.expected.size == IngestWorkload.FilesPerTrigger + 1)
    val root = work.resolve("drain-two")
    val d = IngestWorkload.drain(ctx, spark, g, root, None)
    assert(d.mismatches.isEmpty, d.mismatches.mkString("\n"))
    val archived = Files.walk(root.resolve("archive_dir")).filter(Files.isRegularFile(_)).count()
    assert(archived >= IngestWorkload.FilesPerTrigger)

    // expecting the files in the opposite order names the last trigger's
    // file as one the first trigger took: the archive check must fail
    val reversed = g.copy(expected = g.expected.reverse)
    val r = IngestWorkload.drain(ctx, spark, reversed, work.resolve("drain-two-wrong"), None)
    assert(r.mismatches.exists(_.contains("not archived after the drain")), r.mismatches.mkString("\n"))
  }
}
