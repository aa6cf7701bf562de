package perfbench

import java.nio.file.{Files, Path, Paths}

/** Entry point: `Main --home <benchmark dir> --workload <name> --seed <n>
  * --seconds <s> --trace <0|1>`, or `Main --home <dir> --record` to
  * re-record the query digests.
  *
  * Prints the run's result as one JSON line prefixed with `RESULT ` and
  * writes the full record (per-op figures, tails, spans) to
  * `<home>/out/<workload>-seed<seed>-trace<0|1>.json`.
  */
object Main {
  val Workloads = Seq("ingest_mailbox", "queries")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val record = args.contains("--record")
    val home = Paths.get(opts.getOrElse("home", "perfbench")).toAbsolutePath.normalize
    val workload = opts.getOrElse("workload", "")
    if (!record && !Workloads.contains(workload)) {
      System.err.println(s"unknown workload '$workload'; expected one of ${Workloads.mkString(", ")}")
      sys.exit(2)
    }
    val work = home.resolve(".work")
    Session.deleteRecursively(work)
    Files.createDirectories(work)
    val ctx = RunCtx(
      cfg = Config.load(home.resolve("workloads.json")),
      home = home,
      work = work,
      seed = opts.getOrElse("seed", "1").toLong,
      seconds = opts.getOrElse("seconds", "10").toDouble,
      trace = opts.getOrElse("trace", "0") == "1",
      spans = new Tracer.Spans)
    try {
      if (record) recordDigests(ctx)
      else {
        val o = workload match {
          case "ingest_mailbox" => IngestWorkload.run(ctx)
          case _ => QueryWorkload.run(ctx)
        }
        val spans = ctx.spans.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9))
        Report.writeDetail(home.resolve("out").resolve(
          s"$workload-seed${ctx.seed}-trace${if (ctx.trace) 1 else 0}.json"),
          o.copy(detail = o.detail + ("spans" -> spans)))
        o.mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
        System.out.flush()
        println("RESULT " + Report.resultLine(o, ctx.trace))
        System.out.flush()
      }
    } finally Session.deleteRecursively(work)
  }

  private def recordDigests(ctx: RunCtx): Unit = {
    val digests = QueryWorkload.record(ctx)
    val errors = digests.filter(_._2.startsWith("error"))
    errors.foreach { case (n, e) => System.err.println(s"[perfbench] $n: $e") }
    val file: Path = QueryWorkload.expectedFile(ctx)
    Files.createDirectories(file.getParent)
    Files.writeString(file, Report.json(Map(
      "data" -> QueryWorkload.Data,
      "digest" -> "row count : sum of per-row 64-bit hashes of canonical text, see ContentHash",
      "digests" -> scala.collection.immutable.TreeMap(digests.toSeq: _*))) + "\n")
    if (errors.nonEmpty) sys.exit(1)
  }
}
