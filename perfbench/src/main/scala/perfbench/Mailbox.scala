package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.LocalDate

/** Seeded CTB mailbox for the `ingest_mailbox` workload.
  *
  * The shape (how many files, how many rows each, how many bad rows) is
  * fixed by [[Mailbox.Shape]]; the seed only chooses the contents: field
  * values, which rows are bad and how, and which files carry a BOM. Every
  * file's expected outcome is computed here, from the generator's own
  * knowledge of what it wrote, without calling the engine's parser.
  */
object Mailbox {

  /** Frozen mailbox shape (mirrored in `workloads.json`). */
  final case class Shape(
      smallFiles: Int,
      smallRowsMin: Int,
      smallRowsMax: Int,
      largeRows: Seq[Int],
      badPermille: Int,
      unmatchedFiles: Int)

  val RawHeaders: Seq[String] = Seq(
    "Org Code", "Master Cust Name", "Customer Number", "Item Number",
    "Cust Part Num", "Item Description", "Demand Due Date", "Demand Qty",
    "Avail OnTime", "Avail Date", "SplitAvail Supply Source", "SplitAvailDate",
    "SplitAvail Qty", "Days Late", "Unique Short Qty Count", "Gating Part",
    "Gating M/B", "Gating LT", "Gating Cust Part", "Cust Part Description",
    "Snapshot Date")

  /** Column kinds in header order: 's' string, 'i' integer, 'd' date. */
  private val Kinds: String = "ssssssdiidsdiiississd"
  private val QtyCol = 7
  private val DueDateCol = 6

  sealed trait Fault
  case object BadQty extends Fault
  case object BadDate extends Fault
  case object BadWidth extends Fault

  sealed trait Outcome
  /** Every row landed: a success notification with the inserted count. */
  case object Success extends Outcome
  /** Some rows landed, some were rejected: an error notification. */
  case object Partial extends Outcome
  /** The whole file failed (unknown header, empty, header-only). */
  final case class Failed(reason: String) extends Outcome

  /** What one generated file must produce. `rows` are the typed values the
    * sink must hold for it (null, Long, LocalDate or String per column).
    */
  final case class Expected(
      name: String,
      outcome: Outcome,
      rows: Seq[IndexedSeq[Any]],
      faults: Seq[Fault]) {
    def clean: Long = rows.size.toLong
    def rejected: Long = faults.size.toLong
  }

  final case class Generated(
      files: Seq[(String, Array[Byte])],
      expected: Seq[Expected]) {
    def cleanRows: Long = expected.map(_.clean).sum
    def rejectedRows: Long = expected.map(_.rejected).sum
    def failedFiles: Int = expected.count(_.outcome.isInstanceOf[Failed])
    def succeededFiles: Int = expected.count(_.clean > 0)
    def sinkHash: ContentHash.Digest =
      ContentHash.ofValues(expected.flatMap(_.rows))
  }

  /** Row count of small file `i`: a fixed schedule, not seeded, so every
    * seed drains the same number of rows and files.
    */
  def smallRows(shape: Shape, i: Int): Int =
    shape.smallRowsMin + (i * 13) % (shape.smallRowsMax - shape.smallRowsMin + 1)

  /** Bad rows in data file `i`: the odd-numbered files carry twice the
    * shape's share and the even-numbered ones none, so a mailbox holds
    * both fully clean files (success mail) and partial ones (error mail).
    */
  def badCount(shape: Shape, i: Int, rows: Int): Int =
    if (i % 2 == 0) 0 else (rows * 2 * shape.badPermille + 500) / 1000

  def generate(shape: Shape, seed: Long): Generated = {
    val rng = new java.util.SplittableRandom(seed)
    val out = Seq.newBuilder[(String, Array[Byte])]
    val exp = Seq.newBuilder[Expected]

    def dataFile(name: String, i: Int, n: Int): Unit = {
      val r = rng.split()
      val nBad = badCount(shape, i, n)
      // choose nBad distinct row positions, and one fault for each
      val badAt = scala.collection.mutable.LinkedHashMap.empty[Int, Fault]
      while (badAt.size < nBad) {
        val at = r.nextInt(n)
        if (!badAt.contains(at)) badAt(at) = r.nextInt(3) match {
          case 0 => BadQty
          case 1 => BadDate
          case _ => BadWidth
        }
      }
      val lines = Seq.newBuilder[String]
      val good = Seq.newBuilder[IndexedSeq[Any]]
      val bom = if (r.nextInt(4) == 0) "﻿" else ""
      lines += bom + RawHeaders.mkString("\t")
      for (k <- 0 until n) {
        val (fields, typed) = row(r)
        badAt.get(k) match {
          case None =>
            lines += fields.mkString("\t"); good += typed
          case Some(BadQty) =>
            lines += fields.updated(QtyCol, badQty(r)).mkString("\t")
          case Some(BadDate) =>
            lines += fields.updated(DueDateCol, badDate(r)).mkString("\t")
          case Some(BadWidth) =>
            lines += (if (r.nextBoolean()) fields.init else fields :+ "extra").mkString("\t")
        }
      }
      val faults = badAt.values.toSeq
      out += name -> (lines.result().mkString("", "\n", "\n").getBytes(UTF_8))
      exp += Expected(name, if (faults.isEmpty) Success else Partial, good.result(), faults)
    }

    for (i <- 0 until shape.smallFiles) dataFile(f"CTB_small_$i%03d.tsv", i, smallRows(shape, i))
    for ((n, j) <- shape.largeRows.zipWithIndex) dataFile(f"CTB_large_$j%02d.tsv", j + 1, n)

    // whole-file failures
    val unknown = RawHeaders :+ "Mystery Column"
    out += "CTB_fail_unknown_header.tsv" ->
      (unknown.mkString("\t") + "\n" + row(rng)._1.mkString("\t") + "\tx\n").getBytes(UTF_8)
    exp += Expected("CTB_fail_unknown_header.tsv",
      Failed("Schema mismatch. Unknown columns: MYSTERY_COLUMN"), Nil, Nil)
    out += "CTB_fail_empty.tsv" -> Array.emptyByteArray
    exp += Expected("CTB_fail_empty.tsv", Failed("File is empty"), Nil, Nil)
    out += "CTB_fail_header_only.tsv" -> (RawHeaders.mkString("\t") + "\n").getBytes(UTF_8)
    exp += Expected("CTB_fail_header_only.tsv", Failed("File contains no data rows"), Nil, Nil)

    // names outside the CTB* glob: never read, never archived, never notified
    for (u <- 0 until shape.unmatchedFiles)
      out += f"inbox_note_$u%02d.tsv" ->
        (RawHeaders.mkString("\t") + "\n" + row(rng)._1.mkString("\t") + "\n").getBytes(UTF_8)

    Generated(out.result(), exp.result())
  }

  /** Modification time of the first file; each later one is a second newer. */
  val FirstModified: Long = java.time.Instant.parse("2025-01-01T00:00:00Z").toEpochMilli

  /** Write the files into `dir` (created), stamped with modification times
    * one second apart in generation order, so the engine's file source,
    * which takes files oldest first, takes them in that order.
    */
  def write(g: Generated, dir: Path): Unit = {
    Files.createDirectories(dir)
    g.files.zipWithIndex.foreach { case ((n, b), i) =>
      val p = Files.write(dir.resolve(n), b)
      Files.setLastModifiedTime(p, FileTime.fromMillis(FirstModified + i * 1000L))
    }
  }

  private val Names = Array("ACME", "Globex", "Initech", "Umbrella", "Stark Ind",
    "Wayne Ent", "Hooli", "Vandelay", "Soylent", "Tyrell")
  private val Words = Array("bolt", "gear", "valve", "panel", "cable", "frame",
    "sensor", "pump", "relay", "switch", "bracket", "housing")

  private def date(r: java.util.SplittableRandom): LocalDate =
    LocalDate.of(2024, 1, 1).plusDays(r.nextInt(730).toLong)

  /** One clean row: raw fields as written (with padding, thousands
    * separators and blanks) and the typed values the sink must hold.
    */
  private def row(r: java.util.SplittableRandom): (IndexedSeq[String], IndexedSeq[Any]) = {
    val raw = new Array[String](Kinds.length)
    val typed = new Array[Any](Kinds.length)
    for (c <- 0 until Kinds.length) {
      val blank = c > 0 && r.nextInt(20) == 0 // ~5% empty fields -> NULL
      Kinds.charAt(c) match {
        case _ if blank =>
          raw(c) = if (r.nextBoolean()) "" else "  "; typed(c) = null
        case 's' =>
          val v = c match {
            case 0 => f"ORG${r.nextInt(40)}%02d"
            case 1 => Names(r.nextInt(Names.length))
            case 5 | 19 => s"${Words(r.nextInt(Words.length))} ${Words(r.nextInt(Words.length))}"
            case 16 => if (r.nextBoolean()) "M" else "B"
            case _ => s"${"ABCDEFGH".charAt(r.nextInt(8))}${r.nextInt(100000)}"
          }
          raw(c) = if (r.nextInt(8) == 0) s" $v " else v; typed(c) = v
        case 'i' =>
          val v = if (c == 13) (r.nextInt(61) - 30).toLong else r.nextInt(250000).toLong
          raw(c) = if (v >= 1000 && r.nextBoolean()) String.format(java.util.Locale.ROOT, "%,d", Long.box(v))
            else v.toString
          typed(c) = v
        case 'd' =>
          val v = date(r); raw(c) = v.toString; typed(c) = v
      }
    }
    (raw.toIndexedSeq, typed.toIndexedSeq)
  }

  private val BadQtys = Array("abc", "12a", "n/a", "1.5.0")
  private val BadDates = Array("2025-13-01", "01/02/2025", "2025-02-30", "tomorrow")

  private def badQty(r: java.util.SplittableRandom): String = BadQtys(r.nextInt(BadQtys.length))

  private def badDate(r: java.util.SplittableRandom): String = BadDates(r.nextInt(BadDates.length))
}
