package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MailboxSpec extends AnyFunSuite {
  private val shape = Mailbox.Shape(
    smallFiles = 6, smallRowsMin = 10, smallRowsMax = 40,
    largeRows = Seq(300), badPermille = 50, unmatchedFiles = 1)

  test("the same seed gives byte-identical mailboxes and identical expectations") {
    val a = Mailbox.generate(shape, 42)
    val b = Mailbox.generate(shape, 42)
    assert(a.files.map(_._1) == b.files.map(_._1))
    a.files.zip(b.files).foreach { case ((n, x), (_, y)) => assert(x.sameElements(y), n) }
    assert(a.expected == b.expected)
    assert(a.sinkHash == b.sinkHash)
  }

  test("another seed changes the contents but not the shape") {
    val a = Mailbox.generate(shape, 1)
    val b = Mailbox.generate(shape, 2)
    assert(a.files.map(_._1) == b.files.map(_._1))
    assert(a.cleanRows == b.cleanRows && a.rejectedRows == b.rejectedRows)
    assert(a.files.zip(b.files).exists { case ((_, x), (_, y)) => !x.sameElements(y) })
    assert(a.sinkHash != b.sinkHash)
  }

  test("expectations account for every generated data row") {
    val g = Mailbox.generate(shape, 7)
    val dataFiles = g.expected.filter(x => x.name.startsWith("CTB_small") || x.name.startsWith("CTB_large"))
    val rows = (0 until shape.smallFiles).map(Mailbox.smallRows(shape, _)).sum + shape.largeRows.sum
    assert(dataFiles.map(x => x.clean + x.rejected).sum == rows)
    assert(g.expected.count(_.outcome == Mailbox.Success) > 0)
    assert(g.expected.count(_.outcome == Mailbox.Partial) > 0)
    assert(g.failedFiles == 3)
    // the unmatched name is written but expects nothing
    assert(g.files.size == g.expected.size + shape.unmatchedFiles)
  }

  test("write stamps modification times one second apart in generation order") {
    val g = Mailbox.generate(shape, 3)
    val dir = java.nio.file.Files.createTempDirectory("mailbox-spec")
    try {
      Mailbox.write(g, dir)
      val times = g.files.map { case (n, _) => java.nio.file.Files.getLastModifiedTime(dir.resolve(n)).toMillis }
      assert(times == g.files.indices.map(i => Mailbox.FirstModified + i * 1000L))
    } finally {
      g.files.foreach { case (n, _) => java.nio.file.Files.deleteIfExists(dir.resolve(n)) }
      java.nio.file.Files.delete(dir)
    }
  }
}
