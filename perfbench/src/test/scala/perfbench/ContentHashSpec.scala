package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ContentHashSpec extends AnyFunSuite {
  private val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, null, 3.0), Row(2L, null, 3.0))

  test("the digest ignores row order but not multiplicity or values") {
    val d = ContentHash.ofRows(rows)
    assert(d == ContentHash.ofRows(rows.reverse))
    assert(d.rows == 3)
    assert(d != ContentHash.ofRows(rows.take(2)))
    assert(d != ContentHash.ofRows(rows.updated(0, Row(1L, "b", 0.3))))
  }

  test("doubles are compared to 6 significant digits") {
    assert(ContentHash.ofRows(Seq(Row(0.1 + 0.2))) == ContentHash.ofRows(Seq(Row(0.3))))
    assert(ContentHash.ofRows(Seq(Row(0.3001))) != ContentHash.ofRows(Seq(Row(0.3))))
  }

  test("digests round-trip through their rendering") {
    val d = ContentHash.ofRows(rows)
    assert(ContentHash.Digest.parse(d.render) == d)
  }
}
