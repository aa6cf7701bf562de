package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** profile_orders keeps the global-aggregate shape of its SQL form: one row
  * per profiled column even when the table is empty.
  */
class ProfileOrdersSpec extends AnyFunSuite with SparkSpec {

  test("a 0-row orders table still profiles all six columns with zero counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-orders").toFile
    try {
      Tables.t(spark, "/root/testdata/sf0.001", "orders").limit(0)
        .write.parquet(s"$dir/orders.parquet")
      val rows = ExtraRelational.queries("profile_orders")(spark, dir.toString).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("o_custkey", "o_orderdate",
        "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice_cents"))
      rows.foreach { r =>
        assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 0L, 0L)), r)
        assert(r.isNullAt(4) && r.isNullAt(5), r)
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir)
    }
  }
}
