package graft

import java.nio.file.Files
import graft.engine.Analytics

/** q101 (TPC-H Q21 shape) on a lineitem whose (l_orderkey, l_linenumber)
  * pairs are NOT unique. The one-aggregate DataFrame form must keep the
  * oracle's meaning: an order qualifies only when it has two lines with
  * DIFFERENT line numbers, so a repeated (order, line) pair is one line,
  * not two. A row-count test (`count >= 2`) gets this wrong.
  */
class SoleSupplierSpec extends SparkSpecBase {
  import spark.implicits._

  test("q101 equals its SQL oracle when (l_orderkey, l_linenumber) repeats") {
    val dir = Files.createTempDirectory("graft_q101").toString
    // (orderkey, linenumber, suppkey)
    Seq(
      (1L, 1, 10L), (1L, 1, 10L),             // one line stored twice: not multi-line
      (2L, 1, 10L), (2L, 2, 10L),             // two lines, sole supplier 10
      (3L, 1, 20L), (3L, 2, 20L), (3L, 2, 20L), // two lines (one duplicated), sole 20
      (4L, 1, 10L), (4L, 2, 20L),             // two suppliers: never qualifies
      (5L, 1, 20L),                           // single line
      (6L, 1, 10L), (6L, 1, 10L), (6L, 3, 10L)  // lines 1 and 3, sole supplier 10
    ).toDF("l_orderkey", "l_linenumber", "l_suppkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "F"), (2L, "F"), (3L, "F"), (4L, "F"), (5L, "F"), (6L, "O"))
      .toDF("o_orderkey", "o_orderstatus").write.parquet(s"$dir/orders.parquet")
    Seq((10L, "Supplier#10"), (20L, "Supplier#20"))
      .toDF("s_suppkey", "s_name").write.parquet(s"$dir/supplier.parquet")
    Seq("lineitem", "orders", "supplier").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    try {
      val got = Analytics.q101(spark, dir).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = spark.sql(Analytics.q101Sql).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      // orders 2 and 3 qualify (order 6 is not finished)
      assert(want == Seq(("Supplier#10", 1L), ("Supplier#20", 1L)),
        s"fixture no longer exercises the duplicate-line case: $want")
      assert(got == want)
    } finally Seq("lineitem", "orders", "supplier").foreach(spark.catalog.dropTempView)
  }
}
