package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.SharedHash

/** The codegen'd [[graft.functions.Md5Long60Expr]] must be
  * bit-identical to the composed `conv(substring(md5(x),1,15),16,10)`
  * form it replaced (r13 optimization) — every md5-shared oracle
  * (q21, q87, q111, q120, ...) hangs off this value.
  */
class Md5Long60Spec extends SparkSpec {

  test("md5Long60 codegen form equals the composed form on corpus text") {
    val docs = graft.util.Tables.documents(spark, sf)
    val mism = docs
      .select(
        SharedHash.md5Long60(col("text")).as("fast"),
        SharedHash.md5Long60Composed(col("text")).as("slow"))
      .where(col("fast") =!= col("slow") || col("fast").isNull =!= col("slow").isNull)
      .count()
    assert(mism === 0L)
  }

  test("md5Long60 codegen form equals the composed form on edge cases") {
    import spark.implicits._
    val edge = Seq("", " ", "a", "é ünïcode ✓", "0", "\t\n", "x" * 10000)
      .toDF("s")
    val rows = edge
      .select(
        SharedHash.md5Long60(col("s")).as("fast"),
        SharedHash.md5Long60Composed(col("s")).as("slow"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // range contract: strictly below 2^60, non-negative
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60)))
  }

  test("md5Long60 null propagates") {
    import spark.implicits._
    val r = Seq(Some("a"), None).toDF("s")
      .select(SharedHash.md5Long60(col("s")).as("h"))
      .collect()
    assert(!r(0).isNullAt(0))
    assert(r(1).isNullAt(0))
  }

  test("md5Long60 on a non-binary column fails at analysis time") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.Bridge
    val strings = Seq("a", "b").toDF("s")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      strings.select(Bridge.column(graft.functions.Md5Long60Expr(Bridge.expr(col("s")))))
    }
    assert(e.getMessage.toUpperCase.contains("BINARY"), e.getMessage)
  }
}
