package graft

import org.apache.spark.sql.graftbridge.Bridge

/** Leaf statistics of [[Bridge.staticCheckpointKeyed]]: the leaf carries
  * the checkpointed blocks' real size, read without waiting on the
  * listener bus.
  */
class BridgeSpec extends SparkSpec {
  import spark.implicits._

  private def leafBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes

  test("staticCheckpointKeyed: a non-empty static frame's leaf carries its block bytes") {
    val leaf = Bridge.staticCheckpointKeyed((0 until 500).map(i => (i, i * 2L)).toDF("a", "b"))
    try {
      val bytes = leafBytes(leaf)
      assert(bytes > 0 && bytes < BigInt(1L << 30), s"$bytes")
    } finally Bridge.releaseCheckpoints(leaf)
  }

  test("staticCheckpointKeyed: an empty static frame gets a 0-byte leaf without polling") {
    val empty = Seq.empty[(Int, Long)].toDF("a", "b")
    Bridge.releaseCheckpoints(Bridge.staticCheckpointKeyed(empty)) // warm the plan path
    val t0 = System.nanoTime
    val leaf = Bridge.staticCheckpointKeyed(empty)
    val ms = (System.nanoTime - t0) / 1e6
    try {
      assert(leafBytes(leaf) === BigInt(0))
      // the former poll slept 20 × 50 ms before giving up on 0 bytes
      assert(ms < 1000, s"took $ms ms")
    } finally Bridge.releaseCheckpoints(leaf)
  }
}
