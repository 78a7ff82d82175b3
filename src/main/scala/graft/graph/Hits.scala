package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** HITS hubs-and-authorities (Kleinberg 1999) — the DIRECTED-role
  * companion to [[PageRank]]: where PageRank assigns one authority
  * score, HITS separates "points at good things" (hub) from "is pointed
  * at by good things" (authority) — exactly the two roles in a
  * bipartite interaction graph (curators vs documents, buyers vs
  * suppliers, queries vs results). Mutual recursion
  *
  *   a ← Aᵀh / ‖Aᵀh‖₂,   h ← Aa / ‖Aa‖₂
  *
  * with L2 normalization each half-step (unnormalized HITS diverges).
  * Fixed iteration count for cross-engine replay; per half-step: ONE
  * equi-join + groupBy on node keys and ONE action — the score frame's
  * checkpoint (the FE lineage lesson), which also observes the squared
  * norm the half-step divides by. Scores are
  * maintained over the FULL node set (zero-filled) so the norm and the
  * output cover isolated roles.
  */
object Hits {

  /** (node, hub, auth) after `iters` full iterations over
    * `edges(src, dst)`. All nodes start with hub = 1.
    */
  def run(
      edges: DataFrame,
      src: String = "src",
      dst: String = "dst",
      iters: Int = 8
  ): DataFrame = {
    val eRaw = edges.select(col(src).cast("string").as("src"), col(dst).cast("string").as("dst"))
      .distinct()
      .transform(Bridge.truncate(_))
    require(!eRaw.isEmpty, "Hits.run: empty edge set (no hubs or authorities to score)")
    // TWO static copies of the edge frame, one per half-step join key,
    // each exchanged + sorted ONCE (opt guide §2.4): the score frames
    // end every half-step hash-partitioned by node (the groupBy/join
    // below), so both per-iteration joins are co-partitioned — zero
    // Exchange and zero edge-side Sort inside the loop.
    val eBySrc = Bridge.staticCheckpointKeyed(
      eRaw.repartition(col("src")).sortWithinPartitions("src"))
    val eByDst = Bridge.staticCheckpointKeyed(
      eRaw.repartition(col("dst")).sortWithinPartitions("dst"))
    val nodes = Bridge.staticCheckpointKeyed(eRaw.select(col("src").as("node"))
      .union(eRaw.select(col("dst").as("node")))
      .distinct()) // hash-partitioned by node
    // eRaw only existed to derive the keyed copies above (r12 advice:
    // it tripled the resident edge footprint for the whole run)
    Bridge.releaseCheckpoints(eRaw)

    var hub = Bridge.iterCheckpointKeyed(nodes.withColumn("hub", lit(1.0)))
    var auth = Bridge.iterCheckpointKeyed(nodes.withColumn("auth", lit(0.0)))
    // ONE action per half-step (r13; was persist + norm-broadcast +
    // checkpoint): the zero-filled RAW scores are checkpointed with
    // Σv² folded in as an observed metric, and the L2 normalization is
    // a driver-literal PROJECTION over the checkpoint leaf — no extra
    // job, no broadcast build, partitioning preserved. math.sqrt =
    // java.lang.Math.sqrt = the former SQL sqrt, the division operands
    // are the same doubles; only the Σv² summation order moves (it was
    // scheduler-order nondeterministic before too), under the output
    // quantizer. With a non-empty edge set every norm is positive.
    def halfStep(scores: DataFrame, scoreCol: String, edgeCopy: DataFrame,
        joinKey: String, outKey: String, outCol: String): DataFrame = {
      val raw = scores.join(edgeCopy, col("node") === col(joinKey))
        .groupBy(col(outKey).as("node"))
        .agg(sum(scoreCol).as("v"))
      val ck = Bridge.checkpointStep(
        nodes.join(raw, Seq("node"), "left").na.fill(0.0, Seq("v")),
        s"hits-$outCol",
        Seq(sum(col("v") * col("v")).as("ss")))
      val nrm = math.sqrt(ck.metrics.getDouble(0))
      ck.leaf.select(col("node"), (col("v") / lit(nrm)).as(outCol))
    }
    for (_ <- 0 until iters) {
      val nextAuth = halfStep(hub, "hub", eBySrc, "src", "dst", "auth")
      Bridge.releaseCheckpoints(auth)
      auth = nextAuth
      val nextHub = halfStep(auth, "auth", eByDst, "dst", "src", "hub")
      Bridge.releaseCheckpoints(hub)
      hub = nextHub
    }
    Seq(eBySrc, eByDst, nodes).foreach(Bridge.releaseCheckpoints)
    hub.join(auth, Seq("node"))
  }
}
