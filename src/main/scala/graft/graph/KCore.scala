package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** k-core decomposition by synchronous peeling (Seidman 1983, the
  * Batagelj–Zaveršnik fixpoint form): repeatedly delete every node
  * whose degree in the SURVIVING subgraph is < k; what remains is the
  * maximal subgraph with minimum degree ≥ k — the density filter of
  * the graph family ([[Triangles]] measures local cohesion, this one
  * global: spam/template rings and tightly-knit communities survive
  * high k, stragglers and chains peel away).
  *
  * Peeling is a MONOTONE fixpoint: each round's alive set shrinks or
  * stays, and once stable every further round is a no-op. That makes
  * the result replayable with a FIXED round count R ≥ the rounds to
  * convergence — the q-oracle unrolls R rounds and the engine RAISES
  * if convergence needs more than `maxRounds` (so a green gate proves
  * the replay covered the fixpoint).
  *
  * Degrees are maintained INCREMENTALLY (r13, opt guide §1.2 step 1 —
  * fix the distributed algorithm): a surviving node's induced degree
  * changes only by the edges it loses to the nodes peeled THIS round,
  * so each round subtracts per-endpoint counts of the peeled set's
  * incident edges instead of recomputing degrees over the whole
  * induced subgraph. Every edge crosses the wire at most once over the
  * entire run (when its first endpoint peels) — the former shape
  * re-exchanged the full surviving edge set every round. Exact integer
  * arithmetic; the peel sequence (and therefore the output) is
  * row-identical to the recompute form the oracle replays.
  *
  * Per round: two co-partitioned edges⋈peeled joins (one per static
  * edge-copy orientation, the HITS two-copy pattern), two map-combined
  * incident-edge aggregates, a co-partitioned degree update, and ONE
  * action — the degree checkpoint, with the next peel count folded in
  * as an observed metric.
  */
object KCore {

  /** (node, degree) of the k-core — degrees measured IN the core. */
  def core(
      edges: DataFrame,
      k: Int,
      src: String = "src",
      dst: String = "dst",
      maxRounds: Int = 20
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e0 = edges
      .select(
        least(col(src).cast("string"), col(dst).cast("string")).as("u"),
        greatest(col(src).cast("string"), col(dst).cast("string")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .transform(Bridge.truncate(_))
    // TWO static copies of the canonical edge frame, one per peel-join
    // orientation, each exchanged + sorted ONCE: the peeled set is
    // always hash-partitioned by node (a filter of the degree frame),
    // so both per-round incident-edge joins are co-partitioned — no
    // edge-sized exchange inside the loop.
    val eByU = Bridge.staticCheckpointKeyed(
      e0.repartition(col("u")).sortWithinPartitions("u"))
    val eByV = Bridge.staticCheckpointKeyed(
      e0.repartition(col("v")).sortWithinPartitions("v"))
    // both copies are materialized: the canonical frame is never read again
    Bridge.releaseCheckpoints(e0)

    // the degree checkpoint observes the next round's peel count: one
    // action per round
    def checkpointWithPeel(d: DataFrame): Bridge.Checkpointed =
      Bridge.checkpointStep(d, "kcore-degrees", Seq(count(when(col("degree") < k, lit(1))).as("peel")))

    // full-graph degrees once: u-side + v-side appearance counts,
    // combined by a co-partitioned full-outer join (exact integers)
    val degU0 = eByU.groupBy(col("u").as("node")).agg(count(lit(1)).as("du"))
    val degV0 = eByV.groupBy(col("v").as("node")).agg(count(lit(1)).as("dv"))
    var degrees = checkpointWithPeel(
      degU0.join(degV0, Seq("node"), "full_outer")
        .select(
          col("node"),
          (coalesce(col("du"), lit(0L)) + coalesce(col("dv"), lit(0L))).as("degree")))

    var rounds = 0
    while (degrees.metrics.getLong(0) > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"k-core did not converge within $maxRounds rounds — raise maxRounds " +
          "(and the oracle's unroll depth with it)")
      // this round's peel set and survivors — both filters of the
      // checkpointed degree frame, both hash(node)
      val peeled = degrees.leaf.where(col("degree") < k)
      val survivors = degrees.leaf.where(col("degree") >= k)
      // edges lost to the peeled set, counted per SURVIVING endpoint:
      // an edge (u,v) with v peeled decrements u, and vice versa; an
      // edge between two peeled nodes decrements both (both rows drop
      // this round, so the junk value never surfaces). Both incident
      // joins are co-partitioned with their edge copy; ONE union +
      // map-combined aggregate ships only the peeled set's
      // incident-edge counts.
      val lost = eByV
        .join(peeled.select(col("node").as("v")), Seq("v"))
        .select(col("u").as("node"))
        .unionByName(
          eByU
            .join(peeled.select(col("node").as("u")), Seq("u"))
            .select(col("v").as("node")))
        .groupBy("node")
        .agg(count(lit(1)).as("lost"))
      val degPlan = survivors
        .join(lost, Seq("node"), "left")
        .select(
          col("node"),
          (col("degree") - coalesce(col("lost"), lit(0L))).as("degree"))
      val next = checkpointWithPeel(degPlan)
      Bridge.releaseCheckpoints(degrees.leaf)
      degrees = next
    }
    Seq(eByU, eByV).foreach(Bridge.releaseCheckpoints)
    degrees.leaf
  }
}
