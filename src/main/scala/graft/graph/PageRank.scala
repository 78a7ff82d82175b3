package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** PageRank by synchronous power iteration — the second graph operator
  * beside [[graft.dedup.ConnectedComponents]]: where CC answers "which
  * near-dup cluster is this", PageRank answers "which nodes matter" —
  * seed-document selection over a citation/link graph, source authority
  * for curation weighting, hub detection in user-interaction graphs.
  *
  *   r ← (1−d)/n + d·(Σ_incoming r_src/outdeg_src + danglingMass/n)
  *
  * with the dangling mass (rank parked on sink nodes) redistributed
  * uniformly — the standard convention, and the part naive
  * implementations drop (rank then leaks and the vector stops summing
  * to 1; the spec pins Σr = 1 every iteration).
  *
  * Scale shape per iteration: ONE equi-join ranks⋈edges on the source
  * key, one groupBy(dst), a left join back to the node set for
  * zero-indegree nodes — all shuffles on the node key — and ONE action:
  * the rank frame's checkpoint through
  * [[org.apache.spark.sql.graftbridge.Bridge.checkpointStep]], which
  * also observes the dangling mass the next iteration applies. The
  * checkpoint is localCheckpoint by default, reliable checkpoint under
  * `spark.graft.checkpoint.reliable` (the FE
  * lesson: an uncheckpointed iterative frame's plan doubles per sweep
  * and the analyzer, not the cluster, becomes the bottleneck).
  * Fixed iteration count keeps the result deterministic and
  * cross-engine replayable (the q166 oracle unrolls the same
  * iterations in SQL).
  */
object PageRank {

  /** Checkpoints a rank frame, observing Σ rank over sinks. */
  private def checkpointWithDangling(d: DataFrame): Bridge.Checkpointed =
    Bridge.checkpointStep(d, "pagerank", Seq(sum(when(col("is_sink"), col("rank"))).as("dmass")))

  /** The observed dangling mass; with no sinks the sum is null, i.e. 0. */
  private def danglingMass(ranks: Bridge.Checkpointed): Double =
    if (ranks.metrics.isNullAt(0)) 0.0 else ranks.metrics.getDouble(0)

  /** (node, rank) after `iters` iterations over `edges(src, dst)`.
    * Multi-edges should be pre-deduplicated by the caller if unwanted;
    * self-loops are legal.
    */
  def run(
      edges: DataFrame,
      src: String = "src",
      dst: String = "dst",
      iters: Int = 10,
      damping: Double = 0.85
  ): DataFrame = {
    val eRaw = edges.select(col(src).cast("string").as("src"), col(dst).cast("string").as("dst"))
      .persist()
    require(!eRaw.isEmpty, "PageRank.run: empty edge set (no nodes to rank)")
    // distinct column name so the edge frame can re-join without a
    // self-join ambiguity
    val outdeg = eRaw.groupBy(col("src").as("od_src"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    // STATIC per-iteration inputs, exchanged ONCE (opt guide §2.4 —
    // remove shuffles outright): the out-degree rides ON the edge row
    // (it never changes), the edge frame is hash-partitioned and
    // intra-partition sorted on the join key, and the sink flag rides
    // on the node row. localCheckpoint pins partitioning + ordering on
    // the LogicalRDD leaf, so every iteration's ranks⋈edges join is
    // co-partitioned (zero Exchange, zero edge-side Sort) and the
    // dangling mass needs no join at all. Contribution addends are the
    // SAME rank/outdeg operands as the former per-iteration join plan —
    // only summation order moves, under the 8dp output quantizer.
    val e = Bridge.staticCheckpointKeyed(eRaw.join(outdeg, col("src") === col("od_src"))
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(col("src"))
      .sortWithinPartitions("src"))
    val nodes = Bridge.staticCheckpointKeyed(eRaw.select(col("src").as("node"))
      .union(eRaw.select(col("dst").as("node")))
      .distinct()
      .join(outdeg, col("node") === col("od_src"), "left")
      .select(col("node"), col("od_src").isNull.as("is_sink"))) // hash(node) from distinct
    val n = nodes.count().toDouble
    eRaw.unpersist(false)

    // the dangling mass (rank parked on sinks) is an observed metric of
    // the rank frame's OWN checkpoint action (r13): each iteration's
    // checkpoint reports Σ rank over sinks, and the NEXT iteration
    // applies it as a driver literal — no separate dangling aggregate,
    // one action per iteration. Same doubles: the literal is the
    // identical sum the former broadcast column carried, divided by the
    // same n.
    var ranks = checkpointWithDangling(nodes.withColumn("rank", lit(1.0 / n)))
    for (it <- 1 to iters) {
      val contribs = ranks.leaf.where(!col("is_sink"))
        .join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .na.fill(0.0, Seq("contrib"))
        .select(
          col("node"),
          col("is_sink"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (col("contrib") + lit(danglingMass(ranks)) / lit(n))).as("rank"))
      val step = checkpointWithDangling(next)
      Bridge.releaseCheckpoints(ranks.leaf)
      ranks = step
    }
    Seq(e, nodes).foreach(Bridge.releaseCheckpoints)
    ranks.leaf.select("node", "rank")
  }

  /** Personalized PageRank — restart mass goes to a SEED distribution
    * instead of uniformly (and so does the dangling mass, the PPR
    * convention): "expand from these trusted documents/domains" — seed
    * -based curation growth, related-item scoring, topic-conditional
    * authority. Seeds not in the edge set still receive their restart
    * share (they are added to the node set); seed weights are
    * normalized internally.
    *
    *   r ← (1−d)·s + d·(Σ_in r/outdeg + danglingMass·s)
    *
    * Same per-iteration shape as [[run]]: one equi-join, one groupBy,
    * one checkpoint action observing the dangling mass. Kept as its own loop
    * rather than expressing run() through it: run()'s `(1−d)/n` and
    * PPR's `(1−d)·(1/n)` round differently in IEEE arithmetic and
    * q166's replay pins run()'s exact trajectory.
    */
  def personalized(
      edges: DataFrame,
      seeds: DataFrame,
      seedNode: String = "node",
      seedWeight: String = "weight",
      src: String = "src",
      dst: String = "dst",
      iters: Int = 10,
      damping: Double = 0.85
  ): DataFrame = {
    val eRaw = edges.select(col(src).cast("string").as("src"), col(dst).cast("string").as("dst"))
      .persist()
    require(!eRaw.isEmpty, "PageRank.personalized: empty edge set (no nodes to rank)")
    val sTotal = seeds.agg(sum(col(seedWeight).cast("double"))).head().getDouble(0)
    require(sTotal > 0, "seed weights must have positive mass")
    val sNorm = seeds
      .select(
        col(seedNode).cast("string").as("node"),
        (col(seedWeight).cast("double") / sTotal).as("sw"))
      .groupBy("node").agg(sum("sw").as("sw")) // collapse duplicate seeds
    val outdeg = eRaw.groupBy(col("src").as("od_src"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
    // same static-input discipline as run(): out-degree rides the edge
    // row, sink flag + seed weight ride the node row, both frames
    // exchanged once and co-partitioned with the rank frame for every
    // iteration (opt guide §2.4)
    val e = Bridge.staticCheckpointKeyed(eRaw.join(outdeg, col("src") === col("od_src"))
      .select(col("src"), col("dst"), col("outdeg"))
      .repartition(col("src"))
      .sortWithinPartitions("src"))
    val nodes = Bridge.staticCheckpointKeyed(eRaw.select(col("src").as("node"))
      .union(eRaw.select(col("dst").as("node")))
      .union(sNorm.select("node"))
      .distinct()
      .join(sNorm, Seq("node"), "left")
      .na.fill(0.0, Seq("sw"))
      .join(outdeg, col("node") === col("od_src"), "left")
      .select(col("node"), col("sw"), col("od_src").isNull.as("is_sink"))) // hash(node)
    eRaw.unpersist(false)

    // same observed-dangling fold as run(): one action per iteration,
    // the mass applied as a driver literal next iteration
    var ranks = checkpointWithDangling(
      nodes.select(col("node"), col("sw"), col("is_sink"), col("sw").as("rank")))
    for (it <- 1 to iters) {
      val contribs = ranks.leaf.where(!col("is_sink"))
        .join(e, col("node") === col("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("contrib"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .na.fill(0.0, Seq("contrib"))
        .select(
          col("node"),
          col("sw"),
          col("is_sink"),
          (lit(1.0 - damping) * col("sw") +
            lit(damping) * (col("contrib") + lit(danglingMass(ranks)) * col("sw"))).as("rank"))
      val step = checkpointWithDangling(next)
      Bridge.releaseCheckpoints(ranks.leaf)
      ranks = step
    }
    Seq(e, nodes).foreach(Bridge.releaseCheckpoints)
    ranks.leaf.select("node", "rank")
  }
}
