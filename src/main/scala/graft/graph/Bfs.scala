package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Multi-source BFS hop distance — "how far is every node from this
  * seed set": influence radius from trusted domains, contamination
  * blast-radius over a citation graph, crawl frontier depth. The
  * frontier-expansion companion to [[PageRank.personalized]] (which
  * spreads MASS; this spreads the MINIMUM HOP COUNT).
  *
  * Synchronous frontier iteration: dist holds settled (node, dist);
  * each round joins the LAST frontier against the edge list, keeps
  * genuinely new nodes (left_anti vs settled — a node's first
  * discovery IS its minimum distance, the BFS invariant), unions them
  * in at dist+1, and checkpoints through `Bridge.checkpointStep` (the
  * FE lineage lesson). Per round: one equi-join + one anti-join + one
  * distinct, all shuffled on the node key — frontier-sized, never
  * corpus-rescanned. Terminates at `maxHops` or an empty frontier,
  * whichever first. Unreached nodes are absent from the output (the
  * caller left-joins its node universe; see q233).
  */
object Bfs {

  def hopDistance(
      edges: DataFrame,
      seeds: DataFrame,
      src: String = "src",
      dst: String = "dst",
      seedCol: String = "node",
      maxHops: Int = 10
  ): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    // static edge frame exchanged + sorted ONCE on the expansion key
    // (opt guide §2.4): the frontier is always hash-partitioned by node
    // (distinct / anti-join output), so the per-hop frontier⋈edges join
    // never re-exchanges the edge side
    val e = Bridge.staticCheckpointKeyed(edges
      .select(col(src).cast("string").as("es"), col(dst).cast("string").as("ed"))
      .distinct()
      .repartition(col("es"))
      .sortWithinPartitions("es"))
    var settled = Bridge.iterCheckpointKeyed(seeds
      .select(col(seedCol).cast("string").as("node"))
      .distinct()
      .withColumn("dist", lit(0)))
    var frontier = settled
    var hop = 0
    var done = frontier.isEmpty
    // ONE action per hop (r13; was checkpoint + isEmpty + a settled
    // union checkpoint): the frontier size rides the checkpoint action
    // as an observed metric, and `settled` is a plain union over the
    // hops' checkpoint LEAVES — ≤ maxHops inputs, so the plan stays
    // flat and nothing recomputes (every input is a materialized leaf).
    // The anti-join exchanged the settled side before too (the union
    // checkpoint was unkeyed), so the shuffle shape is unchanged.
    while (hop < maxHops && !done) {
      val nextPlan = frontier
        .join(e, col("node") === col("es"))
        .select(col("ed").as("node"))
        .distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop + 1))
      val next = Bridge.checkpointStep(nextPlan, "bfs-hop", Seq(count(lit(1)).as("n")))
      if (next.metrics.getLong(0) == 0L) {
        // the empty frontier leaf joins nothing: free its blocks
        Bridge.releaseCheckpoints(next.leaf)
        done = true
      } else {
        settled = settled.unionByName(next.leaf)
        frontier = next.leaf
      }
      hop += 1
    }
    // `settled` reads every hop's leaf; only the edge frame is dead
    Bridge.releaseCheckpoints(e)
    settled
  }
}
