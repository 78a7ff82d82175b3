package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Connected components over a near-duplicate pair graph — the step
  * that turns MinHash/SimHash/Jaccard PAIRS into duplicate CLUSTERS so
  * one canonical document per cluster survives. Component label = the
  * minimum node id in the component (canonical and deterministic).
  *
  * Algorithm: iterative min-label propagation with POINTER JUMPING —
  * each round every node takes the min label over itself and its
  * neighbors, then labels compress one hop (`comp ← comp's comp`), so
  * long chains converge in O(log diameter) rounds, not O(diameter).
  * Each round is two bounded shuffles (edges ⋈ labels, labels ⋈
  * labels) over |E| and |V| rows; each round's labels are checkpointed
  * (which also counts the changed labels) and the previous round's
  * released. This is the DataFrame form of the
  * classic map-reduce CC algorithms (large-star/small-star family);
  * dedup graphs (dense small clusters) typically converge in 2–3
  * rounds.
  */
object ConnectedComponents {

  /** (id, component) for every node appearing in `edges`. Isolated
    * documents never appear in a pair list — union them in as their own
    * component downstream (see q44).
    */
  def components(
      edges: DataFrame,
      src: String,
      dst: String,
      maxIters: Int = 50
  ): DataFrame = {
    // static symmetric edge frame exchanged + sorted ONCE on the
    // per-round join key (opt guide §2.4): the union output has unknown
    // partitioning, so without this every round re-exchanged 2|E| rows
    // into the labels join. Keyed checkpoint, not persist: an
    // InMemoryRelation over an adaptive plan reports Unknown
    // partitioning, which would put the per-round exchange right back.
    val sym = Bridge.staticCheckpointKeyed(edges
      .select(col(src).cast("long").as("a"), col(dst).cast("long").as("b"))
      .union(edges.select(col(dst).cast("long").as("a"), col(src).cast("long").as("b")))
      .repartition(col("b"))
      .sortWithinPartitions("b"))

    var labels = sym.select(col("a").as("id")).distinct().withColumn("comp", col("id"))
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      iters += 1
      // min over neighbors' labels
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("comp").as("nbComp")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("nbComp")).as("nbrComp"))
      val upd = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"),
          (coalesce(col("nbrComp"), col("comp")) < col("comp")).as("chg"))
        .persist()
      // pointer jump: comp ← label of comp (one hop of path compression).
      // `chg` rides along so the convergence count folds into the
      // checkpoint action below (opt guide §1.2: one action per round —
      // the former standalone upd.where(chg).count() job is gone).
      val jumped = upd
        .join(
          upd.select(col("id").as("comp"), col("comp").as("cc")),
          Seq("comp"),
          "left")
        .select(col("id"), coalesce(col("cc"), col("comp")).as("comp"), col("chg"))
      val ck = Bridge.checkpointStep(
        jumped, "cc-round", Seq(count(when(col("chg"), lit(1))).as("changed")), keyed = false)
      changed = ck.metrics.getLong(0)
      // the eager checkpoint above was this round's only action: upd's
      // cache and the previous round's labels (round 1's are a plan over
      // `sym`, which stays) are dead now
      upd.unpersist(false)
      if (iters > 1) Bridge.releaseCheckpoints(labels)
      labels = ck.leaf.select(col("id"), col("comp"))
    }
    Bridge.releaseCheckpoints(sym)
    labels.select(col("id"), col("comp"))
  }
}
