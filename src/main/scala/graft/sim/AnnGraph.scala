package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{FloatVec, TopK}

/** Graph-based ANN: a distributed k-NN graph built by NN-Descent (Dong
  * et al., "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures", WWW 2011) and a batched greedy beam search over
  * it — the Spark-shaped member of the HNSW family. A hierarchical
  * navigable graph is a sequential, pointer-chasing structure; what
  * survives distribution is its two ingredients: (a) a good neighborhood
  * graph and (b) best-first expansion from entry points. Both are
  * bounded joins here:
  *
  *  - BUILD (NN-Descent): seed each node's neighbor list from LSH
  *    buckets ([[AnnLsh]] — locality-aware, deterministic, never all
  *    pairs), then iterate "a neighbor of my neighbor is probably a
  *    neighbor": candidates = join of the edge list with itself through
  *    the shared endpoint (*undirected* — both orientations), score by
  *    cosine, keep each node's top-k. Per sweep the shuffle carries
  *    O(n·k²) candidate EDGES (ids + score, never vectors); vectors join
  *    in once per sweep to score fresh candidates, with per-row norms
  *    hoisted before the join so no vector's norm is recomputed per
  *    edge. Iteration state (the edge list) is n·k rows, materialized
  *    per sweep with `localCheckpoint` and the PREVIOUS sweep's blocks
  *    released — the [[graft.dedup.ConnectedComponents]] loop hygiene.
  *
  *  - SEARCH: queries broadcast; each hop expands the current frontier
  *    through the (id-partitioned) edge list, scores the new candidates,
  *    and keeps the best `beam` per query. `hops` is small (the graph
  *    diameter after NN-Descent is ~log n); every hop is one broadcast
  *    join + one aggregate — no pointer chasing, no driver data motion.
  *
  * At 100 TB the edge list is the index: n·k (id, id, score) rows,
  * partitioned by source — a fraction of the vector bytes, co-located
  * with the probe joins, and incrementally maintainable (union new docs'
  * LSH seeds, re-run sweeps to convergence).
  */
object AnnGraph {

  /** (id, vec, __nrm) — norms hoisted ONCE per row, never per edge. */
  private def withNorm(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), col(vecCol), FloatVec.norm(col(vecCol)).as("__nrm"))

  /** Attach cosine scores to an (src, dst) candidate edge list — the only
    * stage where vectors move, and they move by equi-join on each
    * endpoint (no broadcast of the corpus, no pair blowup beyond the
    * candidate list itself). `v` must be a [[withNorm]] frame.
    */
  private def scoreEdges(
      cand: DataFrame,
      v: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame =
    cand
      .join(
        v.select(col(idCol).as("src"), col(vecCol).as("__sv"), col("__nrm").as("__sn")),
        Seq("src"))
      .join(
        v.select(col(idCol).as("dst"), col(vecCol).as("__dv"), col("__nrm").as("__dn")),
        Seq("dst"))
      .select(
        col("src"), col("dst"),
        (FloatVec.dot(col("__sv"), col("__dv")) / (col("__sn") * col("__dn"))).as("cos_sim"))

  /** Per-node k best edges via the bounded-heap aggregate ([[TopK]]) —
    * map-side partials reduce each sweep's n·k² candidate exchange to
    * k × #map-partitions rows per node, where the `row_number` window
    * form shuffled and sorted every candidate (the q58 lesson,
    * family-wide). Same rows: (cos_sim desc, dst asc) is a total order
    * per src.
    */
  private def topKPerSrc(scored: DataFrame, k: Int): DataFrame =
    TopK.perKey(scored, Seq("src"), "cos_sim", "dst", k)

  /** One NN-Descent sweep: candidates = two-hop neighbors through either
    * endpoint of the undirected edge view, rescored, top-k kept. Returns
    * the next edge frame (lazy) plus the sweep's dst-keyed adjacency
    * copy so the caller can release its checkpoint blocks once the next
    * frame materializes.
    *
    * Exchange accounting (opt guide §2.4, the HITS two-copy pattern —
    * r12 verdict item #2): `edges` arrives hash(src)-partitioned (the
    * top-k aggregate's own layout, preserved by the keyed checkpoint),
    * and ONE nk-row exchange builds the dst-keyed copy. The two-hop join
    * (E ∪ rev E) ⋈_mid (E ∪ rev E) then expands into its four
    * E/rev-E pieces — join distributes over union — and every piece
    * reads a copy already partitioned on its join key: the former TWO
    * 2nk-row exchanges under the self-join are gone. What remains per
    * sweep: the candidate (src,dst) dedup exchange (partial-aggregated
    * — the fundamental communication), the nk-row anti-join edge side,
    * and the final top-k aggregate exchange (map-side combined).
    */
  private def sweepOnce(
      edges: DataFrame,
      v: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): (DataFrame, DataFrame) = {
    val eD = Bridge.iterCheckpointKeyed(
      edges.select(col("src"), col("dst"))
        .repartition(col("dst"))
        .sortWithinPartitions("dst"))
    val eS = edges
    val a1 = eD.select(col("src"), col("dst").as("__mid")) //  E  as a-side, key = E.dst
    val a2 = eS.select(col("dst").as("src"), col("src").as("__mid")) // rev E, key = E.src
    val b1 = eS.select(col("src").as("__mid"), col("dst")) //  E  as b-side, key = E.src
    val b2 = eD.select(col("dst").as("__mid"), col("src").as("dst")) // rev E, key = E.dst
    val twoHop = Seq((a1, b1), (a1, b2), (a2, b1), (a2, b2))
      .map { case (a, b) =>
        a.join(b, Seq("__mid"))
          .where(col("src") =!= col("dst"))
          .select("src", "dst")
      }
      .reduce(_ unionByName _)
      // partial-aggregated dedup on (src,dst) — a repartition(src) +
      // hash(src)-riding dedup was tried and measured WORSE: with
      // spark.sql.requireAllClusterKeysForCoPartition (default true)
      // the anti-join below re-exchanges both sides on (src,dst)
      // regardless, so the src-keyed dedup just added a raw
      // candidate-sized exchange
      .distinct()
      // only score candidates not already in the neighbor list
      .join(eS.select("src", "dst"), Seq("src", "dst"), "left_anti")
    val fresh = scoreEdges(twoHop, v, idCol, vecCol)
    (topKPerSrc(edges.unionByName(fresh), k), eD)
  }

  private def seedEdges(
      v: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      numPlanes: Int,
      numTables: Int
  ): DataFrame = {
    val b = AnnLsh.bucketize(v, idCol, vecCol, dims, numPlanes, numTables)
    val l = b.select(col("table"), col("bucket"), col(idCol).as("src"))
    val r = b.select(col("table"), col("bucket"), col(idCol).as("dst"))
    val cand = l
      .join(r, Seq("table", "bucket"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
      .distinct()
    topKPerSrc(scoreEdges(cand, v, idCol, vecCol), k)
  }

  /** (src, dst, cos_sim) — each node's k nearest by cosine among LSH
    * bucket mates, the NN-Descent seed. Deterministic: bucket hashes and
    * tie-breaks are pure functions.
    */
  def lshSeedEdges(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dims: Int,
      numPlanes: Int = 6,
      numTables: Int = 4
  ): DataFrame =
    seedEdges(withNorm(corpus, idCol, vecCol), idCol, vecCol, k, dims, numPlanes, numTables)

  /** NN-Descent sweeps over a seeded edge list → (src, dst, cos_sim)
    * k-NN graph. Each sweep: candidates = current edges ∪ two-hop
    * neighbors through shared endpoints (undirected), rescored, top-k
    * kept per node. Monotone: a node's neighbor list only improves, and
    * edges already present are not rescored (anti-join), so sweeps get
    * cheaper as the graph converges. The returned frame is
    * localCheckpoint'ed (the library convention: compute once, truncate
    * lineage; the session's cache sweep or the caller releases it).
    */
  def knnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 10,
      sweeps: Int = 2,
      numPlanes: Int = 6,
      numTables: Int = 4
  ): DataFrame = {
    val v = withNorm(corpus, idCol, vecCol).persist()
    v.count()
    var edges = Bridge.iterCheckpointKeyed(
      seedEdges(v, idCol, vecCol, k, dims, numPlanes, numTables))
    for (_ <- 0 until sweeps) {
      val (nextPlan, eD) = sweepOnce(edges, v, idCol, vecCol, k)
      val next = Bridge.checkpointStep(nextPlan, "nn-descent-sweep").leaf
      // the superseded sweep and its dst-keyed adjacency copy are dead
      Seq(eD, edges).foreach(Bridge.releaseCheckpoints)
      edges = next
    }
    v.unpersist(false)
    edges
  }

  /** Batched greedy beam search over a k-NN graph. `entries` nodes seed
    * every query's frontier (the lowest-id nodes by default — any fixed
    * set works; more entries ≈ a flat HNSW layer 0 entry set). Each hop
    * expands frontier → neighbors, scores ONLY unseen candidates, and
    * keeps the best `beam` per query as the next frontier; the running
    * top-k accumulates over all visited nodes. Self-matches are excluded.
    */
  def search(
      queries: DataFrame,
      graph: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int = 10,
      hops: Int = 3,
      entries: Int = 4
  ): DataFrame = {
    // fixed entry points: each query starts from the `entries` lowest-id
    // nodes (deterministic, index-free)
    val entryIds = corpus.select(col(idCol)).orderBy(col(idCol)).limit(entries)
    val pairs = queries
      .select(col(idCol).as("qid"))
      .crossJoin(entryIds.withColumnRenamed(idCol, "nid"))
    searchFrom(queries, graph, corpus, idCol, vecCol, k, beam, hops, pairs)
  }

  /** [[search]] with CALLER-SUPPLIED per-query entry points — a (qid,
    * nid) frame. This is the layer hook: [[topKHierarchical]] feeds the
    * coarse level's winners in here, an external router could feed
    * IVF-cell medoids.
    */
  def searchFrom(
      queries: DataFrame,
      graph: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int,
      hops: Int,
      entryPairs: DataFrame
  ): DataFrame = {
    val v = withNorm(corpus, idCol, vecCol).persist()
    val adj = graph.select(col("src"), col("dst")).persist()
    adj.count()
    val q = queries.select(
      col(idCol).as("qid"), col(vecCol).as("qv"), FloatVec.norm(col(vecCol)).as("__qn"))

    def score(cand: DataFrame): DataFrame =
      cand
        .join(
          v.select(col(idCol).as("nid"), col(vecCol).as("nv"), col("__nrm").as("__nn")),
          Seq("nid"))
        .select(
          col("qid"), col("qv"), col("__qn"), col("nid"),
          (FloatVec.dot(col("qv"), col("nv")) / (col("__qn") * col("__nn"))).as("cos_sim"))

    var visited = score(q.join(entryPairs.select(col("qid"), col("nid")), Seq("qid")))
      .localCheckpoint()
    var frontier = visited

    for (_ <- 0 until hops) {
      // bounded-heap beam select — qv/__qn are per-query constants and
      // ride along as first() carries
      val beamFront = TopK
        .perKey(frontier, Seq("qid"), "cos_sim", "nid", beam, carry = Seq("qv", "__qn"))
        .select(col("qid"), col("qv"), col("__qn"), col("nid"))
      val expanded = beamFront
        .join(adj.select(col("src").as("nid"), col("dst")), Seq("nid"))
        .select(col("qid"), col("qv"), col("__qn"), col("dst").as("nid"))
        .distinct()
        .join(visited.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
      val scored = score(expanded).localCheckpoint()
      val nextVisited = visited.unionByName(scored).localCheckpoint()
      // release the superseded accumulator AND the consumed frontier
      // (hop 1's frontier IS the initial visited — don't double-release)
      Bridge.releaseCheckpoints(visited)
      if (!(frontier eq visited)) Bridge.releaseCheckpoints(frontier)
      visited = nextVisited
      frontier = scored
    }

    val out = TopK
      .perKey(visited.where(col("qid") =!= col("nid")), Seq("qid"), "cos_sim", "nid", k)
      .select(col("qid"), col("nid"), round(col("cos_sim"), 4).as("cos_sim"))
      .localCheckpoint()
    if (!(frontier eq visited)) Bridge.releaseCheckpoints(frontier)
    Bridge.releaseCheckpoints(visited)
    adj.unpersist(false)
    v.unpersist(false)
    out
  }

  /** Incrementally extend a k-NN graph with a batch of NEW documents —
    * the daily-crawl maintenance path (the [[AnnIvfPq.appendPartitioned]]
    * story for the graph index): seed the new docs' neighbor lists from
    * LSH buckets over the COMBINED corpus (new docs can neighbor old
    * ones and vice versa), union with the existing edge list, and run
    * `sweeps` NN-Descent rounds to let the new edges propagate. Old
    * nodes' lists only improve (top-k over a superset); nothing is
    * rebuilt from scratch — per-append cost is the new docs' seed join
    * plus the usual sweep cost on the merged list.
    */
  def appendToGraph(
      graph: DataFrame,
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int = 10,
      sweeps: Int = 1,
      numPlanes: Int = 6,
      numTables: Int = 4
  ): DataFrame = {
    val v = withNorm(corpus, idCol, vecCol).persist()
    v.count()
    // LSH candidates restricted to pairs touching a NEW doc (semi-join
    // on either endpoint): the old graph already covers old-old
    // neighborhoods
    val b = AnnLsh.bucketize(v, idCol, vecCol, dims, numPlanes, numTables).persist()
    val newIds = newDocs.select(col(idCol).as("__nid")).distinct()
    val l = b.select(col("table"), col("bucket"), col(idCol).as("src"))
    val r = b.select(col("table"), col("bucket"), col(idCol).as("dst"))
    // restrict ONE SIDE of each bucket join to new docs BEFORE joining:
    // the pair generation only ever touches buckets a new doc lives in —
    // the old-old pair space (the full corpus blowup) is never formed
    val lNew = l.join(newIds.select(col("__nid").as("src")), Seq("src"), "left_semi")
    val rNew = r.join(newIds.select(col("__nid").as("dst")), Seq("dst"), "left_semi")
    val candNew = lNew.join(r, Seq("table", "bucket"))
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
      .unionByName(
        l.join(rNew, Seq("table", "bucket"))
          .where(col("src") =!= col("dst"))
          .select("src", "dst"))
      .distinct()
    var edges = Bridge.iterCheckpointKeyed(topKPerSrc(
      scoreEdges(candNew, v, idCol, vecCol).unionByName(graph.select("src", "dst", "cos_sim")),
      k))
    b.unpersist(false)
    for (_ <- 0 until sweeps) {
      val (nextPlan, eD) = sweepOnce(edges, v, idCol, vecCol, k)
      val next = Bridge.checkpointStep(nextPlan, "nn-descent-sweep").leaf
      Seq(eD, edges).foreach(Bridge.releaseCheckpoints)
      edges = next
    }
    v.unpersist(false)
    edges
  }

  /** Persist a built k-NN graph as THE on-disk index: the edge list
    * bucketed AND sorted by `src` ([[graft.sources.Bucketed]]). The
    * edge list is the entire index state (n·k id/id/score rows — a
    * fraction of the vector bytes), so materializing it means a fresh
    * session searches immediately: no rebuild, no re-shuffle — every
    * hop's `frontier ⋈ edges on src` reads the scan's own bucket
    * distribution. Sized like any bucketed fact table: one bucket ≈ one
    * executor-core task at target scale.
    */
  def writeIndex(graph: DataFrame, table: String, buckets: Int): Unit =
    graft.sources.Bucketed.writeBucketed(
      graph.select(col("src"), col("dst"), col("cos_sim")), table, "src", buckets)

  /** The table-backed edge list (bucket metadata from the catalog). */
  def readIndex(spark: org.apache.spark.sql.SparkSession, table: String): DataFrame =
    graft.sources.Bucketed.table(spark, table)

  /** [[search]] over a persisted index table — the steady-state serving
    * path: build once ([[knnGraph]] → [[writeIndex]]), then any session
    * searches the materialized edge list directly. Query batches are
    * broadcast-small against it; when a batch is big enough to plan as a
    * sort-merge join, the bucket layout keeps the index side
    * exchange-free (only the tiny frontier moves — SimSpec pins it).
    */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      table: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int = 10,
      hops: Int = 3,
      entries: Int = 4
  ): DataFrame =
    search(queries, readIndex(spark, table), corpus, idCol, vecCol, k, beam, hops, entries)

  /** Persist BOTH layers of the hierarchical index: the full k-NN graph
    * at `table` and the coarse navigable layer — built over the SAME
    * deterministic hash sample [[topKHierarchical]] routes through — at
    * `<table>__coarse`, each bucketed by `src`. A fresh session then
    * runs the layered search with no rebuild and no index-side exchange
    * on either layer; previously only the base layer persisted and the
    * routing graph was rebuilt per session.
    */
  def writeHierarchicalIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      table: String,
      buckets: Int,
      graphK: Int = 10,
      sweeps: Int = 2,
      coarseEvery: Int = 8
  ): Unit = {
    val gF = knnGraph(corpus, idCol, vecCol, dims, graphK, sweeps)
    writeIndex(gF, table, buckets)
    Bridge.releaseCheckpoints(gF)
    val coarse = corpus.where(pmod(xxhash64(col(idCol)), lit(coarseEvery.toLong)) === 0)
    val gC = knnGraph(coarse, idCol, vecCol, dims, graphK, sweeps)
    writeIndex(gC, s"${table}__coarse", math.max(1, buckets / coarseEvery))
    Bridge.releaseCheckpoints(gC)
  }

  /** [[topKHierarchical]] semantics over the persisted two-layer index
    * (write with [[writeHierarchicalIndex]]; pass the same
    * `coarseEvery` so the entry-point corpus matches the stored coarse
    * layer). Coarse routing and full-layer search are both the bounded
    * frontier-join search over bucketed edge tables.
    */
  def searchHierarchicalIndexed(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      table: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int = 10,
      hops: Int = 3,
      coarseEvery: Int = 8,
      fullEntries: Int = 4
  ): DataFrame = {
    val coarse = corpus.where(pmod(xxhash64(col(idCol)), lit(coarseEvery.toLong)) === 0)
    val entryPairs = search(
      queries, readIndex(spark, s"${table}__coarse"), coarse, idCol, vecCol,
      k = fullEntries, beam = beam, hops = hops)
      .select(col("qid"), col("nid"))
      .localCheckpoint()
    val out =
      searchFrom(queries, readIndex(spark, table), corpus, idCol, vecCol, k, beam, hops, entryPairs)
    Bridge.releaseCheckpoints(entryPairs)
    out
  }

  /** [[writeHierarchicalIndex]] plus an [[graft.sources.IndexCatalog]]
    * entry at `path` recording the layer TABLE NAMES and the build
    * parameters the serving side must agree on — `coarseEvery` above
    * all: searching with a different value than the index was built
    * with silently routes through a mismatched entry-point corpus.
    * The edge lists themselves stay in their bucketed-table layout
    * (that's what keeps the index side exchange-free); the catalog
    * entry is metadata-only and REFERENCES them from props.
    */
  def writeHierarchicalCatalog(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      path: String,
      table: String,
      buckets: Int,
      graphK: Int = 10,
      sweeps: Int = 2,
      coarseEvery: Int = 8
  ): Unit = {
    writeHierarchicalIndex(corpus, idCol, vecCol, dims, table, buckets, graphK, sweeps, coarseEvery)
    graft.sources.IndexCatalog.write(
      corpus.sparkSession, path, "ann_graph",
      Map(
        "table" -> table,
        "coarse_table" -> s"${table}__coarse",
        "coarse_every" -> coarseEvery.toString,
        "graph_k" -> graphK.toString,
        "buckets" -> buckets.toString,
        "dims" -> dims.toString),
      Seq.empty)
  }

  /** [[searchHierarchicalIndexed]] driven by a catalog entry: the layer
    * tables and `coarseEvery` come from the entry's props, so a serving
    * session cannot mis-pair them with the stored layers.
    */
  def searchHierarchicalCatalog(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      beam: Int = 10,
      hops: Int = 3,
      fullEntries: Int = 4
  ): DataFrame = {
    val meta = graft.sources.IndexCatalog.open(spark, path, "ann_graph")
    searchHierarchicalIndexed(
      spark, queries, meta.prop("table"), corpus, idCol, vecCol, k,
      beam, hops, meta.propInt("coarse_every"), fullEntries)
  }

  /** Hierarchical (HNSW-style) layered search: a COARSE graph over a
    * deterministic hash sample of the corpus (every `coarseEvery`-th
    * node) is searched first with the cheap fixed entries; each query's
    * best coarse hits become its entry points into the FULL graph. The
    * coarse hop replaces "start from a global fixed node" with "start
    * near the query" — the navigable-layer idea, distributed: both
    * levels are the same bounded-join search, and the coarse level costs
    * 1/coarseEvery² of the full graph's edges.
    */
  def topKHierarchical(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int,
      graphK: Int = 10,
      sweeps: Int = 2,
      beam: Int = 10,
      hops: Int = 3,
      coarseEvery: Int = 8,
      fullEntries: Int = 4
  ): DataFrame = {
    val coarse = corpus.where(pmod(xxhash64(col(idCol)), lit(coarseEvery.toLong)) === 0)
    val gC = knnGraph(coarse, idCol, vecCol, dims, graphK, sweeps)
    val entryPairs = search(queries, gC, coarse, idCol, vecCol,
      k = fullEntries, beam = beam, hops = hops)
      .select(col("qid"), col("nid"))
      .localCheckpoint()
    Bridge.releaseCheckpoints(gC)
    val gF = knnGraph(corpus, idCol, vecCol, dims, graphK, sweeps)
    val out = searchFrom(queries, gF, corpus, idCol, vecCol, k, beam, hops, entryPairs)
    Bridge.releaseCheckpoints(gF)
    Bridge.releaseCheckpoints(entryPairs)
    out
  }

  /** Build + search in one call (small-corpus convenience; at scale the
    * graph is built once and reused across query batches).
    */
  def topK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      k: Int,
      graphK: Int = 10,
      sweeps: Int = 2,
      beam: Int = 10,
      hops: Int = 3,
      entries: Int = 4
  ): DataFrame = {
    val g = knnGraph(corpus, idCol, vecCol, dims, graphK, sweeps)
    val out = search(queries, g, corpus, idCol, vecCol, k, beam, hops, entries)
    Bridge.releaseCheckpoints(g)
    out
  }
}
