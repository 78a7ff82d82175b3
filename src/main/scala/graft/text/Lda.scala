package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.{SharedHash, VecSumAgg}

/** Latent Dirichlet Allocation by distributed MAP-EM (Hofmann 1999 PLSA
  * E/M steps with Dirichlet-β smoothing on the topic–word table — the
  * batch-EM view of LDA; Asuncion 2009 shows the smoothed-EM/VB family
  * behaves equivalently for corpus-scale fitting): unsupervised topic
  * discovery over the curation stack — "what is IN this crawl slice"
  * (mixture membership for mix reporting beside [[graft.ops.Stats]]
  * concentration, topic-conditional sampling weights, off-domain
  * detection beside [[Keyness]]'s per-token view).
  *
  * Everything is DataFrame-shaped and deterministic:
  *
  *   - θ (doc × K) and φ (word × K) live as `array<double>` columns —
  *     the corpus-sized frames never leave the cluster; only the 1×K
  *     per-topic totals are collected each iteration.
  *   - E-step: counts ⋈ φ (word key) ⋈ θ (doc key); responsibilities
  *     are row-local higher-order functions (`zip_with`/`aggregate`) —
  *     no UDF, fully codegen'd.
  *   - M-step: per-doc and per-word [[VecSumAgg]] element-wise sums
  *     (map-side combined — the shuffle carries K doubles per key, not
  *     K rows), then row-local normalization; φ's per-topic totals are
  *     ONE K-vector collected and folded back as literals.
  *   - Init breaks the uniform-fixpoint symmetry with md5-60 hash
  *     perturbations of (salt, id, k) — reproducible on any cluster
  *     size, no random state.
  *   - θ/φ are checkpointed per iteration (the FE lineage lesson), the
  *     superseded ones released, and the MAP objective
  *     Σ c·ln Σ_k θφ + β Σ ln φ is recorded per iteration — EM
  *     guarantees it non-decreasing, which the spec pins.
  *
  * Scale shape per iteration: two key-partitioned joins + two grouped
  * vector sums over the nnz (doc, word) frame — the same cost class as
  * one [[graft.ml.Glm]] IRLS sweep; K and vocab size only widen rows.
  */
object Lda {

  final case class Model(
      theta: DataFrame, // (doc, array<double> K) — P(topic | doc)
      phi: DataFrame, // (word, array<double> K) — P(word | topic)
      k: Int,
      objective: Seq[Double])

  private def hashUnit(parts: Column*): Column =
    pmod(SharedHash.md5Long60(concat_ws(":", parts: _*)), lit(1000003L))
      .cast("double") / 1000003.0

  /** Normalized positive init vector 1 + u(id, k) per element. */
  private def initVec(salt: String, id: Column, k: Int): Column = {
    val raw = transform(
      sequence(lit(0), lit(k - 1)),
      i => lit(1.0) + hashUnit(lit(salt), id.cast("string"), i.cast("string")))
    transform(raw, x => x / aggregate(raw, lit(0.0), (a, b) => a + b))
  }

  /** Fit on a (doc, word, cnt) count frame. `beta` is the φ Dirichlet
    * smoothing (keeps unseen/rare words off zero); θ is maximum
    * likelihood. Deterministic in (data, k, iters, beta, salt).
    */
  def fit(
      counts: DataFrame,
      docCol: String,
      wordCol: String,
      cntCol: String,
      k: Int,
      iters: Int,
      beta: Double = 0.01,
      salt: String = "lda"
  ): Model = {
    require(k >= 1 && iters >= 1 && beta > 0, s"bad LDA params k=$k iters=$iters beta=$beta")
    val c = counts
      .select(
        col(docCol).cast("string").as("doc"),
        col(wordCol).cast("string").as("word"),
        col(cntCol).cast("double").as("cnt"))
      .repartition(col("word"))
      .sortWithinPartitions("word")
      .transform(Bridge.staticCheckpointKeyed(_)) // consumed every iteration, co-partitioned with φ

    val nVocab = c.select("word").distinct().count()

    // every checkpoint in the loop is rebuilt as a stats-free leaf —
    // localCheckpoint preserves origin stats and the iterated joins
    // otherwise compound sizeInBytes into huge BigInts (see
    // Bridge.freshLeaf)
    def ck(df: DataFrame): DataFrame = Bridge.iterCheckpointKeyed(df)

    var theta = ck(c.select("doc").distinct()
      .withColumn("theta", initVec(s"$salt:t", col("doc"), k)))
    // φ is a distribution over WORDS per topic — column-normalize the
    // init (a row-normalized init inflates the first objective reading
    // because Σ_w φ_kw = V/K ≠ 1 breaks the probability semantics)
    var phi = {
      val raw = ck(c.select("word").distinct()
        .withColumn("praw", transform(
          sequence(lit(0), lit(k - 1)),
          i => lit(1.0) + hashUnit(lit(s"$salt:p"), col("word"), i.cast("string")))))
      val tot = raw.agg(VecSumAgg.vecSum(col("praw"))).head().getSeq[Double](0).toArray
      val normed = ck(raw
        .select(
          col("word"),
          zip_with(col("praw"), array(tot.map(lit): _*), (p, t) => p / t).as("phi")))
      Bridge.releaseCheckpoints(raw)
      normed
    }

    val obj = Seq.newBuilder[Double]
    for (_ <- 0 until iters) {
      // E-step: row-local responsibilities cnt·θφ/Σθφ. The nnz frame is
      // lazily CHECKPOINTED so the TWO M-step consumers (byDoc,
      // byWord) share one compute of the double join (opt guide §1.2
      // step 1 — don't do the same pass twice): byDoc's checkpoint
      // action materializes the blocks, byWord reads them. Checkpoint,
      // not persist: InMemoryRelation's columnar encoding of the K-wide
      // array columns costs more than it saves (the FE-GLM η lesson).
      // The word join is co-partitioned (c exchanged once at entry, φ
      // is a groupBy("word") output), so per iteration only the
      // doc-side redistribution and the byWord aggregate exchange rows.
      val joined = c.join(phi, "word").join(theta, "doc")
        .withColumn("resp", zip_with(col("theta"), col("phi"), (t, p) => t * p))
        .withColumn("denom", aggregate(col("resp"), lit(0.0), (a, b) => a + b))
        .withColumn("w", transform(col("resp"), x => x * col("cnt") / col("denom")))
        .transform(Bridge.truncate(_, eager = false))

      // prior term of the objective at the CURRENT φ (before the
      // update, so obj records L(θ_i, φ_i) consistently — EM ascends L)
      val llPhi = phi
        .agg(sum(aggregate(col("phi"), lit(0.0), (a, p) => a + log(p))))
        .head().getDouble(0)

      // M-step sums + the data part of the objective in the same pass;
      // the objective total rides the checkpoint action as an observed
      // metric (r13: the former standalone byDoc.agg(sum) job is gone)
      val byDoc = Bridge.checkpointStep(
        joined.groupBy("doc")
          .agg(VecSumAgg.vecSum(col("w")).as("s"), sum(col("cnt") * log(col("denom"))).as("ll")),
        "lda-doc",
        Seq(sum(col("ll")).as("llData")))
      // the per-topic totals ride the byWord checkpoint action too
      val byWord = Bridge.checkpointStep(
        joined.groupBy("word").agg(VecSumAgg.vecSum(col("w")).as("s")),
        "lda-word",
        Seq(VecSumAgg.vecSum(col("s")).as("tot")))
      // both successors are materialized: the E-step blocks and the
      // superseded θ/φ leaves are dead
      Seq(joined, theta, phi).foreach(Bridge.releaseCheckpoints)
      // θ/φ are cheap row-local projections OVER the checkpointed
      // aggregate leaves — no extra materialization job each (they
      // re-derive from the leaf on use; lineage stays one hop)
      theta = byDoc.leaf
        .select(
          col("doc"),
          transform(col("s"), x => x / aggregate(col("s"), lit(0.0), (a, b) => a + b))
            .as("theta"))
      val tot = byWord.metrics.getSeq[Double](0).toArray
      val totCol = array(tot.map(t => lit(t + nVocab * beta)): _*)
      phi = byWord.leaf
        .select(
          col("word"),
          zip_with(
            transform(col("s"), x => x + lit(beta)),
            totCol,
            (s, t) => s / t).as("phi"))

      obj += byDoc.metrics.getDouble(0) + beta * llPhi
    }
    Bridge.releaseCheckpoints(c)
    Model(theta, phi, k, obj.result())
  }

  /** Per-topic top-`n` words by φ, ties broken by word — the
    * human-readable topic summary.
    */
  def topWords(model: Model, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val long = model.phi
      .select(col("word"), posexplode(col("phi")).as(Seq("topic", "phi")))
    val w = Window.partitionBy("topic").orderBy(col("phi").desc, col("word"))
    long
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= n)
      .select(col("topic"), col("rank"), col("word"), round(col("phi"), 5).as("phi"))
  }
}
