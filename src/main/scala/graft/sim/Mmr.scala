package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
  * the diversity stage of a retrieval pipeline: from each query's
  * candidate shortlist (an [[AnnIvf]]/[[Cosine.topK]] output), greedily
  * pick k items maximizing λ·rel − (1−λ)·max_{s∈selected} cos(c, s),
  * so near-duplicate candidates don't crowd the context window.
  *
  * Spark-first shape: ALL queries advance one greedy step per
  * iteration — each of the k rounds is one keyed window argmax + one
  * equi-join on qid updating the per-candidate running max-similarity
  * incrementally (against the ONE vector just selected, not the whole
  * selected set — the classic O(k·|cand|) incremental form). Frames
  * stay candidate-shortlist-sized; `Bridge.iterCheckpoint` per round
  * keeps the loop constant-cost. No driver-side per-query loop:
  * 10 queries or 10 million advance in the same k jobs.
  *
  * Determinism/replay contract: the argmax compares the score
  * quantized to 1e-6 (floor(x·1e6 + 0.5), the house quantizer) with
  * the candidate id as tie-break, so a DuckDB oracle replays the
  * selection exactly (cross-engine float noise ~1e-15 cannot flip the
  * comparison away from a genuine 1e-6 boundary). The empty-set
  * max-similarity is the sentinel −1 (cos ≥ −1 always), which makes
  * round 1 an argmax over rel alone — standard MMR — while keeping
  * one uniform score expression across rounds.
  */
object Mmr {

  /** Greedy diversified top-k per query. `cands`: one row per
    * (query, candidate) with a relevance score and the candidate
    * vector. Returns (qid, rank 1..k, cid, rel, maxsim at selection
    * [−1 for rank 1], score) with maxsim/score floor-quantized to
    * 4dp. Queries with fewer than k candidates return all of them.
    */
  def rerank(
      cands: DataFrame,
      qidCol: String,
      cidCol: String,
      relCol: String,
      vecCol: String,
      k: Int,
      lambda: Double): DataFrame = {
    require(k > 0, "Mmr: k must be positive")
    require(lambda >= 0 && lambda <= 1, "Mmr: lambda in [0,1]")
    val lam = lambda
    val oneMinus = 1.0 - lambda
    def q4(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e4) + lit(0.5)).cast("double") / lit(1e4)

    val base = cands.select(
      col(qidCol).as("qid"),
      col(cidCol).as("cid"),
      col(relCol).cast("double").as("rel"),
      col(vecCol).as("vec"))
      .withColumn("nrm", Cosine.norm(col("vec")))
      .withColumn("ms", lit(-1.0))
    var remaining = Bridge.iterCheckpoint(base)
    var selected: DataFrame = null

    for (i <- 1 to k) {
      val score = lit(lam) * col("rel") - lit(oneMinus) * col("ms")
      val pick = remaining
        .withColumn("qs", floor(score * lit(1e6) + lit(0.5)).cast("long"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("qid").orderBy(col("qs").desc, col("cid"))))
        .where(col("rk") === 1)
      val sel = pick.select(
        col("qid"), col("cid"), col("rel"), col("ms"), lit(i).as("sel_rank"))
      selected = if (selected == null) sel else selected.unionByName(sel)
      if (i < k) {
        val pv = pick.select(
          col("qid"), col("cid").as("scid"), col("vec").as("svec"), col("nrm").as("snrm"))
        // no release: `selected` reads every generation of `remaining`
        remaining = Bridge.iterCheckpoint(
          remaining.join(pv, Seq("qid"))
            .where(col("cid") =!= col("scid"))
            .withColumn("ms",
              greatest(col("ms"),
                Cosine.cosine(col("vec"), col("svec"), col("nrm"), col("snrm"))))
            .drop("scid", "svec", "snrm"))
      }
    }
    selected.select(
      col("qid"), col("sel_rank"), col("cid"),
      col("rel"),
      q4(col("ms")).as("maxsim"),
      q4(lit(lam) * col("rel") - lit(oneMinus) * col("ms")).as("score"))
  }
}
