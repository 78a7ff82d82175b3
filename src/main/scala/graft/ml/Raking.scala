package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Survey raking — iterative proportional fitting (Deming–Stephan):
  * scale cell weights so a biased sample's row and column margins
  * match population targets. The standard post-stratification tool
  * when only the MARGINS of the population are known (e.g. re-weight
  * a filtered training subset back to the full corpus's source × lang
  * mix without the joint table).
  *
  * Each sweep is two keyed aggregates + two joins over the CELL frame
  * (contingency-sized: |rows| × |cols| cells, margin-sized sums —
  * never sample-row-sized; collapse the sample to cells first). The
  * frame is checkpointed through [[Bridge.checkpointStep]] every
  * fourth sweep so 20 iterations stay constant-cost (the FixedEffects
  * loop discipline). IPF is contractive on positive cells, so cross-engine
  * summation-order noise (~1e-16/sweep) stays ~1e-13 — DuckDB replays
  * the whole loop as a recursive CTE and matches at the 6dp quantizer.
  *
  * Conventions: cells must have positive mass and every cell key must
  * appear in both target frames (inner joins — unmatched cells DROP,
  * count them upstream); zero targets zero the matching cells (w = 0
  * is a fixed point). Margins converge exactly on the LAST-swept axis
  * (columns) and to within the iteration tolerance on rows.
  */
object Raking {

  /** Rake `cells` (one row per (r, c) with mass `nCol`) to
    * `rowTargets`/`colTargets` (frames keyed by the same r / c columns
    * with a `target` column). Returns one row per surviving cell:
    * r, c, n (input mass), `weight` (6dp) and `raked` = n·weight (6dp,
    * quantized from the RAW weight — not from the quantized one).
    */
  def ipf(
      cells: DataFrame,
      rCol: String,
      cCol: String,
      nCol: String,
      rowTargets: DataFrame,
      colTargets: DataFrame,
      iters: Int = 20): DataFrame = {
    require(iters >= 1, "Raking.ipf: need at least one sweep")
    def q6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val rt = rowTargets.select(col(rCol).as("__r"), col("target").cast("double").as("__tr"))
    val ct = colTargets.select(col(cCol).as("__c"), col("target").cast("double").as("__tc"))
    var cur = cells
      .select(col(rCol).as("__r"), col(cCol).as("__c"), col(nCol).cast("double").as("__n"))
      .join(rt, Seq("__r"))
      .join(ct, Seq("__c"))
      .withColumn("__w", lit(1.0))
    // each axis sweep is a WINDOW sum over the axis key, not an
    // aggregate joined back (r12 opt round): the margin total lands on
    // the cell row in ONE exchange (the former shape exchanged the cell
    // frame into the join anyway, plus the margin aggregate), and the
    // plan references `cur` once per sweep instead of twice per axis —
    // linear, not exponential, growth between checkpoints. Same addend
    // multiset per margin sum; only summation order moves (~1e-16 —
    // IPF is contractive, the 6dp quantizer and the recursive-CTE
    // oracle replay both absorb it, re-verified green at both SFs).
    import org.apache.spark.sql.expressions.Window
    val wR = Window.partitionBy("__r")
    val wC = Window.partitionBy("__c")
    for (it <- 1 to iters) {
      // guard: a zeroed axis (target 0 → mass 0 next sweep) must stay a
      // fixed point at w = 0, not divide 0/0 into NaN
      val rowScaled = cur
        .withColumn("__rs", sum(col("__n") * col("__w")).over(wR))
        .withColumn("__w",
          when(col("__rs") > 0, col("__w") * col("__tr") / col("__rs"))
            .otherwise(lit(0.0)))
        .drop("__rs")
      val swept = rowScaled
        .withColumn("__cs", sum(col("__n") * col("__w")).over(wC))
        .withColumn("__w",
          when(col("__cs") > 0, col("__w") * col("__tc") / col("__cs"))
            .otherwise(lit(0.0)))
        .drop("__cs")
      // checkpoint every FOURTH sweep (and the last): with the linear
      // window-chain plan, four stacked sweeps stay a few hundred plan
      // nodes — the former join shape quadrupled per sweep and needed
      // truncation every second sweep. The leaf it supersedes (none
      // before the first checkpoint: `cur` is then a plan over the
      // caller's frames) is released once the new one exists.
      cur =
        if (it % 4 == 0 || it == iters) {
          val next = Bridge.checkpointStep(swept, "raking-sweep", keyed = false).leaf
          if (it > 4) Bridge.releaseCheckpoints(cur)
          next
        } else swept
    }
    cur.select(
      col("__r").as(rCol),
      col("__c").as(cCol),
      col("__n").as("n"),
      q6(col("__w")).as("weight"),
      q6(col("__n") * col("__w")).as("raked"))
  }

  /** Kish design effect of a weight column — the price of unequal
    * weights: deff = n·Σw²/(Σw)², n_eff = n/deff = (Σw)²/Σw². The
    * standard "how much did raking cost us in effective sample size"
    * readout over [[ipf]]'s output (or any weight frame). One
    * aggregate; zero-mass weight sets return null deff.
    */
  def designEffect(df: DataFrame, weightCol: String): DataFrame = {
    def q6(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val w = col(weightCol).cast("double")
    df.agg(count(lit(1)).as("n"), sum(w).as("sw"), sum(w * w).as("sww"))
      .select(
        col("n").cast("long").as("n"),
        when(col("sw") > 0,
          q6(col("n").cast("double") * col("sww") / (col("sw") * col("sw"))))
          .as("deff"),
        when(col("sww") > 0,
          q6(col("sw") * col("sw") / col("sww"))).as("n_eff"))
  }
}
