package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** High-dimensional fixed-effects regression — Spark-first version of the
  * reference `estimate` (reference: hdfe/hdfe.py:49-181).
  *
  * The reference offers (a) a within estimator for the first FE plus
  * dummy columns for the rest (hdfe.py:73-120) and (b) a sparse dummy
  * design solved with lsqr (hdfe.py:121-144). Neither materialized-dummy
  * path survives 100 TB. graft instead absorbs ALL fixed effects by
  * alternating projections (Halperin / MAP — the reghdfe family):
  * iteratively subtract within-group means for each FE until the group
  * means vanish. With one FE this converges in a single sweep and is
  * exactly the reference's within estimator.
  *
  * Scale design (the round-2 rewrite, sharpened in round 6): alternating
  * projections only ever need per-group MEANS, and those are exactly
  * recoverable from per-cell sufficient statistics, where a cell is one
  * distinct FE-key tuple: mean_f(g) = Σ_{cells c∈g} (sum_c − n_c ·
  * Σ_f' a_f'(c)) / n_g. So ONE distributed pass compresses the fact
  * table to the cell frame (weight mass + per-column sums + cross-
  * product sums — map-side combined, only #cells rows ever shuffle) and
  * every sweep runs against that frame. Because the cell stats carry the
  * cross-products, the DEMEANED Gram matrix is also exact from cells
  * alone ([[CellGram]]), so a fit solves its normal equations with NO
  * second fact pass — the fact table is read once per fit; the lazy
  * `demeaned` frame (one join) exists for residual/variance consumers.
  * Per-sweep state is cell-sized, never n-sized.
  *
  * One solver (Halperin sweeps, vector-Aitken extrapolation, Jacobi-
  * preconditioned CG, the cell Gram) runs in two regimes, which differ
  * only in how its cell passes run and where its parameter vectors live
  * ([[CellPasses]]):
  *  - driver cells (≤ `collectCellLimit`): collect the cell stats once
  *    and run every pass in local arrays — a pass is O(#cells · #FEs ·
  *    #cols) flops, so convergence to machine precision costs
  *    microseconds and ZERO extra cluster jobs;
  *  - a cell RDD (more cells): the same solver over a cached RDD of
  *    primitive cell blocks, one Spark job per pass and no Catalyst plan
  *    inside the loop. The broadcast gate
  *    (`spark.graft.fe.broadcastGroupLimit`) places each FE: within it,
  *    its key index and vectors stay on the driver (the same sweep
  *    count, effects equal up to summation order); over it (parameters
  *    too many for the driver), its ids, vectors and effect table stay
  *    distributed.
  */
case class FeModel(
    yName: String,
    xNames: Seq[String],
    feNames: Seq[String],
    coef: Array[Double],
    n: Long,
    sweeps: Int,
    ols: OlsModel,
    /** demeaned frame: original columns plus `<col>__dm` for y and xs */
    demeaned: DataFrame,
    /** per-FE cumulative demeaning effect tables (see [[Demeaned]]) */
    effectTables: Seq[DataFrame]
) {
  /** Residuals of the full model (all FE effects absorbed):
    * u = y_dm - X_dm · b. For the 1-FE case this equals y - Xb - fe_g,
    * the reference's residual after removing fixed effects
    * (reference: hdfe.py:120).
    */
  def withResiduals(residCol: String = "resid"): DataFrame = {
    val terms = xNames.zip(coef).map { case (x, b) => col(s"${x}__dm") * b }
    demeaned.withColumn(residCol, terms.foldLeft(col(s"${yName}__dm"))(_ - _))
  }

  /** Recovered fixed effects for the single-FE model: group means of
    * y - X·b (reference: hdfe.py:104-117). Output: fe column + `effect`.
    */
  def effects: DataFrame = {
    require(feNames.length == 1, "closed-form effect recovery is defined for one FE")
    val pred = xNames.zip(coef).map { case (x, b) => col(x).cast("double") * b }
    val e = pred.foldLeft(col(yName).cast("double"))(_ - _)
    demeaned.withColumn("__e", e).groupBy(col(feNames.head)).agg(avg(col("__e")).as("effect"))
  }

  /** Recovered fixed effects of `fe` for ANY number of absorbed FEs:
    * since the whole alternating-projection operator is linear, the
    * y-equation effect of group g is a_f^y(g) − Σ_j b_j · a_f^{x_j}(g)
    * from the stored per-column demeaning effects. For one FE this
    * equals [[effects]] exactly. For ≥ 2 FEs the split across FEs is
    * unique only up to additive constants (their SUM is canonical) —
    * the same normalization freedom every multi-FE estimator has.
    * Output: fe column + `effect`.
    */
  def modelEffects(fe: String): DataFrame = {
    val f = feNames.indexOf(fe)
    require(f >= 0, s"$fe is not an absorbed FE of this model")
    val e = xNames.zip(coef).foldLeft(col(s"eff_$yName")) { case (acc, (x, b)) =>
      acc - col(s"eff_$x") * b
    }
    effectTables(f).select(col(fe), e.as("effect"))
  }

  /** Number of distinct groups per FE — one tiny aggregate over the
    * demeaned frame (computed lazily, only for variance dof).
    */
  lazy val groupCounts: Seq[Long] = {
    val aggs = feNames.map(f => count_distinct(col(f)).as(s"__g_$f"))
    val row = demeaned.agg(aggs.head, aggs.tail: _*).head()
    feNames.indices.map(row.getLong)
  }

  /** Homoskedastic SEs with the ABSORBED degrees of freedom: the
    * reference computes sigma² = SSR / (n − cols(full dummy design))
    * (reference: hdfe.py:176-179), where the design carries all G₁
    * dummies of the first FE plus G_f − 1 for each additional FE. The
    * inner OLS on demeaned columns only knows k regressors, so correct
    * the dof here: dof = n − k − (Σ_f G_f − (#FEs − 1)).
    */
  def seHomoskedastic: Array[Double] = {
    val absorbed = groupCounts.sum - (feNames.length - 1)
    val dof = n - ols.coef.length - absorbed
    require(dof > 0, s"non-positive dof: n=$n k=${ols.coef.length} absorbed=$absorbed")
    val s2 = ols.ssr / dof.toDouble
    LinAlg.inverse(ols.gram).zipWithIndex.map { case (r, i) => math.sqrt(r(i) * s2) }
  }

  /** Heteroskedasticity-robust (White/Eicker–Huber) covariance of the
    * within estimator, HC1-scaled with the ABSORBED degrees of freedom
    * (n/(n − k − (Σ_f G_f − (#FEs − 1))) — the areg/reghdfe small-
    * sample convention; Ols.varianceHC1's own n/(n−k) is rescaled).
    * One map-side-combined meat pass over the demeaned frame.
    */
  def varianceHC1: Array[Array[Double]] = {
    val v = Ols.varianceHC1(demeaned, ols, s"${yName}__dm")
    val k = ols.coef.length
    val absorbed = groupCounts.sum - (feNames.length - 1)
    val dof = n - k - absorbed
    require(dof > 0, s"non-positive dof: n=$n k=$k absorbed=$absorbed")
    val rescale = (n - k).toDouble / dof.toDouble
    v.map(_.map(_ * rescale))
  }

  def seHC1: Array[Double] =
    varianceHC1.zipWithIndex.map { case (r, i) => math.sqrt(r(i)) }

  /** Cluster-robust covariance of the within estimator (scores use the
    * demeaned regressors; reference: hdfe.py:159-175).
    */
  def seClustered(cluster: String): Array[Double] =
    Ols.seClustered(demeaned, ols, s"${yName}__dm", cluster)

  /** Two-way cluster-robust covariance of the within estimator
    * (Cameron–Gelbach–Miller 2011: V_a + V_b − V_{a∩b}) — the FE
    * regression clustered on firm AND time, the most common CGM use in
    * applied panel work. Delegates the three sandwich terms to
    * [[Ols.varianceClustered2]] over the demeaned frame (the FE columns
    * survive demeaning and serve as cluster keys). Like the one-way
    * path — and the reference, hdfe.py:159-175 — no small-sample
    * correction is applied; the CGM difference can make individual
    * diagonal entries negative on pathological designs, so
    * [[seClustered2]] floors at zero the way [[Ols.seClustered2]] does.
    */
  def varianceClustered2(clusterA: String, clusterB: String): Array[Array[Double]] =
    Ols.varianceClustered2(demeaned, ols, s"${yName}__dm", clusterA, clusterB)

  def seClustered2(clusterA: String, clusterB: String): Array[Double] =
    varianceClustered2(clusterA, clusterB)
      .zipWithIndex.map { case (r, i) => math.sqrt(math.max(r(i), 0.0)) }
}

/** Result of [[FixedEffects.demeanFull]]: the demeaned frame, the sweep
  * count, and one cumulative effect table per FE: (feKey, `eff_<col>`
  * per demeaned column) such that `<col>__dm` = col − Σ_f eff_f. The
  * per-FE SPLIT is canonical only up to additive constants for ≥ 2 FEs
  * (the sum is unique; same normalization freedom as reghdfe) but is
  * deterministic for a given sweep order.
  */
case class Demeaned(
    frame: DataFrame,
    sweeps: Int,
    effects: Seq[DataFrame],
    /** Gram matrix of the DEMEANED value columns (in [[CellGram.cols]]
      * order, weighted when the demean was), derived exactly from the
      * converged cell statistics: Σ_c [q_ij − s_i·a_j − s_j·a_i +
      * n·a_i·a_j] with a the per-cell total effect. Present whenever the
      * multi-FE cell regimes ran — it lets [[FixedEffects.fit]] solve
      * the normal equations with NO second pass over the facts.
      */
    cellGram: Option[CellGram] = None)

/** See [[Demeaned.cellGram]]. `n` is the total weight mass (row count
  * for unit weights).
  */
case class CellGram(cols: Seq[String], gram: Array[Array[Double]], n: Double)

object FixedEffects {

  /** OLS over the demeaned columns solved straight from a [[CellGram]]
    * — the multi-FE fit's normal equations WITHOUT a second fact pass
    * (algebraically identical to the Gram the fact pass would
    * aggregate; pinned by the regime-parity specs). Weighted demeans
    * yield the weighted Gram with n = Σw, the fitWeighted convention.
    */
  private def olsFromCellGram(
      cg: CellGram, y: String, xs: Seq[String], checkRank: Boolean): OlsModel = {
    val yI = cg.cols.indexOf(y)
    val xI = xs.map(cg.cols.indexOf)
    require(yI >= 0 && xI.forall(_ >= 0), "cell gram is missing a requested column")
    val g = xI.map(i => xI.map(j => cg.gram(i)(j)).toArray).toArray
    val c = xI.map(i => cg.gram(i)(yI)).toArray
    Ols.fromGram(xs.map(x => s"${x}__dm"), g, c, cg.gram(yI)(yI), math.round(cg.n), checkRank)
  }

  /** Dot products between the last plain sweep step vectors (d0 =
    * newest); the d2 terms are zero when only two steps exist since the
    * last jump.
    */
  private case class AitkenDots(
      d0d0: Double,
      d0d1: Double,
      d1d1: Double,
      d0d2: Double,
      d1d2: Double,
      d2d2: Double)

  /** Coefficients (c0, c1) of the Aitken jump vector c0·d_s + c1·d_{s-1}
    * summing the geometric step tail in closed form, or None when the
    * gates reject. Order 2 fits d_s ≈ a·d_{s-1} + b·d_{s-2} (dominant
    * modes = roots of t² − a·t − b) and requires real roots in
    * [−0.995, 0.995] with the dominant one ≥ 0.5; the b = 0 single-mode
    * Irons–Tuck form is the fallback. The ≥ 0.5 floor keeps
    * fast-converging panels' sweep trajectories bit-identical; the
    * ≤ 0.995 cap leaves unstable estimates to the CG bail.
    */
  private def aitkenCoef(dots: AitkenDots): Option[(Double, Double)] = {
    import dots._
    // d2d2 ≤ 10·d1d1: in a settled geometric tail consecutive step
    // norms shrink by ρ² ≈ O(1); a much larger d_{s-2} means the
    // startup transient is still in the window and the LSQ fit would be
    // dominated by it (observed: a transient-polluted fit burns the
    // jump on ρ ≈ 0.6 when the true slow mode is 0.97)
    val order2 = if (d2d2 > 0.0 && d2d2 <= 10.0 * d1d1) {
      val det = d1d1 * d2d2 - d1d2 * d1d2
      if (det > 1e-12 * d1d1 * d2d2) {
        val a = (d0d1 * d2d2 - d0d2 * d1d2) / det
        val b = (d0d2 * d1d1 - d0d1 * d1d2) / det
        val disc = a * a + 4.0 * b
        val mass = 1.0 - a - b
        if (disc >= 0.0 && mass > 1e-3) {
          val rho = (a + math.sqrt(disc)) / 2.0
          if (rho >= 0.5 && rho <= 0.995 && math.abs(a - math.sqrt(disc)) / 2.0 <= 0.995)
            Some(((a + b) / mass, b / mass))
          else None
        } else None
      } else None
    } else None
    order2.orElse {
      // single-mode fallback (Irons–Tuck) — only when the last two steps
      // are near-parallel (cos² ≥ 0.98): a two-mode residual fails this
      // and WAITS for the next order-2 window instead of burning the
      // step history on a mixed-ρ jump
      val rho = if (d1d1 > 0.0) d0d1 / d1d1 else 0.0
      val cos2 = if (d0d0 > 0.0 && d1d1 > 0.0) d0d1 * d0d1 / (d0d0 * d1d1) else 0.0
      if (rho >= 0.5 && rho <= 0.995 && cos2 >= 0.98) Some((rho / (1.0 - rho), 0.0)) else None
    }
  }

  /** Demean `cols` within each of `fes` by alternating projections.
    * Returns the input frame with added `<col>__dm` columns and the
    * number of sweeps used. For a single FE one sweep is exact.
    */
  def demean(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      maxSweeps: Int = 500,
      tol: Double = 1e-9,
      collectCellLimit: Long = 2000000L
  ): (DataFrame, Int) = {
    val d = demeanFull(df, cols, fes, maxSweeps, tol, collectCellLimit)
    (d.frame, d.sweeps)
  }

  /** [[demean]] plus the per-FE cumulative effect tables (see
    * [[Demeaned]]).
    */
  def demeanFull(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      maxSweeps: Int = 500,
      tol: Double = 1e-9,
      collectCellLimit: Long = 2000000L,
      weight: Option[String] = None,
      accelerate: Boolean = true,
      knownCellCount: Option[Long] = None
  ): Demeaned = {
    val K = fes.length
    val dcols = cols.map(c => col(c).cast("double"))
    // frequency weights: every count becomes Σw and every sum w-scaled —
    // weighted group means fall out of the SAME cell solvers, whose cell
    // "count" is already a double
    val w = weight.map(c => col(c).cast("double")).getOrElse(lit(1.0))

    if (K == 1) {
      // one sweep is exact: subtract the (weighted) group means directly
      val fe = fes.head
      val meanAggs =
        cols.zipWithIndex.map { case (c, i) => (sum(w * dcols(i)) / sum(w)).as(s"__mean_$c") }
      val means = df.groupBy(col(fe)).agg(meanAggs.head, meanAggs.tail: _*)
      val joined = df.join(means, Seq(fe), "left")
      val out = cols.zipWithIndex.foldLeft(joined) { case (acc, (c, i)) =>
        acc.withColumn(s"${c}__dm", dcols(i) - col(s"__mean_$c"))
      }.drop(cols.map(c => s"__mean_$c"): _*)
      // with one FE the cumulative effect IS the group mean per column
      val eff = cols.zipWithIndex.foldLeft(means) { case (acc, (c, _)) =>
        acc.withColumnRenamed(s"__mean_$c", s"eff_$c")
      }
      return Demeaned(out, 1, Seq(eff))
    }

    // ---- multi-FE: ONE pass compresses facts to distinct-FE-tuple cells
    // (weight mass, per-column weighted sums, and the k(k+1)/2 weighted
    // CROSS-product sums — __q_i_j. The diagonal feeds the convergence
    // scale; the full set makes the demeaned Gram computable from cells
    // alone, so a fit never needs a second fact pass). Map-side combine
    // means only #cells rows shuffle.
    val cells0 = cellStats(df, cols, fes, w)
    // the distinct-FE-tuple count is a property of the FRAME, not of
    // this call — iterative fitters (FE-GLM: one fitWeighted per IRLS
    // step over the same rows) pass it in once and save the
    // count-then-collect double action every iteration (driver regime
    // collects the unpersisted agg directly)
    val (cells, nCells) = knownCellCount match {
      case Some(n) => (if (n <= collectCellLimit) cells0 else cells0.persist(), n)
      case None =>
        val c = cells0.persist()
        (c, c.count())
    }

    if (nCells <= collectCellLimit)
      demeanDriverCells(df, cols, fes, cells, maxSweeps, tol, accelerate)
    else demeanDistributedCells(df, cols, fes, cells, nCells, maxSweeps, tol, accelerate)
  }

  /** The cell frame: per distinct FE tuple, the weight mass `__n`, the
    * weighted sums `__s_i` and cross-product sums `__q_i_j` (i ≤ j) of
    * `cols`.
    */
  private[ml] def cellStats(df: DataFrame, cols: Seq[String], fes: Seq[String], w: Column)
      : DataFrame = {
    val k = cols.length
    val dcols = cols.map(c => col(c).cast("double"))
    val statAggs = sum(w).as("__n") +:
      ((0 until k).map(i => sum(w * dcols(i)).as(s"__s_$i")) ++
        (for (i <- 0 until k; j <- i until k)
          yield sum(w * dcols(i) * dcols(j)).as(s"__q_${i}_$j")))
    df.groupBy(fes.map(col): _*).agg(statAggs.head, statAggs.tail: _*)
  }

  /** Frisch–Waugh–Lovell partial-out: residualize each of `cols` on
    * `controls` after absorbing `fes` — the generalized `get_residual`
    * (reference: hdfe.py:105-120 residualizes one y on x within FEs).
    * One demean pass handles cols ++ controls together; one shared Gram
    * pass ([[Ols.fitMulti]]) fits every col's projection on the
    * controls; output adds `<col>__resid` columns. With no FEs the
    * projection includes an intercept (plain centering).
    */
  def partialOut(
      df: DataFrame,
      cols: Seq[String],
      controls: Seq[String],
      fes: Seq[String] = Nil,
      keep: Seq[String] = Nil,
      maxSweeps: Int = 500,
      tol: Double = 1e-9
  ): DataFrame = {
    val (frame, colNames, ctrlNames, cellGram) =
      if (fes.isEmpty) {
        val needed = (cols ++ controls ++ keep).distinct
        (df.select(needed.map(col): _*), cols, controls, None: Option[CellGram])
      } else {
        val needed = (fes ++ cols ++ controls ++ keep).distinct
        val d =
          demeanFull(df.select(needed.map(col): _*), (cols ++ controls).distinct, fes, maxSweeps, tol)
        (d.frame, cols.map(c => s"${c}__dm"), controls.map(c => s"${c}__dm"), d.cellGram)
      }
    // with a cell Gram every projection solves from the cell stats —
    // the fact table is not re-read for the fits
    val models = cellGram match {
      case Some(cg) =>
        cols.map(c => s"${c}__dm" -> olsFromCellGram(cg, c, controls, checkRank = false)).toMap
      case None => Ols.fitMulti(frame, colNames, ctrlNames, intercept = fes.isEmpty)
    }
    cols.zip(colNames).foldLeft(frame) { case (acc, (c, cn)) =>
      val m = models(cn)
      val terms = m.xNames.zip(m.coef).map {
        case ("(intercept)", b) => lit(b)
        case (x, b)             => col(x).cast("double") * b
      }
      acc.withColumn(s"${c}__resid", terms.foldLeft(col(cn).cast("double"))(_ - _))
    }
  }

  /** Sweeps over COLLECTED cell statistics in driver arrays
    * ([[LocalCells]]): each pass is O(#cells · #FEs · #cols) flops with
    * zero cluster jobs, so the classic MAP convergence-rate weakness
    * costs microseconds, not cluster sweeps. The facts then get the
    * converged effects back via per-FE broadcast joins (the effect
    * tables are #groups rows each).
    */
  private def demeanDriverCells(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      cells: DataFrame,
      maxSweeps: Int,
      tol: Double,
      accelerate: Boolean
  ): Demeaned = {
    val cellSchema = cells.schema
    val rows = cells.collect()
    cells.unpersist(false)
    val p = new LocalCells(rows, fes.length, cols.length)
    val (eff, sweeps) = solveCells(p, cols.length, maxSweeps, tol, accelerate)
    cellOutput(df, cols, fes, cellSchema, p, eff, sweeps)
  }

  /** The hybrid cell solver, shared by both cell backends (only their
    * passes and vector placement differ, see [[CellPasses]]): Halperin
    * sweeps with vector-Aitken extrapolation, then Jacobi-preconditioned
    * CG when the sweeps have not converged. Returns the cumulative per-FE,
    * per-group, per-column effects (g·k + c) and the sweep count
    * (Halperin sweeps + CG iterations).
    */
  private[ml] def solveCells(
      p: CellPasses,
      k: Int,
      maxSweeps: Int,
      tol: Double,
      accelerate: Boolean
  ): (CellPasses.Vec, Int) = {
    import CellPasses.{Dot, MaxAbs, Vec}
    val K = p.groups.length
    val scale = p.scale
    val all = Array.fill(k)(true)
    // the setup pass (group masses, CG right-hand side) runs first: a
    // spread pass's lazy output must be kept before the next job runs
    p.mass
    // cumulative per-FE, per-group, per-column effects
    var eff = p.keep(p.zeros())
    var sweeps = 0
    var converged = false
    // hybrid solver: a few Halperin sweeps catch the easy spectra
    // (well-connected FE graphs converge in < 10), then bail to
    // Jacobi-preconditioned CG on the normal equations in effect space
    // — the reghdfe move for ill-conditioned panels, where alternating
    // projections crawl (chain-overlapping FE graphs: ρ→1 with modes
    // too clustered for extrapolation; measured on the path-graph spec:
    // plain MAP needs thousands of sweeps, CG ≤ dim(parameter space)).
    val halperinCap = if (accelerate) math.min(10, maxSweeps) else maxSweeps
    // Vector-Aitken extrapolation on the sweep step sequence. The step
    // vectors of a linearly converging AP iteration follow d_s ≈
    // a·d_{s-1} + b·d_{s-2} (two dominant modes ρ₁, ρ₂ = roots of
    // t² − a·t − b; one mode is the b = 0 special case). Fitting (a, b)
    // by least squares over the last three PLAIN steps sums the implied
    // tail in closed form: Σ_{j≥1} d_{s+j} = [(a+b)·d_s + b·d_{s-1}] /
    // (1 − a − b) — one jump annihilates a two-mode geometric tail that
    // plain sweeps crawl through. Gates: dominant root ∈ [0.5, 0.995]
    // (fast spectra — TPC-H keys converge at ρ ≈ 0.08 — never trigger,
    // so their trajectory is bit-identical; clustered ill-conditioned
    // spectra beyond the gate are left to the CG bail), real roots,
    // positive mass. Convergence is still certified only by a PLAIN
    // sweep's raw step means, so the fixpoint criterion is unchanged.
    val stepHist = scala.collection.mutable.ArrayBuffer.empty[Vec]
    while (!converged && sweeps < halperinCap) {
      sweeps += 1
      val curStep = new Array[FeBlock](K)
      var delta = 0.0
      for (f <- 0 until K) {
        // the FE's step: group means of the current residual sums
        val m = p.keep(p.perMass(f, p.stepSums(f, eff)))
        val next = p.keep(p.lincomb(eff(f), Seq((Array.fill(k)(1.0), m)), all))
        p.free(eff(f))
        eff = eff.updated(f, next)
        for (d <- p.reduce(Seq(MaxAbs(Array(m)))).head) if (d > delta) delta = d
        curStep(f) = m
      }
      converged = delta < tol * scale
      if (accelerate && !converged) {
        stepHist += curStep
        // sweeps >= 3: by then the fast intra-cluster transient has
        // decayed enough that the fit reads the slow modes
        if (stepHist.length >= 2 && sweeps >= 3) {
          val d0 = stepHist.last
          val d1 = stepHist(stepHist.length - 2)
          val d2 = if (stepHist.length >= 3) Seq(stepHist(stepHist.length - 3)) else Nil
          val pairs = Seq((d0, d0), (d0, d1), (d1, d1)) ++ d2.flatMap(x => Seq((d0, x), (d1, x), (x, x)))
          val v = p.reduce(pairs.map { case (x, y) => Dot(x, y, perColumn = false) }).map(_(0)) ++
            Seq.fill(6 - pairs.length)(0.0)
          aitkenCoef(AitkenDots(v(0), v(1), v(2), v(3), v(4), v(5))).foreach { case (c0, c1) =>
            val next = p.keep(p.lincomb(eff, Seq((Array.fill(k)(c0), d0), (Array.fill(k)(c1), d1)), all))
            p.free(eff)
            eff = next
            // step vectors are not comparable across the jump: re-seed
            stepHist.foreach(p.free)
            stepHist.clear()
          }
        }
        if (stepHist.length > 3) p.free(stepHist.remove(0))
      } else p.free(curStep)
    }
    stepHist.foreach(p.free)
    if (accelerate && !converged) {
      // PCG on H a = b, H = AᵀNA (A: effects → cell totals, N = diag
      // cell mass), b_f(g) = Σ_{c∈g} s_c, diag(H)_f(g) = n_g. The
      // preconditioned residual r/n_g IS the per-group step mean, so
      // the stopping rule matches the Halperin criterion exactly. H is
      // PSD with a known constant-shift nullspace; CG on the consistent
      // system converges to A⁺-consistent effects (cell totals unique).
      // Warm-started from the Halperin state. The columns run batched:
      // one loop, one matvec pass per iteration over every column still
      // active, and each column keeps its own alpha/beta and freezes
      // once its residual passes the stopping rule.
      var x = eff
      var r = p.keep(p.lincomb(p.rhs, Seq((Array.fill(k)(-1.0), p.matvec(x, all))), all))
      var z = p.keep(p.perMass(r))
      var pv = z
      val Seq(rz, res) = p.reduce(Seq(Dot(r, z, perColumn = true), MaxAbs(z)))
      val done = Array.tabulate(k)(c => res(c) < tol * scale)
      var it = 0
      while (done.contains(false) && it < maxSweeps) {
        it += 1
        val act = done.map(!_)
        val hv = p.keep(p.matvec(pv, act))
        val php = p.reduce(Seq(Dot(pv, hv, perColumn = true))).head
        for (c <- 0 until k if act(c) && php(c) <= 0.0) { done(c) = true; act(c) = false }
        val alpha = Array.tabulate(k)(c => if (act(c)) rz(c) / php(c) else 0.0)
        val x1 = p.keep(p.lincomb(x, Seq((alpha, pv)), act))
        val r1 = p.keep(p.lincomb(r, Seq((alpha.map(-_), hv)), act))
        val z1 = p.keep(p.perMass(r1))
        val Seq(rz2, res2) = p.reduce(Seq(Dot(r1, z1, perColumn = true), MaxAbs(z1)))
        val beta = new Array[Double](k)
        for (c <- 0 until k if act(c)) {
          done(c) = res2(c) < tol * scale
          beta(c) = rz2(c) / rz(c)
          rz(c) = rz2(c)
        }
        // freed once the next job has materialized what reads them
        Seq(x, r, z, hv).foreach(p.free)
        if (done.contains(false)) {
          val p1 = p.keep(p.lincomb(z1, Seq((beta, pv)), act))
          p.free(pv)
          pv = p1
        }
        x = x1
        r = r1
        z = z1
      }
      Seq(r, z, pv).foreach(p.free)
      eff = x
      sweeps += it
    }
    (eff, sweeps)
  }

  /** The cell regimes' shared result: the demeaned Gram from one more
    * cell pass (so a fit needs no second fact pass), one effect table per
    * FE and the demeaned facts as lazy joins of those tables. A driver-
    * side FE's table is built on the driver (#groups rows) and broadcast-
    * joined; a spread FE's is a checkpointed frame joined by shuffle.
    */
  private def cellOutput(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      cellSchema: StructType,
      p: CellPasses,
      eff: CellPasses.Vec,
      sweeps: Int
  ): Demeaned = {
    val k = cols.length
    val K = fes.length
    val spark = df.sparkSession
    val gram = p.gram(eff)
    var out = cols.foldLeft(df) { (acc, c) => acc.withColumn(s"${c}__dm", col(c).cast("double")) }
    val effTables = (0 until K).map { f =>
      val schema = StructType(
        StructField(fes(f), cellSchema(f).dataType) +:
          cols.map(c => StructField(s"eff_$c", DoubleType)))
      (eff(f), p) match {
        case (DriverBlock(a), _) =>
          val data = new java.util.ArrayList[Row](p.index(f).size())
          val it = p.index(f).entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val g = e.getValue.intValue()
            data.add(Row.fromSeq(e.getKey +: (0 until k).map(c => a(g * k + c))))
          }
          spark.createDataFrame(data, schema)
        case (SpreadBlock(v), rc: RddCells) =>
          Bridge.truncate(spark.createDataFrame(rc.keyedRows(f, v), schema))
        case (SpreadBlock(_), _) =>
          throw new IllegalStateException("only RddCells spreads an FE")
      }
    }
    for (f <- 0 until K) {
      val renamed = cols.zipWithIndex.foldLeft(effTables(f)) { case (acc, (c, i)) =>
        acc.withColumnRenamed(s"eff_$c", s"__eff_${f}_$i")
      }
      val side = if (eff(f).isInstanceOf[DriverBlock]) broadcast(renamed) else renamed
      out = out.join(side, Seq(fes(f)), "left")
    }
    out = cols.zipWithIndex.foldLeft(out) { case (acc, (c, i)) =>
      acc.withColumn(
        s"${c}__dm",
        (0 until K).foldLeft(col(s"${c}__dm"))((e, f) => e - col(s"__eff_${f}_$i")))
    }.drop((for (f <- 0 until K; i <- 0 until k) yield s"__eff_${f}_$i"): _*)
    Demeaned(out, sweeps, effTables, Some(CellGram(cols, gram, p.totN)))
  }

  /** Cells too many to collect (> `collectCellLimit`): the driver-cell
    * regime's own solver over a cached RDD of primitive cell blocks
    * ([[RddCells]]) — one Spark job per cell pass and no Catalyst plan
    * inside the loop. The broadcast gate
    * (`spark.graft.fe.broadcastGroupLimit`) places each FE's parameter
    * vectors: an FE within it keeps its key index and vectors on the
    * driver, with the driver-cell regime's sweep count, and effects and
    * Gram equal up to summation order; an FE over it keeps them on the
    * executors as distributed blocks. An FE has at most #cells groups,
    * so only a cell count over the gate needs the per-FE group counts,
    * which the cell RDD's setup takes from its distinct keys.
    */
  private def demeanDistributedCells(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      cells: DataFrame,
      nCells: Long,
      maxSweeps: Int,
      tol: Double,
      accelerate: Boolean
  ): Demeaned = {
    val k = cols.length
    // conf-injectable so an FE over the gate is testable without
    // planting 2M+ groups
    val broadcastGroupLimit = df.sparkSession.conf
      .get("spark.graft.fe.broadcastGroupLimit", "2000000").toLong
    val p = new RddCells(cells.rdd, fes.length, k, Some(broadcastGroupLimit).filter(nCells > _))
    // the blocks are materialized: the cell frame is no longer read
    cells.unpersist(false)
    try {
      val (eff, sweeps) = solveCells(p, k, maxSweeps, tol, accelerate)
      cellOutput(df, cols, fes, cells.schema, p, eff, sweeps)
    } finally p.release()
  }

  /** Fit y ~ xs absorbing `fes`. The intercept is absorbed by the FEs.
    * `keep` names extra columns to carry through to the demeaned frame
    * (e.g. row keys for residual output) — everything else is projected
    * away before the iteration so the cell pass reads only what it must.
    */
  def fit(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      maxSweeps: Int = 500,
      tol: Double = 1e-9,
      checkRank: Boolean = false,
      keep: Seq[String] = Nil,
      collectCellLimit: Long = 2000000L
  ): FeModel = {
    require(fes.nonEmpty, "use Ols.fit when there are no fixed effects")
    val needed = (fes ++ (y +: xs) ++ keep).distinct
    val d = demeanFull(df.select(needed.map(col): _*), y +: xs, fes, maxSweeps, tol, collectCellLimit)
    val ols = d.cellGram match {
      case Some(cg) => olsFromCellGram(cg, y, xs, checkRank)
      case None =>
        Ols.fit(d.frame, s"${y}__dm", xs.map(x => s"${x}__dm"), intercept = false,
          checkRank = checkRank)
    }
    // map dropped/kept names back to the original x names
    val keptX = ols.xNames.map(n => n.stripSuffix("__dm"))
    FeModel(y, keptX, fes, ols.coef, ols.n, d.sweeps, ols, d.frame, d.effects)
  }

  /** Frequency-weighted fixed-effects fit: weighted alternating
    * projections (weighted group means via the same cell solvers) plus
    * a weighted Gram pass on the demeaned columns. With integer weights
    * this equals [[fit]] on the row-expanded data exactly (pinned by
    * spec) — which makes it the COMPRESSED-regression path: pre-
    * aggregate duplicate (y, xs, fes) rows to counts, then fit the
    * distinct rows weighted by count. Effect recovery goes through
    * [[FeModel.modelEffects]] (the effect tables are weighted); the
    * 1-FE closed form `effects` and `seClustered` assume unit weights.
    */
  def fitWeighted(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      weight: String,
      maxSweeps: Int = 500,
      tol: Double = 1e-9,
      keep: Seq[String] = Nil,
      collectCellLimit: Long = 2000000L,
      knownCellCount: Option[Long] = None
  ): FeModel = {
    require(fes.nonEmpty, "use Ols.fitWeighted when there are no fixed effects")
    val needed = (fes ++ (y +: xs) :+ weight) ++ keep
    val d = demeanFull(
      df.select(needed.distinct.map(col): _*), y +: xs, fes, maxSweeps, tol,
      collectCellLimit, weight = Some(weight), knownCellCount = knownCellCount)
    val ols = d.cellGram match {
      case Some(cg) => olsFromCellGram(cg, y, xs, checkRank = false)
      case None => Ols.fitWeighted(
        d.frame, s"${y}__dm", xs.map(x => s"${x}__dm"), weight, intercept = false)
    }
    FeModel(y, xs, fes, ols.coef, ols.n, d.sweeps, ols, d.frame, d.effects)
  }

  /** Multi-outcome fixed-effects fit — the reference's 2-D `y` in the
    * within regime (reference: hdfe.py:103-116 runs lstsq per outcome on
    * the same demeaned design). graft demeans ys ++ xs in ONE alternating
    * projection (the sweeps are identical regardless of how many columns
    * ride along) and shares ONE Gram pass across outcomes à la
    * [[Ols.fitMulti]]; only the k×k driver solves repeat per outcome.
    */
  def fitMulti(
      df: DataFrame,
      ys: Seq[String],
      xs: Seq[String],
      fes: Seq[String],
      maxSweeps: Int = 500,
      tol: Double = 1e-9,
      keep: Seq[String] = Nil
  ): Map[String, FeModel] = {
    require(fes.nonEmpty, "use Ols.fitMulti when there are no fixed effects")
    require(ys.nonEmpty, "need at least one outcome")
    val needed = (fes ++ ys ++ xs ++ keep).distinct
    val d =
      demeanFull(df.select(needed.map(col): _*), (ys ++ xs).distinct, fes, maxSweeps, tol)
    val models = d.cellGram match {
      case Some(cg) =>
        ys.map(yn => s"${yn}__dm" -> olsFromCellGram(cg, yn, xs, checkRank = false)).toMap
      case None =>
        Ols.fitMulti(d.frame, ys.map(y => s"${y}__dm"), xs.map(x => s"${x}__dm"),
          intercept = false)
    }
    ys.map { y =>
      val m = models(s"${y}__dm")
      y -> FeModel(y, xs, fes, m.coef, m.n, d.sweeps, m, d.frame, d.effects)
    }.toMap
  }
}
