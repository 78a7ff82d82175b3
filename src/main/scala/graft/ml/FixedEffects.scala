package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
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
  * Two gates pick where the sweeps run; the first two paths share one
  * solver (Halperin sweeps, vector-Aitken extrapolation, Jacobi-
  * preconditioned CG, the cell Gram) and differ only in how its cell
  * passes run ([[CellPasses]]):
  *  - cells fit on the driver (≤ `collectCellLimit`): collect the cell
  *    stats once and run every pass in local arrays — a pass is
  *    O(#cells · #FEs · #cols) flops, so convergence to machine
  *    precision costs microseconds and ZERO extra cluster jobs;
  *  - more cells, every FE within the broadcast gate
  *    (`spark.graft.fe.broadcastGroupLimit`): the same solver over a
  *    cached RDD of primitive cell blocks, one Spark job per pass and
  *    no Catalyst plan inside the loop — the same sweep count, and
  *    effects equal up to summation order;
  *  - some FE over the gate (its parameters cannot live on the
  *    driver): the sweeps run on the persisted cell frame (groupBy the
  *    FE key + join the means back, lazy localCheckpoint per probe) and
  *    the CG as keyed frames — on the compressed frame, whose width is
  *    1 + #cols doubles.
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
    effectTables: Option[Seq[DataFrame]] = None
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
    val tables = effectTables.getOrElse(
      throw new IllegalStateException("this model was fitted without effect tables"))
    val e = xNames.zip(coef).foldLeft(col(s"eff_$yName")) { case (acc, (x, b)) =>
      acc - col(s"eff_$x") * b
    }
    tables(f).select(col(fe), e.as("effect"))
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
  * count, and — when the solve regime tracks them — one cumulative
  * effect table per FE: (feKey, `eff_<col>` per demeaned column) such
  * that `<col>__dm` = col − Σ_f eff_f. The per-FE SPLIT is canonical
  * only up to additive constants for ≥ 2 FEs (the sum is unique; same
  * normalization freedom as reghdfe) but is deterministic for a given
  * sweep order. Both cell regimes track effects; `None` is reserved for
  * future paths that cannot.
  */
case class Demeaned(
    frame: DataFrame,
    sweeps: Int,
    effects: Option[Seq[DataFrame]],
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
    val res = order2.orElse {
      // single-mode fallback (Irons–Tuck) — only when the last two steps
      // are near-parallel (cos² ≥ 0.98): a two-mode residual fails this
      // and WAITS for the next order-2 window instead of burning the
      // step history on a mixed-ρ jump
      val rho = if (d1d1 > 0.0) d0d1 / d1d1 else 0.0
      val cos2 = if (d0d0 > 0.0 && d1d1 > 0.0) d0d1 * d0d1 / (d0d0 * d1d1) else 0.0
      if (rho >= 0.5 && rho <= 0.995 && cos2 >= 0.98) Some((rho / (1.0 - rho), 0.0)) else None
    }
    if (sys.env.contains("GRAFT_FE_DEBUG"))
      println(s"[fe-debug] aitken dots=$dots order2=$order2 res=$res")
    res
  }

  /** Stage timing for the distributed-cell path, printed only when
    * GRAFT_FE_DEBUG is set (perf triage; no cost otherwise).
    */
  private def timed[A](name: String)(f: => A): A =
    if (sys.env.contains("GRAFT_FE_DEBUG")) {
      val t0 = System.nanoTime
      val r = f
      println(f"[fe-debug] $name: ${(System.nanoTime - t0) / 1e9}%.2fs")
      r
    } else f

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
  /** The keyed-frame CG's pre-partition key: the LARGEST non-broadcast
    * FE by the gate's cardinality probe — with two oversized dimensions
    * the per-iteration shuffle joins land on the bigger key, so only
    * the smaller one re-shuffles inside the loop (r11 verdict #3: the
    * first-match pick re-shuffled the larger one every iteration).
    */
  private[ml] def pickBigFe(
      fes: Seq[String],
      feBroadcast: Map[String, Boolean],
      feGroupCount: Map[String, Long]): String =
    fes.filter(f => !feBroadcast(f)).maxBy(feGroupCount)

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
      return Demeaned(out, 1, Some(Seq(eff)))
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
        (c, timed("cells build+count")(c.count()))
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
    * passes differ, see [[CellPasses]]): Halperin sweeps with
    * vector-Aitken extrapolation, then Jacobi-preconditioned CG when
    * the sweeps have not converged. Returns the cumulative per-FE,
    * per-group, per-column effects and the sweep count (Halperin
    * sweeps + CG iterations).
    */
  private[ml] def solveCells(
      p: CellPasses,
      k: Int,
      maxSweeps: Int,
      tol: Double,
      accelerate: Boolean
  ): (Array[Array[Array[Double]]], Int) = {
    val G = p.groups
    val K = G.length
    val gN = p.groupMass
    val scale = p.scale
    // cumulative per-FE, per-group, per-column effects
    val eff = Array.tabulate(K)(f => Array.ofDim[Double](G(f), k))
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
    val stepHist = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Array[Double]]]]
    def stepDot(x: Array[Array[Array[Double]]], y: Array[Array[Array[Double]]]): Double = {
      var acc = 0.0
      for (f2 <- 0 until K; g <- 0 until G(f2); c <- 0 until k)
        acc += x(f2)(g)(c) * y(f2)(g)(c)
      acc
    }
    while (!converged && sweeps < halperinCap) {
      sweeps += 1
      val curStep =
        if (accelerate) Array.tabulate(K)(f => Array.ofDim[Double](G(f), k)) else null
      var delta = 0.0
      var f = 0
      while (f < K) {
        val num = p.stepSums(f, eff)
        var g = 0
        while (g < num.length) {
          var c = 0
          while (c < k) {
            val m = num(g)(c) / gN(f)(g)
            eff(f)(g)(c) += m
            if (curStep != null) curStep(f)(g)(c) = m
            if (math.abs(m) > delta) delta = math.abs(m)
            c += 1
          }
          g += 1
        }
        f += 1
      }
      converged = delta < tol * scale
      if (sys.env.contains("GRAFT_FE_DEBUG"))
        println(f"[fe-debug] cell sweep $sweeps: delta=${delta / scale}%.3e")
      if (accelerate && !converged) {
        stepHist += curStep
        // sweeps >= 3: by then the fast intra-cluster transient has
        // decayed enough that the fit reads the slow modes
        if (stepHist.length >= 2 && sweeps >= 3) {
          val d0 = stepHist.last
          val d1 = stepHist(stepHist.length - 2)
          val d2opt = if (stepHist.length >= 3) Some(stepHist(stepHist.length - 3)) else None
          val dots = AitkenDots(
            d0d0 = stepDot(d0, d0),
            d0d1 = stepDot(d0, d1),
            d1d1 = stepDot(d1, d1),
            d0d2 = d2opt.map(stepDot(d0, _)).getOrElse(0.0),
            d1d2 = d2opt.map(stepDot(d1, _)).getOrElse(0.0),
            d2d2 = d2opt.map(d2 => stepDot(d2, d2)).getOrElse(0.0))
          aitkenCoef(dots).foreach { case (c0, c1) =>
            for (f2 <- 0 until K; g <- 0 until G(f2); c <- 0 until k)
              eff(f2)(g)(c) += c0 * d0(f2)(g)(c) + c1 * d1(f2)(g)(c)
            // step vectors are not comparable across the jump: re-seed
            stepHist.clear()
          }
        }
        if (stepHist.length > 3) stepHist.remove(0)
      }
    }
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
      val off = p.offsets
      val nP = off(K)
      val diag = new Array[Double](nP)
      for (f <- 0 until K; g <- 0 until G(f)) diag(off(f) + g) = gN(f)(g)
      val bVec = p.rhs()
      val x = Array.tabulate(k) { c =>
        val a = new Array[Double](nP)
        for (f <- 0 until K; g <- 0 until G(f)) a(off(f) + g) = eff(f)(g)(c)
        a
      }
      val hx = p.matvec(x, Array.fill(k)(true))
      val r = Array.tabulate(k)(c => Array.tabulate(nP)(j => bVec(c)(j) - hx(c)(j)))
      val z = Array.tabulate(k)(c => Array.tabulate(nP)(j => r(c)(j) / diag(j)))
      val pv = z.map(_.clone())
      val rz = Array.tabulate(k) { c =>
        var acc = 0.0; var j = 0; while (j < nP) { acc += r(c)(j) * z(c)(j); j += 1 }; acc
      }
      def maxStep(c: Int): Double = {
        var mx = 0.0; var j = 0
        while (j < nP) { val e = math.abs(r(c)(j) / diag(j)); if (e > mx) mx = e; j += 1 }
        mx
      }
      val done = Array.tabulate(k)(c => maxStep(c) < tol * scale)
      var it = 0
      while (done.contains(false) && it < maxSweeps) {
        it += 1
        val hv = p.matvec(pv, done.map(!_))
        var c = 0
        while (c < k) {
          if (!done(c)) {
            val (pc, hc, xc, rc, zc) = (pv(c), hv(c), x(c), r(c), z(c))
            var php = 0.0
            var j = 0
            while (j < nP) { php += pc(j) * hc(j); j += 1 }
            if (php <= 0.0) done(c) = true
            else {
              val alpha = rz(c) / php
              j = 0
              while (j < nP) { xc(j) += alpha * pc(j); rc(j) -= alpha * hc(j); j += 1 }
              done(c) = maxStep(c) < tol * scale
              var rz2 = 0.0
              j = 0
              while (j < nP) { zc(j) = rc(j) / diag(j); rz2 += rc(j) * zc(j); j += 1 }
              val beta = rz2 / rz(c)
              rz(c) = rz2
              j = 0
              while (j < nP) { pc(j) = zc(j) + beta * pc(j); j += 1 }
            }
          }
          c += 1
        }
      }
      for (c <- 0 until k; f <- 0 until K; g <- 0 until G(f)) eff(f)(g)(c) = x(c)(off(f) + g)
      sweeps += it
    }
    (eff, sweeps)
  }

  /** The cell regimes' shared result: per-FE effect tables built on the
    * driver (each is #groups rows), the demeaned facts as lazy
    * broadcast joins of those tables, and the demeaned Gram from one
    * more cell pass — so a fit needs no second fact pass.
    */
  private def cellOutput(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      cellSchema: StructType,
      p: CellPasses,
      eff: Array[Array[Array[Double]]],
      sweeps: Int
  ): Demeaned = {
    val k = cols.length
    val K = fes.length
    val spark = df.sparkSession
    var out = cols.foldLeft(df) { (acc, c) => acc.withColumn(s"${c}__dm", col(c).cast("double")) }
    val effTables = (0 until K).map { f =>
      val schema = StructType(
        StructField(fes(f), cellSchema(f).dataType) +:
          cols.map(c => StructField(s"eff_$c", DoubleType)))
      val data = new java.util.ArrayList[Row](p.index(f).size())
      val it = p.index(f).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val g = e.getValue.intValue()
        data.add(Row.fromSeq(e.getKey +: (0 until k).map(c => eff(f)(g)(c))))
      }
      spark.createDataFrame(data, schema)
    }
    for (f <- 0 until K) {
      val renamed = cols.zipWithIndex.foldLeft(effTables(f)) { case (acc, (c, i)) =>
        acc.withColumnRenamed(s"eff_$c", s"__eff_${f}_$i")
      }
      out = out.join(broadcast(renamed), Seq(fes(f)), "left")
    }
    out = cols.zipWithIndex.foldLeft(out) { case (acc, (c, i)) =>
      acc.withColumn(
        s"${c}__dm",
        (0 until K).foldLeft(col(s"${c}__dm"))((e, f) => e - col(s"__eff_${f}_$i")))
    }.drop((for (f <- 0 until K; i <- 0 until k) yield s"__eff_${f}_$i"): _*)
    Demeaned(out, sweeps, Some(effTables), Some(CellGram(cols, p.gram(eff), p.totN)))
  }

  /** Cells too many to collect (> `collectCellLimit`). The broadcast
    * gate (`spark.graft.fe.broadcastGroupLimit`) picks the path:
    *  - every FE within the gate: the parameter space Σ_f G_f fits on
    *    the driver, so the driver-cell regime's own solver runs over a
    *    cached RDD of primitive cell blocks ([[RddCells]]) — one Spark
    *    job per cell pass, no Catalyst plan inside the loop, and the
    *    same sweep count, effects and Gram as the driver-cell regime up
    *    to summation order;
    *  - some FE over the gate: its parameters cannot live on the
    *    driver, so the sweeps and CG run as frames
    *    ([[demeanFrameCells]]).
    * An FE has at most #cells groups, so only a cell count over the gate
    * needs the per-FE group counts: one aggregate, which also gives the
    * frame path its convergence scale.
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
    def onCellRdd(): Demeaned = {
      val p = timed("cell blocks")(new RddCells(cells.rdd, fes.length, k))
      // the blocks are materialized: the cell frame is no longer read
      cells.unpersist(false)
      try {
        val (eff, sweeps) = solveCells(p, k, maxSweeps, tol, accelerate)
        cellOutput(df, cols, fes, cells.schema, p, eff, sweeps)
      } finally p.release()
    }
    // conf-injectable so the frame regime (some dimension past the
    // broadcast bound) is testable without planting 2M+ groups
    val broadcastGroupLimit = df.sparkSession.conf
      .get("spark.graft.fe.broadcastGroupLimit", "2000000").toLong
    if (nCells <= broadcastGroupLimit) return onCellRdd()
    val statRow = timed("scale agg")(cells
      .agg(
        sum(col("__n")).as("n"),
        ((0 until k).map(i => sum(col(s"__q_${i}_$i")).as(s"q_$i")) ++
          fes.map(f => count_distinct(col(f)).as(s"g_$f"))): _*)
      .head())
    val feGroupCount: Map[String, Long] =
      fes.zipWithIndex.map { case (f, i) => f -> statRow.getLong(1 + k + i) }.toMap
    val feBroadcast: Map[String, Boolean] =
      fes.map(f => f -> (feGroupCount(f) <= broadcastGroupLimit)).toMap
    if (fes.forall(feBroadcast)) onCellRdd()
    else {
      val scale = CellPasses.scaleOf(statRow.getDouble(0), (0 until k).map(i => statRow.getDouble(1 + i)))
      demeanFrameCells(df, cols, fes, cells, maxSweeps, tol, accelerate, scale, feBroadcast,
        feGroupCount)
    }
  }

  /** Sweeps over the PERSISTED cell frame when some FE has more groups
    * than the broadcast gate allows (a billion-level worker dimension),
    * so no parameter vector fits on the driver. Same algebra, but the
    * running residual sums live in the cell frame: per FE step one
    * groupBy(fe) aggregate (≤ #groups rows move) + one join back of the
    * means. Lazy localCheckpoint per sweep truncates the plan; the
    * checkpointed state is #cells × (1 + #cols) doubles — never n-sized.
    *
    * Job-count discipline (the q59 lesson): the sweeps themselves are
    * LAZY — the only eager work is the convergence probe, so sweeps are
    * chained two-per-action (first two checked singly so easy problems
    * still exit in 1–2 sweeps). The probe reads only the CURRENT sweep's
    * means (per-FE step means shrink monotonically under alternating
    * projections, so a converged probe at sweep s certifies s; batching
    * costs at most one extra sweep over the driver-cell count). Per-FE
    * effect tables are NOT maintained in the loop — every step's means
    * frame is already persisted for the join-back, so the cumulative
    * effects are one union + groupBy-sum per FE AFTER convergence,
    * replacing a join + localCheckpoint per FE per sweep. Past the
    * Halperin budget the solve bails to the keyed-frame PCG.
    */
  private def demeanFrameCells(
      df: DataFrame,
      cols: Seq[String],
      fes: Seq[String],
      cells: DataFrame,
      maxSweeps: Int,
      tol: Double,
      accelerate: Boolean,
      scale: Double,
      feBroadcast: Map[String, Boolean],
      feGroupCount: Map[String, Long]
  ): Demeaned = {
    val k = cols.length
    import org.apache.spark.sql.graftbridge.Bridge

    // running residual sums per cell, seeded with the raw sums
    var cur = (0 until k).foldLeft(cells) { (acc, i) => acc.withColumn(s"__r_$i", col(s"__s_$i")) }
    var sweeps = 0
    var converged = false
    // set at a non-converged probe once the Halperin budget is spent —
    // switches to the keyed-frame PCG below (the cell solver's hybrid,
    // with the CG state in frames)
    var bailToCg = false
    // sweep number of the last applied Aitken correction — the ratio
    // estimate needs two PLAIN sweeps since the jump
    var lastExtrap = 0
    // previous probe's delta: a fast-falling probe sequence (ratio
    // < 0.1 per probe gap ⇒ ρ well under the 0.5 jump floor) skips the
    // Aitken dot-product jobs entirely, so fast panels pay nothing
    var lastProbeDelta = Double.PositiveInfinity
    val history = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // every applied correction frame (REAL per-FE step means, plus the
    // CG correction frames — flagged), in sweep order; persisted: each
    // is referenced by the join-back, possibly the probe, and the final
    // effect-table aggregation
    val meansHistory =
      scala.collection.mutable.ArrayBuffer.empty[(String, Int, Boolean, DataFrame)]
    while (!converged && !bailToCg && sweeps < maxSweeps) {
      sweeps += 1
      for (fe <- fes) {
        val meanAggs =
          sum(col("__n")).as("__gn") +: (0 until k).map(i => sum(col(s"__r_$i")).as(s"__m_$i"))
        val means = cur
          .groupBy(col(fe))
          .agg(meanAggs.head, meanAggs.tail: _*)
          .select(
            col(fe) +: (0 until k).map(i => (col(s"__m_$i") / col("__gn")).as(s"__mean_$i")): _*)
          .persist()
        meansHistory += ((fe, sweeps, true, means))
        val joinSide = if (feBroadcast(fe)) broadcast(means) else means
        cur = (0 until k)
          .foldLeft(cur.join(joinSide, Seq(fe), "left")) { (j, i) =>
            j.withColumn(s"__r_$i", col(s"__r_$i") - col("__n") * col(s"__mean_$i"))
          }
          .drop((0 until k).map(i => s"__mean_$i"): _*)
      }
      val probeNow = sweeps <= 2 || sweeps % 2 == 0 || sweeps == maxSweeps
      if (probeNow) {
        // lineage truncation rides the probe cadence (a localCheckpoint
        // call is NOT free: under AQE it executes the chained stages),
        // so only probe sweeps checkpoint — off-sweeps chain lazily into
        // the next one. EAGER so the history release below never drops
        // an unmaterialized checkpoint a later stage must recompute
        // through.
        cur = timed(s"checkpoint@sweep $sweeps")(Bridge.truncate(cur))
        history += cur
        if (history.length >= 3)
          Bridge.releaseCheckpoints(history.remove(0))
        // the checkpoint job populated this sweep's means caches, so the
        // probe (max |REAL step mean| across the K means frames) reads
        // cache
        val sw = sweeps
        val delta = timed(s"probe@sweep $sweeps")(meansHistory
          .collect { case (_, s, true, m) if s == sw =>
            m.agg(greatest(
              (0 until k).map(i => max(abs(col(s"__mean_$i")))) :+ lit(0.0): _*).as("__d"))
          }
          .reduce(_ union _)
          .agg(max(col("__d")))
          .head()
          .getDouble(0))
        converged = delta < tol * scale
        val slowProbe = delta >= 0.1 * lastProbeDelta
        lastProbeDelta = delta
        if (accelerate && !converged && slowProbe && sweeps >= 4 && sweeps - 1 > lastExtrap) {
          // vector-Aitken, the frame twin of the cell solver's:
          // the same order-2 step-recurrence fit, with the dot products
          // taken over the last plain sweeps' step-means frames (all
          // already persisted and materialized by this probe's
          // checkpoint job — K group-sized joins, never cell-sized). A
          // two-mode geometric tail is summed in closed form by ONE
          // correction join per FE — each further sweep it replaces
          // costs K joins + a checkpoint, so the gate pays for itself
          // immediately. Fast spectra (dominant ρ < 0.5) never trigger;
          // unstable estimates (ρ > 0.995) are left to the CG bail.
          def meansAt(fe: String, s2: Int): DataFrame =
            meansHistory.collect { case (`fe`, s3, true, m) if s3 == s2 => m }.head
          val hasD2 = sw - 2 > lastExtrap
          var d0d0 = 0.0; var d0d1 = 0.0; var d1d1 = 0.0
          var d0d2 = 0.0; var d1d2 = 0.0; var d2d2 = 0.0
          for (fe <- fes) {
            val renamed = Seq(("a", sw), ("b", sw - 1)) ++
              (if (hasD2) Seq(("c", sw - 2)) else Nil)
            val joined = renamed.map { case (p, s2) =>
              meansAt(fe, s2).select(
                col(fe) +: (0 until k).map(i => col(s"__mean_$i").as(s"__${p}_$i")): _*)
            }.reduce(_.join(_, Seq(fe)))
            def dotAgg(p: String, q: String) =
              sum((0 until k).map(i => col(s"__${p}_$i") * col(s"__${q}_$i")).reduce(_ + _))
            val aggs =
              Seq(
                dotAgg("a", "a").as("d0d0"),
                dotAgg("a", "b").as("d0d1"),
                dotAgg("b", "b").as("d1d1")) ++
                (if (hasD2)
                   Seq(
                     dotAgg("a", "c").as("d0d2"),
                     dotAgg("b", "c").as("d1d2"),
                     dotAgg("c", "c").as("d2d2"))
                 else Nil)
            val r = joined.agg(aggs.head, aggs.tail: _*).head()
            if (!r.isNullAt(0)) {
              d0d0 += r.getDouble(0); d0d1 += r.getDouble(1); d1d1 += r.getDouble(2)
              if (hasD2) { d0d2 += r.getDouble(3); d1d2 += r.getDouble(4); d2d2 += r.getDouble(5) }
            }
          }
          aitkenCoef(AitkenDots(d0d0, d0d1, d1d1, d0d2, d1d2, d2d2)).foreach { case (c0, c1) =>
            for (fe <- fes) {
              val prev = meansAt(fe, sw - 1).select(
                col(fe) +: (0 until k).map(i => col(s"__mean_$i").as(s"__pm_$i")): _*)
              // EAGER localCheckpoint, not persist: the correction must
              // enter cur's lineage as a LEAF. Its logical plan embeds
              // both means frames' plans, which embed the pre-checkpoint
              // sweep lineage — chaining that un-truncated re-embeds the
              // previous correction each time and the analyzer's plan
              // walk goes exponential (observed: minutes of driver CPU
              // by sweep 8). The frame is #groups rows; the checkpoint
              // job reads only the means caches the probe's checkpoint
              // already materialized.
              val corr = meansAt(fe, sw)
                .join(prev, Seq(fe))
                .select(
                  col(fe) +: (0 until k).map(i =>
                    (col(s"__mean_$i") * c0 + col(s"__pm_$i") * c1).as(s"__mean_$i")): _*)
                .transform(Bridge.truncate(_))
              // flag=false: applied to the effects (so the effect-table
              // union-sum and the CG warm start include it) but never a
              // probe's convergence evidence
              meansHistory += ((fe, sw, false, corr))
              val joinSide = if (feBroadcast(fe)) broadcast(corr) else corr
              cur = (0 until k)
                .foldLeft(cur.join(joinSide, Seq(fe), "left")) { (j, i) =>
                  j.withColumn(s"__r_$i", col(s"__r_$i") - col("__n") * col(s"__mean_$i"))
                }
                .drop((0 until k).map(i => s"__mean_$i"): _*)
            }
            lastExtrap = sw
          }
        }
      }
      if (accelerate && !converged && sweeps >= 10) bailToCg = true
    }

    if (bailToCg) {
      // ---- keyed-frame PCG: some FE dimension's group count exceeds
      // the broadcast bound (a billion-level worker or firm dimension at
      // 100 TB), so the CG parameter
      // vectors cannot live on the driver — so the whole CG state lives
      // as K keyed frames, one per FE: (key, mass, b, x0, x, r, z, p per
      // demeaned column), and every CG scalar (rᵀz, pᵀHp, the
      // preconditioned-residual max) is a group-frame aggregate. The
      // matvec H v = AᵀN A v keeps its shape — ONE pass over the cell
      // frame per iteration: small FEs' parameter frames broadcast-join,
      // the oversized ones shuffle-join against a cell frame
      // PRE-PARTITIONED on the largest non-broadcast FE (that exchange
      // happens once, outside the loop; the per-iteration joins and the
      // groupBy on that key then reuse the partitioning) — then one
      // groupBy per FE. Preconditioner (z = r / groupMass) and stopping
      // rule (max |r_g / n_g| < tol·scale) are the cell solver's
      // exactly; regime parity is spec-pinned at 1e-8.
      val K = fes.length
      // pre-partition on the LARGEST non-broadcast dimension (by the
      // gate's cardinality probe): with two oversized FEs the loop's
      // shuffle joins land on the bigger key, so the smaller one is the
      // only per-iteration re-shuffle
      val bigFe = pickBigFe(fes, feBroadcast, feGroupCount)
      // partitioning-preserving checkpoint, not persist: an adaptive
      // plan behind persist()/localCheckpoint reports Unknown
      // partitioning, so every CG iteration re-exchanged the CELL-sized
      // frame into the matvec join (r12 opt round — the same bug class
      // as the graph loops). Real block-store stats ride the leaf.
      val cellsCg = Bridge.staticCheckpointKeyed(
        cells.repartition(col(bigFe)).sortWithinPartitions(bigFe))
      // every checkpointed CG frame, for release once the tail is done;
      // keyed: the state frames are groupBy(fe) outputs, and preserving
      // hash(fe) makes the per-iteration state⋈Hp and matvec joins
      // co-partitioned (zero exchange in the single-oversized-dim case)
      val cgFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def ckCg(d: DataFrame): DataFrame = {
        val t = Bridge.staticCheckpointKeyed(d)
        cgFrames += t
        t
      }

      // H v as K (key, __h_i) frames — lazy, reading the persisted
      // per-cell totals; caller materializes then unpersists `withT`
      def matvec(vf: Seq[DataFrame]): (Seq[DataFrame], DataFrame) = {
        val joined = vf.zipWithIndex.foldLeft(cellsCg: DataFrame) { case (acc, (pf, f)) =>
          val renamed = pf.select(
            col(fes(f)) +: (0 until k).map(i => col(s"__v_$i").as(s"__v_${f}_$i")): _*)
          val side = if (feBroadcast(fes(f))) broadcast(renamed) else renamed
          acc.join(side, Seq(fes(f)))
        }
        // lazy keyed checkpoint, not persist: the K per-FE aggregates
        // share one compute of the join, the bigFe groupBy reuses the
        // preserved partitioning, and no columnar cache encoding is paid
        val withT = Bridge.iterCheckpointKeyed(
          joined.select(
            fes.map(col) ++ (0 until k).map(i =>
              (col("__n") * (0 until K).map(f => col(s"__v_${f}_$i")).reduce(_ + _))
                .as(s"__t_$i")): _*),
          eager = false)
        val hs = (0 until K).map { f =>
          val aggs = (0 until k).map(i => sum(col(s"__t_$i")).as(s"__h_$i"))
          withT.groupBy(col(fes(f))).agg(aggs.head, aggs.tail: _*)
        }
        (hs, withT)
      }

      // state init: mass + raw sums b per group, warm start x0 from the
      // applied-means history (every group appears in every sweep's
      // means frame, so the union-sum covers all groups)
      val st0 = (0 until K).map { f =>
        val fe = fes(f)
        val bAggs = sum(col("__n")).as("__gn") +:
          (0 until k).map(i => sum(col(s"__s_$i")).as(s"__b_$i"))
        val b = cellsCg.groupBy(col(fe)).agg(bAggs.head, bAggs.tail: _*)
        val frames = meansHistory.collect { case (`fe`, _, _, m) => m }
        val withX0 =
          if (frames.isEmpty)
            b.select(b.columns.map(col) :+ lit(0.0).as("__x0tag"): _*)
              .select(col(fe) +: col("__gn") +:
                ((0 until k).map(i => col(s"__b_$i")) ++
                  (0 until k).map(i => lit(0.0).as(s"__x0_$i"))): _*)
          else {
            val x0 = frames.reduce(_ union _).groupBy(col(fe)).agg(
              sum(col("__mean_0")).as("__x0_0"),
              (1 until k).map(i => sum(col(s"__mean_$i")).as(s"__x0_$i")): _*)
            b.join(x0, Seq(fe), "left")
              .select(col(fe) +: col("__gn") +:
                ((0 until k).map(i => col(s"__b_$i")) ++
                  (0 until k).map(i => coalesce(col(s"__x0_$i"), lit(0.0)).as(s"__x0_$i"))): _*)
          }
        ckCg(withX0)
      }
      // r0 = b − H x0, z0 = r0/mass, p0 = z0, x = x0
      val (h0, withT0) = matvec(st0.zipWithIndex.map { case (sf, f) =>
        sf.select(col(fes(f)) +:
          (0 until k).map(i => col(s"__x0_$i").as(s"__v_$i")): _*)
      })
      var state = (0 until K).map { f =>
        ckCg(st0(f).join(h0(f), Seq(fes(f))).select(
          col(fes(f)) +: col("__gn") +: (0 until k).flatMap { i =>
            val r = col(s"__b_$i") - col(s"__h_$i")
            Seq(
              col(s"__x0_$i"),
              col(s"__x0_$i").as(s"__x_$i"),
              r.as(s"__r_$i"),
              (r / col("__gn")).as(s"__z_$i"),
              (r / col("__gn")).as(s"__p_$i"))
          }: _*))
      }
      Bridge.releaseCheckpoints(withT0)
      // the b/x0 frames only feed the (now-materialized) state init
      st0.foreach(Bridge.releaseCheckpoints)
      // in-loop release: a CG iteration only ever reads the PREVIOUS
      // generation's state, so generation i−2 frees as soon as i lands
      // (the `history` pattern; a billion-group FE's state frame is too
      // big to accumulate per iteration)
      val genHistory = scala.collection.mutable.ArrayBuffer.empty[Seq[DataFrame]]
      // per-column scalars from ONE aggregate per FE: rz, max |r/gn|
      def colScalars(frames: Seq[DataFrame]): (Array[Double], Array[Double]) = {
        val rz = Array.fill(k)(0.0); val resid = Array.fill(k)(0.0)
        frames.foreach { sf =>
          val aggs = (0 until k).flatMap { c =>
            Seq(
              sum(col(s"__r_$c") * col(s"__z_$c")).as(s"__rz_$c"),
              max(abs(col(s"__r_$c") / col("__gn"))).as(s"__res_$c"))
          }
          val row = sf.agg(aggs.head, aggs.tail: _*).head()
          (0 until k).foreach { c =>
            rz(c) += row.getDouble(2 * c); resid(c) = math.max(resid(c), row.getDouble(2 * c + 1))
          }
        }
        (rz, resid)
      }
      val (rz0, res0) = colScalars(state)
      val rzC = rz0
      val doneC = Array.tabulate(k)(c => res0(c) < tol * scale)
      var iters = 0
      while (!doneC.forall(identity) && sweeps + iters < maxSweeps) {
        iters += 1
        val carry = doneC.clone() // columns frozen at iteration start
        val (hp, withT) = matvec(state.zipWithIndex.map { case (sf, f) =>
          sf.select(col(fes(f)) +:
            (0 until k).map(i => col(s"__p_$i").as(s"__v_$i")): _*)
        })
        val joined = (0 until K).map(f => state(f).join(hp(f), Seq(fes(f))))
        // pᵀHp per column (active columns only read; one agg per FE)
        val php = Array.fill(k)(0.0)
        joined.foreach { jf =>
          val aggs = (0 until k).map(c => sum(col(s"__p_$c") * col(s"__h_$c")).as(s"__php_$c"))
          val row = timed(s"cg-frame php iter $iters")(jf.agg(aggs.head, aggs.tail: _*).head())
          (0 until k).foreach(c => php(c) += row.getDouble(c))
        }
        val alpha = Array.fill(k)(0.0)
        (0 until k).foreach { c =>
          if (!carry(c)) {
            if (php(c) <= 0.0) { doneC(c) = true; carry(c) = true }
            else alpha(c) = rzC(c) / php(c)
          }
        }
        // x' = x + αp, r' = r − αHp, z' = r'/gn; carried columns copy
        val s1 = (0 until K).map { f =>
          ckCg(joined(f).select(
            col(fes(f)) +: col("__gn") +: (0 until k).flatMap { c =>
              if (carry(c))
                Seq(col(s"__x0_$c"), col(s"__x_$c"), col(s"__r_$c"), col(s"__z_$c"),
                  col(s"__p_$c"))
              else {
                val r1 = col(s"__r_$c") - lit(alpha(c)) * col(s"__h_$c")
                Seq(
                  col(s"__x0_$c"),
                  (col(s"__x_$c") + lit(alpha(c)) * col(s"__p_$c")).as(s"__x_$c"),
                  r1.as(s"__r_$c"),
                  (r1 / col("__gn")).as(s"__z_$c"),
                  col(s"__p_$c"))
              }
            }: _*))
        }
        Bridge.releaseCheckpoints(withT)
        genHistory += s1
        if (genHistory.length >= 3)
          genHistory.remove(0).foreach(Bridge.releaseCheckpoints)
        val (rz2, resid) = colScalars(s1)
        val beta = Array.fill(k)(0.0)
        (0 until k).foreach { c =>
          if (!carry(c)) {
            doneC(c) = resid(c) < tol * scale
            beta(c) = rz2(c) / rzC(c)
            rzC(c) = rz2(c)
          }
        }
        // p' = z' + βp (active columns; carried keep p) — a lazy
        // projection over the checkpointed s1, no extra job
        state = (0 until K).map { f =>
          s1(f).select(
            col(fes(f)) +: col("__gn") +: (0 until k).flatMap { c =>
              Seq(col(s"__x0_$c"), col(s"__x_$c"), col(s"__r_$c"), col(s"__z_$c")) :+
                (if (carry(c)) col(s"__p_$c")
                 else (col(s"__z_$c") + lit(beta(c)) * col(s"__p_$c")).as(s"__p_$c"))
            }: _*)
        }
      }
      sweeps += iters
      converged = doneC.forall(identity)
      // CG corrections (x − x0) enter the applied-means history so the
      // effect tables (union + sum) stay exact; eager checkpoints, so
      // they survive the cgFrames release below
      (0 until K).foreach { f =>
        val corr = Bridge.truncate(state(f).select(
          col(fes(f)) +: (0 until k).map(c =>
            (col(s"__x_$c") - col(s"__x0_$c")).as(s"__mean_$c")): _*))
        meansHistory += ((fes(f), sweeps, false, corr))
      }
      // rebuild the residual state from x for the shared tail below
      val joinedX = (0 until K).foldLeft(cellsCg: DataFrame) { case (acc, f) =>
        val xf = state(f).select(
          col(fes(f)) +: (0 until k).map(c => col(s"__x_$c").as(s"__v_${f}_$c")): _*)
        acc.join(if (feBroadcast(fes(f))) broadcast(xf) else xf, Seq(fes(f)))
      }
      cur = joinedX
        .select(
          cells.columns.map(col) ++ (0 until k).map(i =>
            (col(s"__s_$i") -
              col("__n") * (0 until K).map(f => col(s"__v_${f}_$i")).reduce(_ + _))
              .as(s"__r_$i")): _*)
        .transform(Bridge.truncate(_))
      history += cur
      cgFrames.foreach(Bridge.releaseCheckpoints)
      Bridge.releaseCheckpoints(cellsCg)
    }

    // per-cell total effect Σ_f a_f = (sum − residual) / n, joined onto
    // facts by the full FE tuple. Materialize the small adjustment frame,
    // then free every intermediate.
    val adj = cur
      .select(
        fes.map(col) ++
          (0 until k).map(i => ((col(s"__s_$i") - col(s"__r_$i")) / col("__n")).as(s"__adj_$i")): _*)
      .localCheckpoint(false)
    timed("adj materialize")(adj.count())
    // demeaned Gram from the converged cell frame — ONE tiny aggregate
    // instead of a second fact pass in the downstream fit
    val aCols = (0 until k).map(i => (col(s"__s_$i") - col(s"__r_$i")) / col("__n"))
    val gramAggs = (for (i <- 0 until k; j <- i until k)
      yield sum(
        col(s"__q_${i}_$j") - col(s"__s_$i") * aCols(j) - col(s"__s_$j") * aCols(i) +
          col("__n") * aCols(i) * aCols(j)).as(s"__g_${i}_$j")) :+ sum(col("__n")).as("__n_tot")
    val gramRow = timed("cell gram agg")(cur.agg(gramAggs.head, gramAggs.tail: _*).head())
    val gram = Array.ofDim[Double](k, k)
    var gp = 0
    for (i <- 0 until k; j <- i until k) {
      val v = gramRow.getDouble(gp); gp += 1
      gram(i)(j) = v; gram(j)(i) = v
    }
    val nTot = gramRow.getDouble(k * (k + 1) / 2)
    // per-FE cumulative effect tables = the SUM of that FE's per-step
    // means over all sweeps (every group appears in every step's
    // groupBy, so a plain union + sum is exact): one aggregation per FE
    // after convergence over the already-persisted means frames,
    // materialized BEFORE those caches are released
    val effTables = fes.map { fe =>
      val frames = meansHistory.collect { case (`fe`, _, _, m) => m }
      val t = frames
        .reduce(_ union _)
        .groupBy(col(fe))
        .agg(
          sum(col("__mean_0")).as("__acc_0"),
          (1 until k).map(i => sum(col(s"__mean_$i")).as(s"__acc_$i")): _*)
        .select(
          col(fe) +: cols.zipWithIndex.map { case (c, i) => col(s"__acc_$i").as(s"eff_$c") }: _*)
        .localCheckpoint(false)
      timed(s"eff table $fe")(t.count())
      t
    }
    history.foreach(Bridge.releaseCheckpoints)
    // step means are caches; the (unflagged) Aitken and CG correction
    // frames are checkpoint leaves
    meansHistory.foreach {
      case (_, _, true, m) => m.unpersist(false)
      case (_, _, false, m) => Bridge.releaseCheckpoints(m)
    }
    cells.unpersist(false)

    val joined = df.join(adj, fes, "left")
    val out = cols.zipWithIndex.foldLeft(joined) { case (acc, (c, i)) =>
      acc.withColumn(s"${c}__dm", col(c).cast("double") - col(s"__adj_$i"))
    }.drop((0 until k).map(i => s"__adj_$i"): _*)
    Demeaned(out, sweeps, Some(effTables), Some(CellGram(cols, gram, nTot)))
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
      case Some(cg) => timed("ols from cell gram")(olsFromCellGram(cg, y, xs, checkRank))
      case None => timed("ols gram over demeaned")(
        Ols.fit(d.frame, s"${y}__dm", xs.map(x => s"${x}__dm"), intercept = false,
          checkRank = checkRank))
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
