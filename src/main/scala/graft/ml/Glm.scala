package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Distributed generalized linear models by iteratively reweighted least
  * squares (IRLS) — the maximum-likelihood extension of the reference's
  * linear `estimate` surface (reference: hdfe/hdfe.py:66-71 fits only the
  * linear mean; applied panel work routinely needs the Poisson/logit
  * mean with the same fixed-effect absorption, cf. Correia–Guimarães–
  * Zylkin's ppmlhdfe companion to reghdfe).
  *
  * Design for 100 TB — IRLS is a sequence of weighted least squares
  * problems, and graft already solves those in one pass each:
  *
  *  - **No-FE families**: at iteration t the working weight w = μ(η) and
  *    working response z = η + (y − μ)/w are CLOSED-FORM row expressions
  *    of the current coefficient vector (η = x'β with β literals), so
  *    every iteration is exactly ONE codegen'd aggregate pass computing
  *    the weighted Gram X'WX, X'Wz and the deviance together — no
  *    per-iteration intermediate, no lineage growth. The minimal
  *    (k+2)-double projection of the source is persisted once up front
  *    (spill-to-disk) so iterations re-read ~n·(k+2)·8 bytes instead of
  *    rescanning the source table; it is released before return. The
  *    k×k solve happens on the driver ([[LinAlg]]).
  *  - **Poisson with absorbed FEs** (PPML): η carries the absorbed
  *    effects, so it is data, not an expression — each iteration runs
  *    [[FixedEffects.fitWeighted]] on the working response (weighted
  *    alternating projections + cell-Gram solve) and recovers the new
  *    η = z − (z̃ − x̃'β) row-locally from the demeaned frame. The η
  *    frame is localCheckpoint'ed per iteration (eager, superseded
  *    blocks released) so lineage stays flat across iterations.
  *
  * Statistical notes: canonical links only (log for Poisson, logit for
  * binomial, identity for gaussian — for which IRLS converges to OLS in
  * one step, pinned by spec). FE-Poisson drops statistically separated
  * groups (an FE group whose y is all zero has no finite MLE) the way
  * ppmlhdfe's simplest check does, iterating across FE dimensions to a
  * fixpoint. Inference: expected-information SEs from the converged
  * weighted Gram, plus the robust/cluster-robust sandwich (HC0 meat on
  * the score u = y − μ, bread (X'WX)⁻¹ — the PPML standard).
  */
case class GlmModel(
    family: String,
    xNames: Seq[String],          // intercept first when present
    coef: Array[Double],
    n: Long,                      // Σ frequency weights (row count unweighted)
    iters: Int,
    converged: Boolean,
    deviance: Double,
    gramW: Array[Array[Double]],  // X'WX at the converged weights
    offsetCol: Option[String] = None,
    weightCol: Option[String] = None,
    dispersion: Option[Double] = None // NB2 α (None for one-parameter families)
) {
  /** Expected-information (inverse Fisher) SEs: sqrt diag (X'WX)⁻¹. */
  def seInformation: Array[Double] =
    LinAlg.inverse(gramW).zipWithIndex.map { case (r, i) => math.sqrt(r(i)) }

  /** Linear predictor η = x'β (+ offset) as a column expression. */
  def etaCol: Column = {
    val xb = xNames.zip(coef).map {
      case ("(intercept)", b) => lit(b)
      case (x, b)             => col(x).cast("double") * b
    }.reduce(_ + _)
    offsetCol.map(o => xb + col(o).cast("double")).getOrElse(xb)
  }
}

/** PPML fit with absorbed fixed effects. `frame` is the final working
  * frame: original columns plus `__mu` (fitted mean), `__eta`, and the
  * weighted-demeaned `<x>__dm` columns — everything the sandwich SEs
  * need, with no re-iteration.
  */
case class GlmFeModel(
    yName: String,
    xNames: Seq[String],
    feNames: Seq[String],
    coef: Array[Double],
    n: Long,
    iters: Int,
    converged: Boolean,
    deviance: Double,
    droppedSeparated: Long,       // rows removed by the separation check
    ols: OlsModel,                // within WLS at convergence (gram = X̃'WX̃)
    frame: DataFrame,
    family: String = "poisson",
    dispersion: Option[Double] = None // NB2 α (None for one-parameter families)
) {
  /** The family's SCORE residual (y − μ)·(dμ/dη)/V(μ): y − μ for every
    * canonical link (Poisson keeps its historical expression
    * bit-for-bit), (y − μ)/μ for gamma-log, (y − μ)/(1 + αμ) for NB2.
    */
  private def scoreCol: Column = {
    val fam = Glm.familyOf(family, dispersion)
    val resid = col(yName).cast("double") - col("__mu")
    if (fam.canonical) resid
    else resid * fam.dMuDetaEta(col("__mu"), col("__eta")) / fam.varFun(col("__mu"))
  }

  /** Robust (HC0) sandwich: (X̃'WX̃)⁻¹ [Σ u² x̃x̃'] (X̃'WX̃)⁻¹ with the
    * family score u. One map-side-combined meat pass.
    */
  def varianceRobust: Array[Array[Double]] = Glm.sandwich(
    frame.withColumn("__u", scoreCol),
    xNames.map(x => col(s"${x}__dm")), ols.gram, None)

  def seRobust: Array[Double] =
    varianceRobust.zipWithIndex.map { case (r, i) => math.sqrt(r(i)) }

  /** Cluster-robust sandwich over the family score (cluster column
    * must be listed in `keep` at fit time to survive into the frame).
    */
  def varianceClustered(cluster: String): Array[Array[Double]] = Glm.sandwich(
    frame.withColumn("__u", scoreCol),
    xNames.map(x => col(s"${x}__dm")), ols.gram, Some(cluster))

  def seClustered(cluster: String): Array[Double] =
    varianceClustered(cluster).zipWithIndex.map { case (r, i) => math.sqrt(r(i)) }

  /** Two-way CGM for the FE fit (both cluster columns must be listed
    * in `keep` at fit time): V_a + V_b − V_{a∩b} over the family score
    * on the weighted-demeaned design.
    */
  def varianceClustered2(clusterA: String, clusterB: String): Array[Array[Double]] = {
    val va = varianceClustered(clusterA)
    val vb = varianceClustered(clusterB)
    val withKey = frame.withColumn("__ab", Ols.interactionKey(clusterA, clusterB))
    val vab = Glm.sandwich(
      withKey.withColumn("__u", scoreCol),
      xNames.map(x => col(s"${x}__dm")), ols.gram, Some("__ab"))
    Array.tabulate(coef.length, coef.length)((i, j) => va(i)(j) + vb(i)(j) - vab(i)(j))
  }

  def seClustered2(clusterA: String, clusterB: String): Array[Double] =
    varianceClustered2(clusterA, clusterB)
      .zipWithIndex.map { case (r, i) => math.sqrt(math.max(r(i), 0.0)) }
}

object Glm {

  /** An iterative fitter re-reads its working frame once per IRLS pass,
    * so its parallelism is worth one up-front shuffle when the SOURCE
    * fans out to fewer partitions than the session has cores (a single
    * small parquet file otherwise serializes every pass of every
    * iteration onto one thread — measured 3-4x on local benches). At
    * scale inputs already carry >= cores partitions and this is a
    * no-op.
    */
  private def spreadForIteration(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  private def timed[A](name: String)(f: => A): A =
    if (sys.env.contains("GRAFT_GLM_DEBUG")) {
      val t0 = System.nanoTime
      val r = f
      println(f"[glm-debug] $name: ${(System.nanoTime - t0) / 1e9}%.2fs")
      r
    } else f

  /** Canonical-link family: w = dμ/dη evaluates the IRLS weight and the
    * working response is z = η + (y − μ)/w.
    */
  sealed trait Family {
    def name: String
    /** μ = g⁻¹(η), with any overflow guard folded in. */
    def mu(eta: Column): Column
    /** IRLS weight w(μ) = (dμ/dη)²/V(μ) — for a canonical link this
      * coincides with dμ/dη and with V(μ).
      */
    def weight(mu: Column): Column
    /** Pointwise deviance contribution d(y, μ) with Σd the deviance. */
    def deviance(y: Column, mu: Column): Column
    /** Starting η per row (standard GLM initializers; mean-adjusted so
      * zero counts start finite).
      */
    def etaInit(y: Column, ybar: Double): Column
    /** Canonical-link families keep the coincidence w = dμ/dη = V(μ),
      * letting the hot path use `weight` everywhere (bit-identical to
      * the pre-Gamma expressions). Non-canonical families override
      * this with [[dMuDeta]]/[[varFun]].
      */
    def canonical: Boolean = true
    /** dμ/dη at μ (only consulted when !canonical). */
    def dMuDeta(mu: Column): Column = weight(mu)
    /** Variance function V(μ) (only consulted when !canonical). */
    def varFun(mu: Column): Column = weight(mu)
    /** η-aware forms — the ONLY hooks the iteration paths call. For
      * every link that inverts in closed form they delegate to the
      * μ-only expressions (bit-identical plans); a family whose link
      * does NOT invert in closed form (probit: dμ/dη = ϕ(Φ⁻¹(μ)))
      * overrides these instead, because η is always in scope at the
      * call sites while Φ⁻¹ has no column form.
      */
    def weightEta(mu: Column, eta: Column): Column = weight(mu)
    def dMuDetaEta(mu: Column, eta: Column): Column = dMuDeta(mu)
  }

  case object Poisson extends Family {
    val name = "poisson"
    def mu(eta: Column): Column = exp(least(greatest(eta, lit(-30.0)), lit(30.0)))
    def weight(mu: Column): Column = mu
    def deviance(y: Column, mu: Column): Column =
      lit(2.0) * (when(y > 0.0, y * log(y / mu)).otherwise(lit(0.0)) - (y - mu))
    def etaInit(y: Column, ybar: Double): Column = log((y + lit(ybar)) / 2.0)
  }

  /** Bernoulli outcome in {0, 1} with the logit link. */
  case object Binomial extends Family {
    val name = "binomial"
    def mu(eta: Column): Column = {
      val e = least(greatest(eta, lit(-30.0)), lit(30.0))
      lit(1.0) / (lit(1.0) + exp(-e))
    }
    def weight(mu: Column): Column = mu * (lit(1.0) - mu)
    def deviance(y: Column, mu: Column): Column =
      lit(-2.0) * (when(y > 0.0, y * log(mu)).otherwise(lit(0.0)) +
        when(y < 1.0, (lit(1.0) - y) * log(lit(1.0) - mu)).otherwise(lit(0.0)))
    def etaInit(y: Column, ybar: Double): Column = {
      val m = (y + 0.5) / 2.0
      log(m / (lit(1.0) - m))
    }
  }

  /** Bernoulli outcome in {0, 1} with the complementary log-log link
    * η = ln(−ln(1−μ)) — the rare-event / discrete-time-hazard family:
    * the link is ASYMMETRIC (μ → 1 much faster than μ → 0 as |η|
    * grows), and a cloglog GLM on event indicators is exactly the
    * grouped-data proportional-hazards model (Prentice–Gloeckler 1978),
    * so β keeps a hazard-ratio reading logit coefficients lack. Not the
    * binomial canonical link, so the non-canonical split applies:
    * dμ/dη = −(1−μ)ln(1−μ), V(μ) = μ(1−μ),
    * w = (dμ/dη)²/V = (1−μ)(ln(1−μ))²/μ. Unlike probit this needs no
    * normal CDF — exp/ln only, so the DuckDB-side replay and the dense
    * parity checker use EXACTLY the same primitives. η is clamped to
    * [−30, 3.4] (exp(3.4) ≈ 30 keeps the double-exponential finite) and
    * μ to [1e−12, 1−1e−12] so the μ-division in w stays finite on
    * separated points.
    */
  case object Cloglog extends Family {
    val name = "cloglog"
    def mu(eta: Column): Column = {
      val e = least(greatest(eta, lit(-30.0)), lit(3.4))
      least(greatest(lit(1.0) - exp(-exp(e)), lit(1e-12)), lit(1.0 - 1e-12))
    }
    def weight(mu: Column): Column = {
      val l = log(lit(1.0) - mu)
      (lit(1.0) - mu) * l * l / mu
    }
    def deviance(y: Column, mu: Column): Column = Binomial.deviance(y, mu)
    def etaInit(y: Column, ybar: Double): Column = {
      val m = (y + 0.5) / 2.0
      log(-log(lit(1.0) - m))
    }
    override def canonical: Boolean = false
    override def dMuDeta(mu: Column): Column = -(lit(1.0) - mu) * log(lit(1.0) - mu)
    override def varFun(mu: Column): Column = mu * (lit(1.0) - mu)
  }

  /** Bernoulli outcome with the PROBIT link η = Φ⁻¹(μ) — the classic
    * econometrics binary-choice family (latent-normal-utility reading;
    * coefficients ≈ logit's / 1.6). The link does NOT invert in closed
    * column form, so this family overrides the η-aware hooks instead
    * of the μ-only ones: dμ/dη = ϕ(η) (the normal pdf — pure exp) and
    * w = ϕ(η)²/(μ(1−μ)), with Φ from the shared portable polynomial
    * ([[graft.functions.NormalDist]] — the same closed form a DuckDB
    * replay evaluates). η clamps at ±8 where Φ saturates past 1e-15.
    */
  case object Probit extends Family {
    val name = "probit"
    private def clamp(eta: Column): Column =
      least(greatest(eta, lit(-8.0)), lit(8.0))
    private def pdf(eta: Column): Column = {
      val e = clamp(eta)
      lit(graft.functions.NormalDist.INV_SQRT_2PI) * exp(-(e * e) / lit(2.0))
    }
    def mu(eta: Column): Column =
      least(greatest(graft.functions.NormalDist.phi(clamp(eta)), lit(1e-12)),
        lit(1.0 - 1e-12))
    def weight(mu: Column): Column =
      throw new UnsupportedOperationException(
        "Probit.weight(mu): the probit link has no closed-form inverse — " +
          "use the eta-aware weightEta (all iteration paths do)")
    def deviance(y: Column, mu: Column): Column = Binomial.deviance(y, mu)
    def etaInit(y: Column, ybar: Double): Column = {
      // logit init rescaled by the classic 1.702 logit-probit factor
      val m = (y + 0.5) / 2.0
      log(m / (lit(1.0) - m)) / lit(1.702)
    }
    override def canonical: Boolean = false
    override def dMuDeta(mu: Column): Column =
      throw new UnsupportedOperationException(
        "Probit.dMuDeta(mu): use the eta-aware dMuDetaEta")
    override def varFun(mu: Column): Column = mu * (lit(1.0) - mu)
    override def weightEta(mu: Column, eta: Column): Column = {
      val p = pdf(eta)
      p * p / (mu * (lit(1.0) - mu))
    }
    override def dMuDetaEta(mu: Column, eta: Column): Column = pdf(eta)
  }

  /** Gamma outcome (y > 0) with the LOG link — the standard practical
    * choice for strictly-positive right-skewed outcomes (costs,
    * durations), cf. McCullagh–Nelder ch. 8. Log is NOT the gamma
    * canonical link, so the coincidence breaks: V(μ) = μ², dμ/dη = μ,
    * and the IRLS weight is μ²/μ² = 1. [[GlmModel.seInformation]]
    * assumes unit dispersion (φ = 1); gamma users should take
    * [[seRobust]] / [[seClustered]], whose score residual
    * (y − μ)·(dμ/dη)/V(μ) = (y − μ)/μ this family wires in.
    */
  case object Gamma extends Family {
    val name = "gamma"
    def mu(eta: Column): Column = exp(least(greatest(eta, lit(-30.0)), lit(30.0)))
    def weight(mu: Column): Column = lit(1.0)
    def deviance(y: Column, mu: Column): Column =
      lit(2.0) * (-log(y / mu) + (y - mu) / mu)
    def etaInit(y: Column, ybar: Double): Column = log((y + lit(ybar)) / 2.0)
    override def canonical: Boolean = false
    override def dMuDeta(mu: Column): Column = mu
    override def varFun(mu: Column): Column = mu * mu
  }

  /** NB2 negative binomial with the LOG link and dispersion α:
    * V(μ) = μ + αμ² — the standard overdispersion follow-up to Poisson
    * (Cameron–Trivedi ch. 3): Poisson forces Var = mean, and real count
    * data (events per user, tokens per doc) almost always carries
    * Var > mean, deflating Poisson SEs. α is a FIXED parameter of the
    * family object; [[Glm.negBinomial]] re-estimates it each IRLS pass
    * by the Cameron–Trivedi moment condition. α = 0 degrades exactly to
    * Poisson (guards below keep the expressions finite there). Log is
    * not the NB2 canonical link (that is ln(αμ/(1+αμ))), so the
    * non-canonical split applies: dμ/dη = μ, w = μ/(1+αμ), score
    * residual (y−μ)/(1+αμ).
    */
  final case class NegBin(alpha: Double) extends Family {
    require(alpha >= 0.0, s"NB2 dispersion must be >= 0, got $alpha")
    val name = "negbin"
    def mu(eta: Column): Column = exp(least(greatest(eta, lit(-30.0)), lit(30.0)))
    def weight(mu: Column): Column =
      if (alpha == 0.0) mu else mu / (lit(1.0) + lit(alpha) * mu)
    def deviance(y: Column, mu: Column): Column =
      if (alpha == 0.0) Poisson.deviance(y, mu)
      else
        lit(2.0) * (when(y > 0.0, y * log(y / mu)).otherwise(lit(0.0)) -
          (y + lit(1.0 / alpha)) *
            log((lit(1.0) + lit(alpha) * y) / (lit(1.0) + lit(alpha) * mu)))
    def etaInit(y: Column, ybar: Double): Column = log((y + lit(ybar)) / 2.0)
    override def canonical: Boolean = false
    override def dMuDeta(mu: Column): Column = mu
    override def varFun(mu: Column): Column =
      if (alpha == 0.0) mu else mu * (lit(1.0) + lit(alpha) * mu)
  }

  /** Identity link, unit weights: IRLS solves OLS exactly in one step —
    * kept as the algebraic sanity anchor (spec-pinned ≡ [[Ols.fit]]).
    */
  case object Gaussian extends Family {
    val name = "gaussian"
    def mu(eta: Column): Column = eta
    def weight(mu: Column): Column = lit(1.0)
    def deviance(y: Column, mu: Column): Column = (y - mu) * (y - mu)
    def etaInit(y: Column, ybar: Double): Column = lit(ybar)
  }

  /** Fit y ~ family(x'β + offset) without fixed effects. One aggregate
    * pass per IRLS iteration (see object doc); β, the converged weighted
    * Gram and the deviance come back in a [[GlmModel]].
    *
    * `offset`: a known additive term of the linear predictor — the
    * ln(exposure) of rate/count models (β is NOT estimated for it).
    * `weight`: FREQUENCY weights, the [[Ols.fitWeighted]] convention —
    * a weight-f row behaves exactly like f repeated rows (Gram, deviance,
    * n = Σf, and the sandwich SEs; pinned by the row-expansion spec).
    * This is also the compressed-regression path: aggregate duplicate
    * (y, x) rows to counts once and fit the distinct rows.
    */
  def fit(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      family: Family,
      intercept: Boolean = true,
      tol: Double = 1e-9,
      maxIter: Int = 30,
      offset: Option[String] = None,
      weight: Option[String] = None
  ): GlmModel = {
    val names = (if (intercept) Seq("(intercept)") else Nil) ++ xs
    // Project the minimal sufficient columns ONCE and persist: every
    // IRLS pass re-reads this narrow (k+2)-double frame instead of
    // rescanning the source + re-evaluating casts/derived expressions
    // per iteration (at scale the repeated source scan IS the cost; the
    // projection spills to disk if it doesn't fit). All model outputs
    // are driver-side scalars, so the frame is released before return.
    val projected = spreadForIteration(df.select(
      (xs.map(c => col(c).cast("double").as(s"__x_$c")) ++
        Seq(col(y).cast("double").as("__y")) ++
        offset.map(c => col(c).cast("double").as("__off")).toSeq ++
        weight.map(c => col(c).cast("double").as("__fw")).toSeq): _*)).persist()
    val xcols: Seq[Column] =
      (if (intercept) Seq(lit(1.0)) else Nil) ++ xs.map(c => col(s"__x_$c"))
    val yc = col("__y")
    val off = offset.map(_ => col("__off"))
    val fw = weight.map(_ => col("__fw")).getOrElse(lit(1.0))
    val k = xcols.length

    val ybar = {
      val r = projected.agg(sum(fw * yc), sum(fw)).head()
      r.getDouble(0) / r.getDouble(1)
    }

    var beta: Array[Double] = null
    var dev = Double.MaxValue
    var n = 0L
    var gramW: Array[Array[Double]] = null
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // η from current β (or the family initializer on the first pass —
      // the init is a function of y, so it already reflects any offset)
      val eta: Column =
        if (beta == null) family.etaInit(yc, ybar)
        else {
          val xb = xcols.zip(beta).map { case (x, b) => x * b }.reduce(_ + _)
          off.map(xb + _).getOrElse(xb)
        }
      val mu = family.mu(eta)
      val w = fw * family.weightEta(mu, eta)
      // the regression target is the working response net of the offset;
      // general-link form z = η + (y − μ)·dη/dμ (the canonical branch
      // keeps the historical expression bit-for-bit)
      val z =
        if (family.canonical)
          eta + (yc - mu) / family.weight(mu) - off.getOrElse(lit(0.0))
        else
          eta + (yc - mu) / family.dMuDetaEta(mu, eta) - off.getOrElse(lit(0.0))

      // one pass: weighted Gram + X'Wz + deviance at the CURRENT β
      val aggs: Seq[Column] =
        (for (i <- 0 until k; j <- i until k) yield sum(w * xcols(i) * xcols(j))) ++
          (0 until k).map(i => sum(w * xcols(i) * z)) ++
          Seq(sum(fw * family.deviance(yc, mu)), sum(fw))
      val row: Row = projected.agg(aggs.head, aggs.tail: _*).head()

      var p = 0
      val g = Array.ofDim[Double](k, k)
      for (i <- 0 until k; j <- i until k) {
        val v = row.getDouble(p); p += 1
        g(i)(j) = v; g(j)(i) = v
      }
      val c = Array.tabulate(k)(i => row.getDouble(p + i))
      p += k
      val devNow = row.getDouble(p)
      n = math.round(row.getDouble(p + 1))

      val betaNew = LinAlg.solve(g, c)
      // deviance is evaluated at the β that PRODUCED this pass's μ, so
      // convergence compares successive iterates' own fits
      converged = beta != null && math.abs(devNow - dev) / (math.abs(devNow) + 0.1) < tol
      beta = betaNew
      dev = devNow
      gramW = g
      iter += 1
    }
    projected.unpersist(false)
    GlmModel(family.name, names, beta, n, iter, converged, dev, gramW, offset, weight)
  }

  def poisson(df: DataFrame, y: String, xs: Seq[String], intercept: Boolean = true,
      tol: Double = 1e-9, maxIter: Int = 30, offset: Option[String] = None,
      weight: Option[String] = None): GlmModel =
    fit(df, y, xs, Poisson, intercept, tol, maxIter, offset, weight)

  def logistic(df: DataFrame, y: String, xs: Seq[String], intercept: Boolean = true,
      tol: Double = 1e-9, maxIter: Int = 30, offset: Option[String] = None,
      weight: Option[String] = None): GlmModel =
    fit(df, y, xs, Binomial, intercept, tol, maxIter, offset, weight)

  def gamma(df: DataFrame, y: String, xs: Seq[String], intercept: Boolean = true,
      tol: Double = 1e-9, maxIter: Int = 30, offset: Option[String] = None,
      weight: Option[String] = None): GlmModel =
    fit(df, y, xs, Gamma, intercept, tol, maxIter, offset, weight)

  def probit(df: DataFrame, y: String, xs: Seq[String], intercept: Boolean = true,
      tol: Double = 1e-9, maxIter: Int = 30, offset: Option[String] = None,
      weight: Option[String] = None): GlmModel =
    fit(df, y, xs, Probit, intercept, tol, maxIter, offset, weight)

  def cloglog(df: DataFrame, y: String, xs: Seq[String], intercept: Boolean = true,
      tol: Double = 1e-9, maxIter: Int = 30, offset: Option[String] = None,
      weight: Option[String] = None): GlmModel =
    fit(df, y, xs, Cloglog, intercept, tol, maxIter, offset, weight)

  /** NB2 negative binomial regression, log link, with the dispersion α
    * RE-ESTIMATED each IRLS pass by the Cameron–Trivedi moment
    * condition: the auxiliary through-origin OLS of ((y−μ)² − y)/μ on μ
    * gives α̂ = Σf((y−μ)² − y) / Σfμ² (Cameron–Trivedi 1986, the
    * standard overdispersion estimate), clamped at 0 — so equidispersed
    * data converges to the Poisson fit itself. Each iteration is still
    * ONE aggregate pass over the persisted (k+2)-double projection: the
    * two moment sums ride in the same pass as the weighted Gram. At the
    * joint fixpoint, β solves the NB2 normal equations at α̂ and α̂ is
    * the moment estimate at β — both self-consistent.
    *
    * `alphaInit` seeds α (default 0 = first pass is exactly a Poisson
    * step); `estimateAlpha = false` fixes α at `alphaInit` (known
    * dispersion). Inference: [[GlmModel.seInformation]] from the
    * converged NB2-weighted Gram; [[seRobust]]/[[seClustered]] wire the
    * NB2 score residual (y−μ)/(1+αμ) through `dispersion`.
    */
  def negBinomial(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      intercept: Boolean = true,
      tol: Double = 1e-9,
      maxIter: Int = 50,
      offset: Option[String] = None,
      weight: Option[String] = None,
      alphaInit: Double = 0.0,
      estimateAlpha: Boolean = true
  ): GlmModel = {
    val names = (if (intercept) Seq("(intercept)") else Nil) ++ xs
    // same persisted minimal projection as [[fit]]
    val projected = spreadForIteration(df.select(
      (xs.map(c => col(c).cast("double").as(s"__x_$c")) ++
        Seq(col(y).cast("double").as("__y")) ++
        offset.map(c => col(c).cast("double").as("__off")).toSeq ++
        weight.map(c => col(c).cast("double").as("__fw")).toSeq): _*)).persist()
    val xcols: Seq[Column] =
      (if (intercept) Seq(lit(1.0)) else Nil) ++ xs.map(c => col(s"__x_$c"))
    val yc = col("__y")
    val off = offset.map(_ => col("__off"))
    val fw = weight.map(_ => col("__fw")).getOrElse(lit(1.0))
    val k = xcols.length

    val ybar = {
      val r = projected.agg(sum(fw * yc), sum(fw)).head()
      r.getDouble(0) / r.getDouble(1)
    }

    var alpha = alphaInit
    var beta: Array[Double] = null
    var dev = Double.MaxValue
    var n = 0L
    var gramW: Array[Array[Double]] = null
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val fam = NegBin(alpha)
      val eta: Column =
        if (beta == null) fam.etaInit(yc, ybar)
        else {
          val xb = xcols.zip(beta).map { case (x, b) => x * b }.reduce(_ + _)
          off.map(xb + _).getOrElse(xb)
        }
      val mu = fam.mu(eta)
      val w = fw * fam.weightEta(mu, eta)
      val z = eta + (yc - mu) / fam.dMuDetaEta(mu, eta) - off.getOrElse(lit(0.0))

      // one pass: weighted Gram + X'Wz + deviance + the two α-moment sums
      val aggs: Seq[Column] =
        (for (i <- 0 until k; j <- i until k) yield sum(w * xcols(i) * xcols(j))) ++
          (0 until k).map(i => sum(w * xcols(i) * z)) ++
          Seq(
            sum(fw * fam.deviance(yc, mu)), sum(fw),
            sum(fw * ((yc - mu) * (yc - mu) - yc)), sum(fw * mu * mu))
      val row: Row = projected.agg(aggs.head, aggs.tail: _*).head()

      var p = 0
      val g = Array.ofDim[Double](k, k)
      for (i <- 0 until k; j <- i until k) {
        val v = row.getDouble(p); p += 1
        g(i)(j) = v; g(j)(i) = v
      }
      val c = Array.tabulate(k)(i => row.getDouble(p + i))
      p += k
      val devNow = row.getDouble(p)
      n = math.round(row.getDouble(p + 1))
      val alphaNew =
        if (estimateAlpha) math.max(row.getDouble(p + 2) / row.getDouble(p + 3), 0.0)
        else alpha

      val betaNew = LinAlg.solve(g, c)
      converged = beta != null &&
        math.abs(devNow - dev) / (math.abs(devNow) + 0.1) < tol &&
        math.abs(alphaNew - alpha) / (alphaNew + 0.1) < tol
      beta = betaNew
      dev = devNow
      gramW = g
      alpha = alphaNew
      iter += 1
    }
    projected.unpersist(false)
    GlmModel("negbin", names, beta, n, iter, converged, dev, gramW, offset, weight,
      dispersion = Some(alpha))
  }

  /** Robust / cluster-robust GLM sandwich for a no-FE model: bread
    * (X'WX)⁻¹, meat Σ u²xx' (HC0) or Σ_g s_g s_g' with s_g = Σ_{i∈g}
    * u_i x_i, u the SCORE residual (y − μ)·(dμ/dη)/V(μ) — which is
    * y − μ for every canonical link (that branch keeps the historical
    * expression bit-for-bit), (y − μ)/μ for gamma-log. One pass (plus
    * the per-cluster reduce when clustered).
    */
  def varianceRobust(df: DataFrame, model: GlmModel, y: String,
      cluster: Option[String] = None): Array[Array[Double]] = {
    val fam = familyOf(model.family, model.dispersion)
    val mu = fam.mu(model.etaCol) // etaCol includes the model's offset
    val xcols: Seq[Column] = model.xNames.map {
      case "(intercept)" => lit(1.0)
      case x             => col(x).cast("double")
    }
    val fw = model.weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val u =
      if (fam.canonical) col(y).cast("double") - mu
      else (col(y).cast("double") - mu) * fam.dMuDetaEta(mu, model.etaCol) / fam.varFun(mu)
    sandwich(df.withColumn("__u", u), xcols, model.gramW, cluster, fw)
  }

  def seRobust(df: DataFrame, model: GlmModel, y: String): Array[Double] =
    varianceRobust(df, model, y).zipWithIndex.map { case (r, i) => math.sqrt(r(i)) }

  def seClustered(df: DataFrame, model: GlmModel, y: String, cluster: String): Array[Double] =
    varianceRobust(df, model, y, Some(cluster))
      .zipWithIndex.map { case (r, i) => math.sqrt(r(i)) }

  /** Two-way cluster-robust GLM covariance (Cameron–Gelbach–Miller:
    * V_a + V_b − V_{a∩b}) — the gravity-model PPML standard (cluster by
    * exporter AND importer). Three runs of the same score sandwich, the
    * third on the collision-proof interaction key.
    */
  def varianceClustered2(df: DataFrame, model: GlmModel, y: String,
      clusterA: String, clusterB: String): Array[Array[Double]] = {
    val inter = df.withColumn("__ab", Ols.interactionKey(clusterA, clusterB))
    val va = varianceRobust(df, model, y, Some(clusterA))
    val vb = varianceRobust(df, model, y, Some(clusterB))
    val vab = varianceRobust(inter, model, y, Some("__ab"))
    Array.tabulate(model.coef.length, model.coef.length)((i, j) =>
      va(i)(j) + vb(i)(j) - vab(i)(j))
  }

  def seClustered2(df: DataFrame, model: GlmModel, y: String,
      clusterA: String, clusterB: String): Array[Double] =
    varianceClustered2(df, model, y, clusterA, clusterB)
      .zipWithIndex.map { case (r, i) => math.sqrt(math.max(r(i), 0.0)) }

  /** PPML: Poisson regression of y on xs with `fes` absorbed — IRLS
    * where every iteration is one [[FixedEffects.fitWeighted]] on the
    * working response (see object doc). `keep` carries extra columns
    * (e.g. cluster keys) into the final frame for [[GlmFeModel]]'s
    * sandwich SEs.
    */
  def poissonFE(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      tol: Double = 1e-8,
      maxIter: Int = 25,
      keep: Seq[String] = Nil,
      dropSeparated: Boolean = true,
      collectCellLimit: Long = 2000000L,
      offset: Option[String] = None
  ): GlmFeModel =
    fitFE(df, y, xs, fes, Poisson, tol, maxIter, keep, dropSeparated,
      collectCellLimit, offset)

  /** Gamma-log regression with absorbed FEs — same IRLS-over-
    * [[FixedEffects.fitWeighted]] loop as PPML (the ppmlhdfe-family
    * surface beyond Poisson). No separation check: Gamma requires
    * y > 0 everywhere, enforced up front.
    */
  def gammaFE(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      tol: Double = 1e-8,
      maxIter: Int = 25,
      keep: Seq[String] = Nil,
      collectCellLimit: Long = 2000000L,
      offset: Option[String] = None
  ): GlmFeModel =
    fitFE(df, y, xs, fes, Gamma, tol, maxIter, keep, dropSeparated = false,
      collectCellLimit, offset)

  /** NB2 negative binomial with absorbed FEs — the gravity-model
    * overdispersion follow-up to [[poissonFE]] (PPML coefficients are
    * consistent under overdispersion but its information SEs are not;
    * NB2-FE reweights by μ/(1+αμ)). Same IRLS-over-
    * [[FixedEffects.fitWeighted]] loop; the Cameron–Trivedi α update
    * interleaves exactly as in [[negBinomial]], with the two moment
    * sums riding each iteration's deviance aggregate (zero extra
    * passes). `alphaInit = 0` makes the first step exactly a PPML
    * step; `estimateAlpha = false` fixes α (at 0 that reproduces
    * [[poissonFE]] identically — the NegBin(0) column expressions
    * degrade to Poisson's, spec-pinned). Separation: same all-zero-
    * group drop rule as PPML (an FE group with y ≡ 0 has no finite
    * MLE under any α).
    */
  def negBinomialFE(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      tol: Double = 1e-8,
      maxIter: Int = 40,
      keep: Seq[String] = Nil,
      dropSeparated: Boolean = true,
      collectCellLimit: Long = 2000000L,
      offset: Option[String] = None,
      alphaInit: Double = 0.0,
      estimateAlpha: Boolean = true
  ): GlmFeModel =
    fitFE(df, y, xs, fes, NegBin(alphaInit), tol, maxIter, keep, dropSeparated,
      collectCellLimit, offset, estimateAlpha = estimateAlpha)

  /** Gaussian-identity FE "GLM": IRLS degenerates to one weighted
    * within regression (z = y, w = 1) — the algebraic anchor tying the
    * [[fitFE]] loop to [[FixedEffects.fit]] exactly (spec-pinned).
    */
  def gaussianFE(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      tol: Double = 1e-8,
      maxIter: Int = 25,
      keep: Seq[String] = Nil,
      collectCellLimit: Long = 2000000L,
      offset: Option[String] = None
  ): GlmFeModel =
    fitFE(df, y, xs, fes, Gaussian, tol, maxIter, keep, dropSeparated = false,
      collectCellLimit, offset)

  /** The shared FE-GLM loop: IRLS where each iteration is one
    * [[FixedEffects.fitWeighted]] of the working response on xs with
    * the FEs absorbed, at the family's IRLS weight w(μ); η is recovered
    * row-locally from the demeaned frame (η' = z − (z̃r − x̃'β), offset
    * re-included through z) and localCheckpoint'ed per iteration with
    * superseded-block release. Families supported: log or identity
    * link with positive weight everywhere the family's support allows —
    * Poisson (w = μ, the historical PPML expressions bit-for-bit),
    * Gamma-log (w = 1, score (y−μ)/μ), Gaussian-identity (one-step).
    * Binomial-logit is deliberately ABSENT: absorbed logit FEs hit the
    * incidental-parameters problem and need a conditional-likelihood
    * estimator, not this loop.
    */
  private[ml] def fitFE(
      df: DataFrame,
      y: String,
      xs: Seq[String],
      fes: Seq[String],
      family: Family,
      tol: Double = 1e-8,
      maxIter: Int = 25,
      keep: Seq[String] = Nil,
      dropSeparated: Boolean = true,
      collectCellLimit: Long = 2000000L,
      offset: Option[String] = None,
      estimateAlpha: Boolean = false
  ): GlmFeModel = {
    require(fes.nonEmpty, "use the no-FE fit when there are no fixed effects")
    require(maxIter >= 1, "FE-GLM needs at least one IRLS iteration")
    require(family.name != "binomial",
      "absorbed-FE logit is statistically distinct (incidental parameters); not offered")
    require(!estimateAlpha || family.name == "negbin",
      "estimateAlpha applies only to the NB2 family")
    val yc = col(y).cast("double")
    val off = offset.map(c => col(c).cast("double")).getOrElse(lit(0.0))
    val needed = (fes ++ (y +: xs) ++ offset.toSeq ++ keep).distinct
    // materialize the projected source ONCE, spread to core-count
    // partitions — every subsequent pass (separation check, scalar
    // aggs, each IRLS iteration) reads these blocks in parallel instead
    // of re-scanning a possibly single-split source serially
    val raw = timed("source checkpoint")(
      Bridge.truncate(spreadForIteration(df.select(needed.map(col): _*))))
    // fast path: ONE grouping-sets pass answers "is any FE group
    // all-zero" — the common healthy-panel case then skips the
    // checkpoint-and-count drop loop entirely (profiled at ~1.4s of a
    // 6s warm PPML fit). Only a frame that actually contains separated
    // groups pays for the iterate-to-fixpoint removal.
    val (base, nDropped) = timed("separation check")(
      if (dropSeparated && anySeparatedGroup(raw, y, fes))
        dropSeparatedGroups(raw, y, fes)
      else (raw, 0L))
    // the drop loop checkpoints its own filtered frame — raw's blocks
    // are dead the moment it returns a different one
    if (base ne raw) Bridge.releaseCheckpoints(raw)

    family.name match {
      case "gamma" =>
        val ymin = base.agg(min(yc)).head().getDouble(0)
        require(ymin > 0.0, s"Gamma FE-GLM needs y > 0 everywhere (min = $ymin)")
      case "poisson" | "negbin" =>
        () // positivity of the MEAN checked below; zeros are fine
      case _ => ()
    }
    // one pass: ybar + observation count (fm.ols.n is the weight mass
    // Σw, not the row count) + the distinct-FE-tuple count that feeds
    // every iteration's fitWeighted (a property of the rows, not the
    // iteration — counting once saves one action per IRLS step)
    val initRow = timed("ybar/counts agg")(base
      .agg(avg(yc), count(lit(1)), count_distinct(struct(fes.map(col): _*)))
      .head())
    val ybar = initRow.getDouble(0)
    val nObs = initRow.getLong(1)
    val nCells = initRow.getLong(2)
    if (family.name == "poisson" || family.name == "negbin")
      require(ybar > 0.0, s"${family.name} FE-GLM needs a strictly positive outcome mean")

    // η rides as a row-local expression over the checkpointed blocks —
    // no second materialization before the first iteration
    var cur: DataFrame = base.withColumn("__eta", family.etaInit(yc, ybar))
    var prev: DataFrame = null
    var dev = Double.MaxValue
    var iter = 0
    var converged = false
    var fm: FeModel = null
    // NB2 interleaved dispersion: `fam` tracks the CURRENT α (the other
    // families never reassign it). The Cameron–Trivedi moment sums ride
    // the deviance aggregate — evaluated at the freshly recovered η, so
    // the α update costs zero extra passes — and the joint (β, α)
    // fixpoint mirrors [[negBinomial]]'s: β solves the NB2-weighted
    // within equations at α̂, α̂ is the moment estimate at β.
    var fam: Family = family
    def alphaOf(f: Family): Double = f match { case NegBin(a) => a; case _ => 0.0 }
    // working-response residual z̃r − x̃'β of a within fit, row-local
    def resid(m: FeModel): Column =
      xs.zip(m.coef).map { case (x, b) => col(s"${x}__dm") * b }
        .foldLeft(col("__zr__dm"))(_ - _)
    while (iter < maxIter && !converged) {
      val mu = fam.mu(col("__eta"))
      val work = cur
        .withColumn("__mu", mu)
        .withColumn("__w", fam.weightEta(col("__mu"), col("__eta")))
        .withColumn(
          "__z",
          if (fam.canonical)
            col("__eta") + (yc - col("__mu")) / fam.weight(col("__mu"))
          else
            col("__eta") + (yc - col("__mu")) / fam.dMuDetaEta(col("__mu"), col("__eta")))
        // the regression target is the working response net of the
        // offset: η = Xβ + FE + offset, so z − offset ≈ Xβ + FE
        .withColumn("__zr", col("__z") - off)
      fm = timed(s"iter $iter fitWeighted")(FixedEffects.fitWeighted(
        work, "__zr", xs, fes, weight = "__w",
        keep = ((y +: "__eta" +: "__mu" +: "__z" +: offset.toSeq) ++ keep).distinct,
        collectCellLimit = collectCellLimit, knownCellCount = Some(nCells)))
      // η' = z − (z̃r − x̃'β): the fitted value of the working response
      // (offset re-included via z = zr + offset), recovered row-locally.
      // localCheckpoint, not persist: a cache-backed materialization
      // pays InMemoryRelation's columnar encoding of the FE string
      // columns every iteration (measured ~2x the checkpoint write),
      // and the eager checkpoint keeps plan growth flat.
      val next = timed(s"iter $iter eta checkpoint")(fm.demeaned
        .withColumn("__eta", col("__z") - resid(fm))
        .select((needed :+ "__eta").map(col): _*)
        .transform(Bridge.truncate(_, eager = false)))
      val muNew = fam.mu(col("__eta"))
      val devAggs =
        sum(fam.deviance(yc, muNew)) +:
          (if (estimateAlpha)
             Seq(sum((yc - muNew) * (yc - muNew) - yc), sum(muNew * muNew))
           else Nil)
      val devRow = timed(s"iter $iter deviance agg")(
        next.agg(devAggs.head, devAggs.tail: _*).head())
      val devNow = devRow.getDouble(0)
      val alphaConverged =
        if (estimateAlpha) {
          val alphaNew = math.max(devRow.getDouble(1) / devRow.getDouble(2), 0.0)
          val ok = math.abs(alphaNew - alphaOf(fam)) / (alphaNew + 0.1) < tol
          fam = NegBin(alphaNew)
          ok
        } else true

      // `next` is materialized: the η frame two generations back fed only
      // the superseded fit (at iteration 1 it is the source frame)
      if (prev != null) Bridge.releaseCheckpoints(prev)
      prev = cur
      cur = next
      converged =
        math.abs(devNow - dev) / (math.abs(devNow) + 0.1) < tol && alphaConverged
      dev = devNow
      iter += 1
    }
    // `prev` stays: the returned frame reads the last fit's demeaned
    // columns, which root in it (after one iteration `prev` is the
    // source frame itself). The final η checkpoint `cur` feeds nothing.
    Bridge.releaseCheckpoints(cur)
    // final frame: the last iteration's demeaned design with μ
    // recomputed at the converged β (η' = z − (z̃ − x̃'β); the x̃ columns
    // move O(tol) per late iteration — the standard IRLS-sandwich
    // convention)
    val frame = fm.demeaned.drop("__mu")
      .withColumn("__mu", fam.mu(col("__z") - resid(fm)))
    GlmFeModel(y, xs, fes, fm.coef, nObs, iter, converged, dev, nDropped,
      fm.ols, frame, family.name,
      dispersion = if (family.name == "negbin") Some(alphaOf(fam)) else None)
  }

  /** Does ANY group of ANY FE dimension fail the max(y) > 0 keep rule?
    * One distributed pass: GROUPING SETS((fe_1), …, (fe_K)) computes
    * every dimension's per-group max together (the expand operator
    * replicates rows K× map-side, but only #groups rows ever shuffle),
    * and a second aggregate over those group rows — never collected —
    * reduces to one boolean. The `!(mx > 0)` form also catches an
    * all-NULL-outcome group, matching [[dropSeparatedGroups]]'s
    * `filter(max > 0)` keep-semantics exactly.
    */
  private[ml] def anySeparatedGroup(df: DataFrame, y: String, fes: Seq[String]): Boolean = {
    val yc = col(y).cast("double")
    val sets: Seq[Seq[Column]] = fes.map(f => Seq(col(f)))
    val perGroup = df.groupingSets(sets, fes.map(col): _*)
      .agg(max(yc).as("__mx"))
    perGroup
      .agg(sum(when(!(col("__mx") > 0.0), 1L).otherwise(0L)).as("__sep"))
      .head().getLong(0) > 0L
  }

  /** Drop observations in statistically separated FE groups: any group
    * (in any FE dimension) whose outcome is identically zero admits no
    * finite Poisson MLE. Removing one dimension's all-zero groups can
    * zero out another's, so iterate to a fixpoint (bounded — each round
    * strictly shrinks or stops). Returns (kept frame, #rows dropped).
    */
  private[ml] def dropSeparatedGroups(
      df: DataFrame, y: String, fes: Seq[String]): (DataFrame, Long) = {
    val yc = col(y).cast("double")
    var cur = Bridge.truncate(df)
    val n0 = cur.count()
    var n = n0
    var changed = true
    while (changed) {
      var step = cur
      for (fe <- fes) {
        val ok = step.groupBy(col(fe)).agg(max(yc).as("__m")).filter(col("__m") > 0.0)
          .select(col(fe))
        step = step.join(broadcast(ok), Seq(fe), "left_semi")
      }
      val next = Bridge.truncate(step)
      val nNext = next.count()
      changed = nNext != n
      Bridge.releaseCheckpoints(cur)
      cur = next
      n = nNext
    }
    (cur, n0 - n)
  }

  private[ml] def familyOf(name: String, dispersion: Option[Double] = None): Family = name match {
    case "poisson"  => Poisson
    case "binomial" => Binomial
    case "gaussian" => Gaussian
    case "gamma"    => Gamma
    case "cloglog"  => Cloglog
    case "probit"   => Probit
    case "negbin" =>
      NegBin(dispersion.getOrElse(
        throw new IllegalArgumentException("negbin model carries no dispersion")))
    case other      => throw new IllegalArgumentException(s"unknown family $other")
  }

  /** Shared sandwich: bread⁻¹ · meat · bread⁻¹ where meat is Σ f·u²xx'
    * (row-local, no shuffle) or the per-cluster score outer product (one
    * groupBy of k sums, scores Σ f·u·x). `frame` must carry `__u`; `fw`
    * is the frequency weight (HC0 gets f ONCE — a weight-f row is f
    * singleton clusters — while clustered scores sum f·u·x since copies
    * share their cluster).
    */
  private[ml] def sandwich(
      frame: DataFrame,
      xcols: Seq[Column],
      bread: Array[Array[Double]],
      cluster: Option[String],
      fw: Column = lit(1.0)
  ): Array[Array[Double]] = {
    val k = xcols.length
    val meatRow: Row = cluster match {
      case None =>
        val aggs = for (i <- 0 until k; j <- i until k)
          yield sum(fw * col("__u") * col("__u") * xcols(i) * xcols(j))
        frame.agg(aggs.head, aggs.tail: _*).head()
      case Some(cl) =>
        val scores = (0 until k).map(i => sum(fw * col("__u") * xcols(i)).as(s"s_$i"))
        val per = frame.groupBy(col(cl)).agg(scores.head, scores.tail: _*)
        val aggs = for (i <- 0 until k; j <- i until k)
          yield sum(col(s"s_$i") * col(s"s_$j"))
        per.agg(aggs.head, aggs.tail: _*).head()
    }
    val meat = Array.ofDim[Double](k, k)
    var p = 0
    for (i <- 0 until k; j <- i until k) {
      val v = meatRow.getDouble(p); p += 1
      meat(i)(j) = v; meat(j)(i) = v
    }
    val inv = LinAlg.inverse(bread)
    LinAlg.matMul(LinAlg.matMul(inv, meat), inv)
  }

  /** Average marginal effects for a fitted GLM — the quantity applied
    * work reports instead of link-scale coefficients ("one more unit of
    * x moves the PROBABILITY by…"): for a continuous regressor,
    * AME_j = β_j · E[dμ/dη] by the chain rule, with the expectation
    * taken over the ESTIMATION sample (the standard observed-data AME,
    * not the at-the-mean MEM). ONE scoring aggregate over the frame
    * (dμ/dη is a row-local expression of η) — no per-covariate passes;
    * intercept excluded. Output: (name, coef, ame) per covariate, 6dp.
    */
  def averageMarginalEffects(df: DataFrame, m: GlmModel): DataFrame = {
    val fam = familyOf(m.family, m.dispersion)
    val mu = fam.mu(m.etaCol)
    val meanDeriv = df.agg(avg(fam.dMuDetaEta(mu, m.etaCol))).head().getDouble(0)
    val spark = df.sparkSession
    import spark.implicits._
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    m.xNames.zip(m.coef)
      .filter(_._1 != "(intercept)")
      .map { case (nm, b) => (nm, q6(b), q6(b * meanDeriv)) }
      .toDF("name", "coef", "ame")
  }
}
