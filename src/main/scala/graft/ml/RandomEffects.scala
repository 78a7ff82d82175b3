package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One-way random-effects panel estimator (Swamy–Arora 1972 feasible
  * GLS) plus the Hausman (1978) FE-vs-RE specification test — the
  * panel-family complement of [[FixedEffects]]: where the within
  * estimator WIPES the group effect (consistent even when effects
  * correlate with x, but discards all between-group variation), RE
  * models it as a random intercept u_g ~ (0, σ²_u) and quasi-demeanes
  * by θ_g = 1 − sqrt(σ²_e / (T_g σ²_u + σ²_e)) — efficient when the
  * effects are exogenous, and the Hausman statistic tests exactly that
  * exogeneity by comparing the two slopes. (cf. reference
  * `hdfe.py:14-297`'s within estimator — RE is the standard companion
  * an econometrics user expects beside it.)
  *
  * Scale shape (the reason this is ONE operator, not a pipeline): for
  * one regressor every moment of the within, between, and
  * θ-transformed regressions is an algebraic function of the PER-GROUP
  * sufficient statistics (n_g, Σx, Σy, Σxx, Σxy, Σyy) — so the whole
  * estimator is ONE groupBy over the facts (map-side combined, the
  * only corpus-sized pass) followed by ONE aggregate over the G-sized
  * group frame. Nothing n-sized ever shuffles twice; no second scan;
  * no driver loop. Unbalanced panels are handled exactly (per-group
  * θ_g; the Swamy–Arora σ²_u uses the harmonic mean T̄_h = G/Σ(1/T_g),
  * a documented convention of this engine).
  */
object RandomEffects {

  /** @param bRe      RE slope (quasi-demeaned GLS)
    * @param icept    RE intercept
    * @param bFe      within (FE) slope — the Hausman comparator
    * @param sigmaU   between-effect SD (√ of the variance component, ≥ 0)
    * @param sigmaE   idiosyncratic SD
    * @param thetaMin smallest per-group quasi-demeaning weight
    * @param thetaMax largest per-group quasi-demeaning weight
    * @param hausman  (b_FE − b_RE)² / (Var_FE − Var_RE); NaN when the
    *                 variance difference is non-positive (finite-sample
    *                 artifact — reported, not hidden)
    * @param pValue   χ²(1) upper tail of `hausman` via 2(1−Φ(√H))
    */
  final case class Model(
      bRe: Double,
      icept: Double,
      bFe: Double,
      sigmaU: Double,
      sigmaE: Double,
      thetaMin: Double,
      thetaMax: Double,
      hausman: Double,
      pValue: Double,
      n: Long,
      groups: Long)

  /** k-regressor model: `bRe`/`bFe` follow `xCols` order; `hausman` is
    * the k-dimensional quadratic form
    * (b_FE − b_RE)ᵀ (Var_FE − Var_RE)⁻¹ (b_FE − b_RE) with `hausmanDf`
    * = k and the χ²(k) upper-tail p-value (NaN when the variance
    * difference is singular or the form is non-positive — a
    * finite-sample artifact reported, not hidden).
    */
  final case class ModelK(
      xCols: Seq[String],
      bRe: Array[Double],
      icept: Double,
      bFe: Array[Double],
      sigmaU: Double,
      sigmaE: Double,
      thetaMin: Double,
      thetaMax: Double,
      hausman: Double,
      hausmanDf: Int,
      pValue: Double,
      n: Long,
      groups: Long)

  /** Single-regressor convenience: the k = 1 specialization of
    * [[fit(df:org\.apache\.spark\.sql\.DataFrame,yCol:String,xCols:Seq[String],groupCol:String)*]]
    * (identical closed-form chain — the q316 oracle replays it in SQL).
    */
  def fit(df: DataFrame, yCol: String, xCol: String, groupCol: String): Model = {
    val m = fit(df, yCol, Seq(xCol), groupCol)
    Model(m.bRe(0), m.icept, m.bFe(0), m.sigmaU, m.sigmaE,
      m.thetaMin, m.thetaMax, m.hausman, m.pValue, m.n, m.groups)
  }

  /** k-regressor Swamy–Arora FGLS + k-dim Hausman. Same scale shape as
    * the single-regressor original: ONE corpus-sized groupBy producing
    * the per-group keyed Gram (n_g, Σy, Σy², Σx_i, Σx_i y, Σx_i x_j —
    * the [[Ols.fit]] buffer keyed by group), then two aggregates over
    * the G-sized frame; every matrix solve is k×k on the driver.
    * The intercept is ELIMINATED in centered form throughout (between
    * regression on centered group means; GLS slopes from
    * Txx − t_ix t_ixᵀ/t_ii), so k = 1 reduces to exactly the scalar
    * arithmetic the q316 oracle replays.
    */
  def fit(df: DataFrame, yCol: String, xCols: Seq[String], groupCol: String): ModelK = {
    val k = xCols.length
    require(k >= 1, "RandomEffects.fit: need at least one regressor")
    val y = col(yCol).cast("double")
    val xs = xCols.map(c => col(c).cast("double"))
    val pairs = for (i <- 0 until k; j <- i until k) yield (i, j)
    // the ONLY corpus-sized pass: per-group sufficient statistics
    val gAggs: Seq[org.apache.spark.sql.Column] =
      Seq(
        count(lit(1)).cast("double").as("tn"),
        sum(y).as("sy"), sum(y * y).as("syy")) ++
        (0 until k).map(i => sum(xs(i)).as(s"sx_$i")) ++
        (0 until k).map(i => sum(xs(i) * y).as(s"sxy_$i")) ++
        pairs.map { case (i, j) => sum(xs(i) * xs(j)).as(s"sxx_${i}_$j") }
    val g = df
      .groupBy(col(groupCol))
      .agg(gAggs.head, gAggs.tail: _*)
      .localCheckpoint(true) // read twice: component pass + θ pass

    // ---- pass 1 over the G-sized frame: within + between moments ----
    val exprs1: Seq[org.apache.spark.sql.Column] =
      Seq(
        sum(col("tn")).as("n"),
        count(lit(1)).cast("double").as("gcnt"),
        sum(lit(1.0) / col("tn")).as("sinvt"),
        // within (group-centered) y moment
        sum(col("syy") - col("sy") * col("sy") / col("tn")).as("wyy"),
        // between regression inputs (group means, G observations)
        sum(col("sy") / col("tn")).as("bsy"),
        sum((col("sy") / col("tn")) * (col("sy") / col("tn"))).as("bsyy")) ++
        (0 until k).map(i =>
          sum(col(s"sxy_$i") - col(s"sx_$i") * col("sy") / col("tn")).as(s"wxy_$i")) ++
        pairs.map { case (i, j) =>
          sum(col(s"sxx_${i}_$j") - col(s"sx_$i") * col(s"sx_$j") / col("tn"))
            .as(s"wxx_${i}_$j")
        } ++
        (0 until k).map(i => sum(col(s"sx_$i") / col("tn")).as(s"bsx_$i")) ++
        (0 until k).map(i =>
          sum((col(s"sx_$i") / col("tn")) * (col("sy") / col("tn"))).as(s"bsxy_$i")) ++
        pairs.map { case (i, j) =>
          sum((col(s"sx_$i") / col("tn")) * (col(s"sx_$j") / col("tn"))).as(s"bsxx_${i}_$j")
        }
    val r1: Row = g.agg(exprs1.head, exprs1.tail: _*).head()
    def d1(c: String) = r1.getAs[Double](c)
    val n = d1("n"); val gc = d1("gcnt")
    require(gc >= k + 2, s"RandomEffects.fit: need at least ${k + 2} groups")
    def sym(get: (Int, Int) => Double): Array[Array[Double]] =
      Array.tabulate(k, k)((i, j) => if (i <= j) get(i, j) else get(j, i))
    val wxx = sym((i, j) => d1(s"wxx_${i}_$j"))
    val wxy = Array.tabulate(k)(i => d1(s"wxy_$i"))
    (0 until k).foreach(i => require(wxx(i)(i) > 0,
      s"RandomEffects.fit: ${xCols(i)} has no within-group variation"))
    val bFe =
      try LinAlg.solve(wxx.map(_.clone()), wxy.clone())
      catch { case _: Exception =>
        throw new IllegalArgumentException(
          "RandomEffects.fit: within design is singular (collinear regressors)") }
    val ssrW = d1("wyy") - LinAlg.dot(bFe, wxy)
    val dofW = n - gc - k
    require(dofW > 0, "RandomEffects.fit: no within degrees of freedom")
    val sigE2 = ssrW / dofW
    // between regression on the G group means (intercept eliminated:
    // centered moments — for k = 1 this IS bvxy/bvxx)
    val bvxx = sym((i, j) => d1(s"bsxx_${i}_$j") - d1(s"bsx_$i") * d1(s"bsx_$j") / gc)
    val bvxy = Array.tabulate(k)(i => d1(s"bsxy_$i") - d1(s"bsx_$i") * d1("bsy") / gc)
    val bvyy = d1("bsyy") - d1("bsy") * d1("bsy") / gc
    (0 until k).foreach(i => require(bvxx(i)(i) > 0,
      s"RandomEffects.fit: group-mean ${xCols(i)} is constant (between regression singular)"))
    val bB =
      try LinAlg.solve(bvxx.map(_.clone()), bvxy.clone())
      catch { case _: Exception =>
        throw new IllegalArgumentException(
          "RandomEffects.fit: between design is singular (collinear group means)") }
    val ssrB = bvyy - LinAlg.dot(bB, bvxy)
    val sig2B = ssrB / (gc - (k + 1.0)) // G obs, intercept + k slopes
    // Swamy–Arora with the harmonic mean panel length (engine convention)
    val tHar = gc / d1("sinvt")
    val sigU2 = math.max(0.0, sig2B - sigE2 / tHar)

    // ---- pass 2: θ-transformed normal equations, still G-sized ------
    // every transformed moment is per-group algebra in (stats, θ_g):
    //   Σ* u v  = Σ_g [s_uv − (2θ−θ²)·s_u·s_v/n]
    //   Σ* 1 v  = Σ_g (1−θ)²·s_v                    (intercept col = 1−θ)
    //   Σ* 1 1  = Σ_g n·(1−θ)²
    val theta = lit(1.0) - sqrt(lit(sigE2) / (col("tn") * lit(sigU2) + lit(sigE2)))
    val shrink = lit(2.0) * col("th") - col("th") * col("th")
    val oneM = (lit(1.0) - col("th")) * (lit(1.0) - col("th"))
    val exprs2: Seq[org.apache.spark.sql.Column] =
      Seq(
        sum(oneM * col("sy")).as("tiy"),
        sum(col("tn") * oneM).as("tii"),
        min(col("th")).as("thmin"),
        max(col("th")).as("thmax")) ++
        (0 until k).map(i =>
          sum(col(s"sxy_$i") - shrink * col(s"sx_$i") * col("sy") / col("tn")).as(s"txy_$i")) ++
        pairs.map { case (i, j) =>
          sum(col(s"sxx_${i}_$j") - shrink * col(s"sx_$i") * col(s"sx_$j") / col("tn"))
            .as(s"txx_${i}_$j")
        } ++
        (0 until k).map(i => sum(oneM * col(s"sx_$i")).as(s"tix_$i"))
    val r2: Row = g.withColumn("th", theta).agg(exprs2.head, exprs2.tail: _*).head()
    def d2(c: String) = r2.getAs[Double](c)
    val tii = d2("tii"); val tiy = d2("tiy")
    val tix = Array.tabulate(k)(i => d2(s"tix_$i"))
    // GLS slopes with the intercept eliminated: solve
    // (Txx − t_ix t_ixᵀ/t_ii) b = Txy − t_ix·t_iy/t_ii
    require(tii > 0, "RandomEffects.fit: transformed design is singular")
    val txxC = Array.tabulate(k, k) { (i, j) =>
      val raw = if (i <= j) d2(s"txx_${i}_$j") else d2(s"txx_${j}_$i")
      raw - tix(i) * tix(j) / tii
    }
    val txyC = Array.tabulate(k)(i => d2(s"txy_$i") - tix(i) * tiy / tii)
    val bRe =
      try LinAlg.solve(txxC.map(_.clone()), txyC.clone())
      catch { case _: Exception =>
        throw new IllegalArgumentException(
          "RandomEffects.fit: transformed design is singular") }
    val aRe = (tiy - LinAlg.dot(bRe, tix)) / tii
    // FGLS theory variances σ²_e·(X'X)⁻¹ with the WITHIN σ²_e — the
    // Hausman construction requires it: RE uses strictly more
    // information than FE, so Var_FE ⪰ Var_RE holds by construction
    // under this variance; plugging the transformed-regression residual
    // variance instead INFLATES Var_RE exactly when the RE model is
    // misspecified and the test would NaN out on the case it exists for
    val varFe = LinAlg.inverse(wxx).map(_.map(_ * sigE2))
    val varRe = LinAlg.inverse(txxC).map(_.map(_ * sigE2)) // slope block of σ²_e(X*'X*)⁻¹
    val dVar = Array.tabulate(k, k)((i, j) => varFe(i)(j) - varRe(i)(j))
    val dB = Array.tabulate(k)(i => bFe(i) - bRe(i))
    val h =
      if ((0 until k).exists(i => dVar(i)(i) <= 0)) Double.NaN
      else
        try {
          val q = LinAlg.dot(dB, LinAlg.solve(dVar.map(_.clone()), dB.clone()))
          if (q > 0) q else Double.NaN
        } catch { case _: Exception => Double.NaN }
    val p =
      if (h.isNaN) Double.NaN
      else graft.functions.NormalDist.chiSqUpperTail(h, k)
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpoints(g)
    ModelK(xCols, bRe, aRe, bFe, math.sqrt(sigU2), math.sqrt(sigE2),
      d2("thmin"), d2("thmax"), h, k, p, math.round(n), math.round(gc))
  }

  /** One row PER REGRESSOR (driver scalars, 6dp floor-quantized):
    * (name, b_re, b_fe) with the model-level scalars repeated on every
    * row — the [[Ols]] summary convention for k-column estimators.
    */
  def summaryK(spark: org.apache.spark.sql.SparkSession, m: ModelK): DataFrame = {
    import spark.implicits._
    def q6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    m.xCols.indices.map { i =>
      (m.xCols(i), q6(m.bRe(i)), q6(m.bFe(i)), q6(m.icept), q6(m.sigmaU), q6(m.sigmaE),
        q6(m.thetaMin), q6(m.thetaMax),
        if (m.hausman.isNaN) None else Some(q6(m.hausman)),
        m.hausmanDf,
        if (m.pValue.isNaN) None else Some(q6(m.pValue)),
        m.n, m.groups)
    }.toDF("name", "b_re", "b_fe", "icept_re", "sigma_u", "sigma_e",
      "theta_min", "theta_max", "hausman", "hausman_df", "p_hausman", "n", "groups")
  }

  /** One-row summary frame (driver scalars, 6dp floor-quantized). */
  def summary(spark: org.apache.spark.sql.SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    def q6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
    Seq((q6(m.bRe), q6(m.icept), q6(m.bFe), q6(m.sigmaU), q6(m.sigmaE),
      q6(m.thetaMin), q6(m.thetaMax),
      if (m.hausman.isNaN) None else Some(q6(m.hausman)),
      if (m.pValue.isNaN) None else Some(q6(m.pValue)),
      m.n, m.groups))
      .toDF("b_re", "icept_re", "b_fe", "sigma_u", "sigma_e",
        "theta_min", "theta_max", "hausman", "p_hausman", "n", "groups")
  }
}
