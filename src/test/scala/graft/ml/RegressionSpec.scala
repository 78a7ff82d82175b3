package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.graftspec.DriverBlocks
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec

class RegressionSpec extends SparkSpec {
  import spark.implicits._

  test("Ols recovers an exact linear relationship") {
    val df = Seq((1.0, 3.0), (2.0, 5.0), (3.0, 7.0), (4.0, 9.0)).toDF("x", "y")
    val m = Ols.fit(df, "y", Seq("x"))
    assert(math.abs(m.coef(0) - 1.0) < 1e-10) // intercept
    assert(math.abs(m.coef(1) - 2.0) < 1e-10) // slope
    assert(m.n == 4)
  }

  test("Ols multi-regressor matches hand-solved normal equations") {
    // y = 1 + 2a - 3b + noise-free
    val rows = for (i <- 0 until 50) yield {
      val a = math.sin(i * 1.7) * 4
      val b = math.cos(i * 0.9) * 2 + 0.3 * a
      (a, b, 1.0 + 2.0 * a - 3.0 * b)
    }
    val m = Ols.fit(rows.toDF("a", "b", "y"), "y", Seq("a", "b"))
    assert(math.abs(m.coef(0) - 1.0) < 1e-8)
    assert(math.abs(m.coef(1) - 2.0) < 1e-8)
    assert(math.abs(m.coef(2) + 3.0) < 1e-8)
  }

  test("Ols homoskedastic SE matches closed form on tiny data") {
    // data: x = 1..5, y with known residuals
    val data = Seq((1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.0, 7.8), (5.0, 10.1))
    val m = Ols.fit(data.toDF("x", "y"), "y", Seq("x"))
    val n = data.length
    val xbar = data.map(_._1).sum / n
    val sxx = data.map(d => (d._1 - xbar) * (d._1 - xbar)).sum
    val b = data.map(d => (d._1 - xbar) * d._2).sum / sxx
    val a = data.map(_._2).sum / n - b * xbar
    val ssr = data.map(d => math.pow(d._2 - a - b * d._1, 2)).sum
    val s2 = ssr / (n - 2)
    assert(math.abs(m.seHomoskedastic(1) - math.sqrt(s2 / sxx)) < 1e-9)
    assert(math.abs(m.seHomoskedastic(0) - math.sqrt(s2 * (1.0 / n + xbar * xbar / sxx))) < 1e-9)
  }

  test("Ols HC1 SE: closed form on tiny data, and = singleton-cluster sandwich × n/(n−k)") {
    val data = Seq((1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.0, 7.8), (5.0, 10.1))
    val df = data.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }.toDF("rid", "x", "y")
    val m = Ols.fit(df, "y", Seq("x"))
    val n = data.length
    val xbar = data.map(_._1).sum / n
    val sxx = data.map(d => (d._1 - xbar) * (d._1 - xbar)).sum
    val b = data.map(d => (d._1 - xbar) * d._2).sum / sxx
    val a = data.map(_._2).sum / n - b * xbar
    // closed-form slope variance: n/(n−2) · Σ x̃²u² / (Σ x̃²)²
    val meat = data.map(d => math.pow(d._1 - xbar, 2) * math.pow(d._2 - a - b * d._1, 2)).sum
    val expect = math.sqrt(n.toDouble / (n - 2) * meat / (sxx * sxx))
    val se = Ols.seHC1(df, m, "y")
    assert(math.abs(se(1) - expect) < 1e-9, s"got ${se(1)} want $expect")
    // sandwich identity: HC0 == clustered with every row its own cluster;
    // HC1 = HC0 × n/(n−k)
    val vc = Ols.varianceClustered(df, m, "y", "rid")
    val vh = Ols.varianceHC1(df, m, "y")
    val scale = n.toDouble / (n - 2)
    for (i <- 0 until 2; j <- 0 until 2)
      assert(math.abs(vh(i)(j) - vc(i)(j) * scale) < 1e-12, s"($i,$j)")
  }

  test("Ols checkRank drops planted collinear column and still fits") {
    val rows = for (i <- 0 until 30) yield {
      val a = i.toDouble
      val b = math.sin(i.toDouble)
      (a, b, a + 2 * b, 5.0 + 1.5 * a - 2.0 * b)
    }
    val m = Ols.fit(rows.toDF("a", "b", "ab", "y"), "y", Seq("a", "b", "ab"), checkRank = true)
    assert(m.droppedCols == Seq("ab"))
    assert(math.abs(m.coef(0) - 5.0) < 1e-8)
    assert(math.abs(m.coef(1) - 1.5) < 1e-8)
    assert(math.abs(m.coef(2) + 2.0) < 1e-8)
  }

  test("FixedEffects 1-FE equals manual within estimator") {
    val rows = Seq(
      ("g1", 1.0, 10.0), ("g1", 2.0, 13.0), ("g1", 3.0, 15.0),
      ("g2", 1.0, 20.0), ("g2", 2.0, 23.0), ("g2", 4.0, 28.0)
    )
    val df = rows.toDF("g", "x", "y")
    val m = FixedEffects.fit(df, "y", Seq("x"), Seq("g"))
    // manual within estimator
    val byG = rows.groupBy(_._1)
    val dm = rows.map { case (g, x, y) =>
      val grp = byG(g)
      (x - grp.map(_._2).sum / grp.size, y - grp.map(_._3).sum / grp.size)
    }
    val slope = dm.map { case (xd, yd) => xd * yd }.sum / dm.map { case (xd, _) => xd * xd }.sum
    assert(math.abs(m.coef(0) - slope) < 1e-10)
    assert(m.sweeps == 1)

    // effect recovery: group means of y - b*x
    val eff = m.effects.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((g, grp) <- byG) {
      val want = grp.map { case (_, x, y) => y - slope * x }.sum / grp.size
      assert(math.abs(eff(g) - want) < 1e-10)
    }

    // residuals: y - b*x - effect_g, and they are within-group mean zero
    val res = m.withResiduals().select(col("g"), col("resid")).collect()
    val resByG = res.groupBy(_.getString(0))
    for ((_, rs) <- resByG)
      assert(math.abs(rs.map(_.getDouble(1)).sum / rs.size) < 1e-10)
  }

  test("FixedEffects two-way matches direct dense dummy regression") {
    // small panel: 4 units x 5 times, y = 2x + unit fe + time fe + 0 noise
    val unitFe = Map(0 -> 1.0, 1 -> -2.0, 2 -> 0.5, 3 -> 3.0)
    val timeFe = Map(0 -> 0.0, 1 -> 1.0, 2 -> -1.0, 3 -> 2.0, 4 -> 0.5)
    val rows = for (u <- 0 until 4; t <- 0 until 5) yield {
      val x = math.sin(u * 2.3 + t * 1.1) * 3
      (u, t, x, 2.0 * x + unitFe(u) + timeFe(t))
    }
    val df = rows.toDF("u", "t", "x", "y")
    val m = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), tol = 1e-12)
    assert(math.abs(m.coef(0) - 2.0) < 1e-6)

    // residuals are within-group mean zero for BOTH fixed effects
    val res = m.withResiduals().select(col("u"), col("t"), col("resid")).collect()
    for ((_, rs) <- res.groupBy(_.getInt(0)))
      assert(math.abs(rs.map(_.getDouble(2)).sum / rs.size) < 1e-6)
    for ((_, rs) <- res.groupBy(_.getInt(1)))
      assert(math.abs(rs.map(_.getDouble(2)).sum / rs.size) < 1e-6)
  }

  test("FixedEffects distributed cell path matches the driver-local path") {
    // same panel as the two-way test, but force the cell frame to stay
    // distributed (collectCellLimit = 0) — both regimes are the same
    // algebra, so the coefficient must agree to tight tolerance
    val unitFe = Map(0 -> 1.0, 1 -> -2.0, 2 -> 0.5, 3 -> 3.0)
    val timeFe = Map(0 -> 0.0, 1 -> 1.0, 2 -> -1.0, 3 -> 2.0, 4 -> 0.5)
    val rows = for (u <- 0 until 4; t <- 0 until 5) yield {
      val x = math.sin(u * 2.3 + t * 1.1) * 3
      (u, t, x, 2.0 * x + unitFe(u) + timeFe(t))
    }
    val df = rows.toDF("u", "t", "x", "y")
    val (dmLocal, _) = FixedEffects.demean(df, Seq("y", "x"), Seq("u", "t"), tol = 1e-12)
    val (dmDist, _) =
      FixedEffects.demean(df, Seq("y", "x"), Seq("u", "t"), tol = 1e-12, collectCellLimit = 0)
    val l = dmLocal.select(col("u"), col("t"), col("y__dm"), col("x__dm")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val d = dmDist.select(col("u"), col("t"), col("y__dm"), col("x__dm")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(l.keySet == d.keySet)
    for ((key, (ly, lx)) <- l) {
      assert(math.abs(ly - d(key)._1) < 1e-8)
      assert(math.abs(lx - d(key)._2) < 1e-8)
    }

    // the distributed regime tracks effect tables too, and they agree
    // with the driver-local ones (same sweep order → same split)
    val fl = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"), tol = 1e-12)
    val fd = FixedEffects
      .demeanFull(df, Seq("y", "x"), Seq("u", "t"), tol = 1e-12, collectCellLimit = 0)
    val effL = fl.effects.get.head.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val effD = fd.effects.get.head.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for ((g, v) <- effL) assert(math.abs(v - effD(g)) < 1e-8)

    // and the full fit (the q59 path) agrees coefficient-for-coefficient
    val mL = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), tol = 1e-12)
    val mD = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), tol = 1e-12, collectCellLimit = 0)
    assert(math.abs(mL.coef(0) - mD.coef(0)) < 1e-10)
  }

  test("FixedEffects.fitMulti matches per-outcome FixedEffects.fit") {
    val rows = for (u <- 0 until 4; t <- 0 until 6) yield {
      val x = math.sin(u * 1.9 + t * 0.7) * 2
      (u, t, x, 3.0 * x + u * 1.5 - t * 0.5, -1.0 * x + u * 0.25 + t)
    }
    val df = rows.toDF("u", "t", "x", "y1", "y2")
    val multi = FixedEffects.fitMulti(df, Seq("y1", "y2"), Seq("x"), Seq("u", "t"), tol = 1e-12)
    val s1 = FixedEffects.fit(df, "y1", Seq("x"), Seq("u", "t"), tol = 1e-12)
    val s2 = FixedEffects.fit(df, "y2", Seq("x"), Seq("u", "t"), tol = 1e-12)
    assert(math.abs(multi("y1").coef(0) - s1.coef(0)) < 1e-9)
    assert(math.abs(multi("y2").coef(0) - s2.coef(0)) < 1e-9)
    assert(math.abs(multi("y1").coef(0) - 3.0) < 1e-6)
    assert(math.abs(multi("y2").coef(0) + 1.0) < 1e-6)
  }

  test("FeModel.seHomoskedastic matches dense dummy regression SE") {
    // 1 FE, 1 regressor with noise: SE from the within fit with absorbed
    // dof must equal the dense regression on [x, all G dummies]
    val rng = new scala.util.Random(7)
    val rows = for (g <- 0 until 3; i <- 0 until 8) yield {
      val x = math.sin(g * 2.1 + i * 0.9) * 2
      (g, x, 1.5 * x + g * 2.0 + rng.nextGaussian() * 0.3)
    }
    val df = rows.toDF("g", "x", "y")
    val m = FixedEffects.fit(df, "y", Seq("x"), Seq("g"))

    // dense design: columns [x, d0, d1, d2] (no intercept — all G dummies)
    val dense = df
      .withColumn("d0", when(col("g") === 0, 1.0).otherwise(0.0))
      .withColumn("d1", when(col("g") === 1, 1.0).otherwise(0.0))
      .withColumn("d2", when(col("g") === 2, 1.0).otherwise(0.0))
    val dm = Ols.fit(dense, "y", Seq("x", "d0", "d1", "d2"), intercept = false)
    assert(math.abs(m.coef(0) - dm.coef(0)) < 1e-8)
    assert(math.abs(m.seHomoskedastic(0) - dm.seHomoskedastic(0)) < 1e-8)
  }

  test("modelEffects: 1-FE equals closed-form effects; 2-FE effects reconstruct residuals") {
    val unitFe = Map(0 -> 1.0, 1 -> -2.0, 2 -> 0.5, 3 -> 3.0)
    val timeFe = Map(0 -> 0.0, 1 -> 1.0, 2 -> -1.0, 3 -> 2.0, 4 -> 0.5)
    val rows = for (u <- 0 until 4; t <- 0 until 5) yield {
      val x = math.sin(u * 2.3 + t * 1.1) * 3
      (u, t, x, 2.0 * x + unitFe(u) + timeFe(t))
    }
    val df = rows.toDF("u", "t", "x", "y")

    // 1-FE: the linear-combination route must equal the closed form
    val m1 = FixedEffects.fit(df, "y", Seq("x"), Seq("u"))
    val closed = m1.effects.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val viaTables = m1.modelEffects("u").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for ((g, v) <- closed) assert(math.abs(v - viaTables(g)) < 1e-9)

    // 2-FE: y - X·b - eff_u(u) - eff_t(t) must equal the model residual
    // (i.e. the effect SUM is the canonical decomposition)
    val m2 = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), tol = 1e-12)
    val effU = m2.modelEffects("u").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val effT = m2.modelEffects("t").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val res = m2.withResiduals().select(col("u"), col("t"), col("x"), col("y"), col("resid")).collect()
    for (r <- res) {
      val recon = r.getDouble(3) - m2.coef(0) * r.getDouble(2) - effU(r.getInt(0)) - effT(r.getInt(1))
      assert(math.abs(recon - r.getDouble(4)) < 1e-6)
    }
    // noise-free panel: effects reproduce the planted FEs up to one
    // common constant per FE (the usual normalization freedom)
    val shiftU = effU(0) - unitFe(0)
    for ((g, v) <- effU) assert(math.abs(v - unitFe(g) - shiftU) < 1e-6)
  }

  test("partialOut residualizes multiple columns on controls within FEs") {
    val rows = for (g <- 0 until 3; i <- 0 until 10) yield {
      val x = math.sin(g * 1.7 + i * 0.6) * 2
      val p = 3.0 * x + g * 1.0 + math.cos(i * 2.2) // "price"
      val q = -1.0 * x + g * 0.5 + math.sin(i * 1.4) // "tax"
      (g, i.toLong, x, p, q)
    }
    val df = rows.toDF("g", "i", "x", "p", "q")
    val out = FixedEffects
      .partialOut(df, Seq("p", "q"), Seq("x"), Seq("g"), keep = Seq("i"))
      .select(col("g"), col("i"), col("p__resid"), col("q__resid"))
      .collect()

    // manual: within-group demean, then residualize on demeaned x
    val byG = rows.groupBy(_._1)
    def dm(sel: ((Int, Long, Double, Double, Double)) => Double)(r: (Int, Long, Double, Double, Double)) = {
      val grp = byG(r._1); sel(r) - grp.map(sel).sum / grp.size
    }
    val xs = rows.map(dm(_._3)); val ps = rows.map(dm(_._4)); val qs = rows.map(dm(_._5))
    val bp = xs.zip(ps).map { case (a, b) => a * b }.sum / xs.map(a => a * a).sum
    val bq = xs.zip(qs).map { case (a, b) => a * b }.sum / xs.map(a => a * a).sum
    val want = rows.zipWithIndex.map { case (r, j) =>
      (r._1, r._2) -> (ps(j) - bp * xs(j), qs(j) - bq * xs(j))
    }.toMap
    for (r <- out) {
      val (wp, wq) = want((r.getInt(0), r.getLong(1)))
      assert(math.abs(r.getDouble(2) - wp) < 1e-9)
      assert(math.abs(r.getDouble(3) - wq) < 1e-9)
    }
  }

  test("fitMulti shares one pass and matches per-outcome fits") {
    val rows = for (i <- 0 until 40) yield {
      val x = math.sin(i * 1.3) * 5
      (x, 2.0 + 3.0 * x, -1.0 + 0.5 * x)
    }
    val df = rows.toDF("x", "y1", "y2")
    val multi = Ols.fitMulti(df, Seq("y1", "y2"), Seq("x"))
    val single1 = Ols.fit(df, "y1", Seq("x"))
    val single2 = Ols.fit(df, "y2", Seq("x"))
    assert(multi("y1").coef.zip(single1.coef).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(multi("y2").coef.zip(single2.coef).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(math.abs(multi("y1").coef(1) - 3.0) < 1e-9)
    assert(math.abs(multi("y2").coef(0) + 1.0) < 1e-9)
  }

  test("fitWeighted with integer weights equals the fit on row-expanded data") {
    val weighted = Seq((1.0, 2.1, 3L), (2.0, 3.9, 1L), (3.0, 6.2, 2L), (4.0, 7.8, 1L))
    val expanded = weighted.flatMap { case (x, y, w) => Seq.fill(w.toInt)((x, y)) }
    val mW = Ols.fitWeighted(weighted.toDF("x", "y", "w"), "y", Seq("x"), "w")
    val mE = Ols.fit(expanded.toDF("x", "y"), "y", Seq("x"))
    assert(mW.n == mE.n)
    assert(mW.coef.zip(mE.coef).forall { case (a, b) => math.abs(a - b) < 1e-10 })
    // frequency-weight dof: SEs must match the expanded fit too
    assert(mW.seHomoskedastic.zip(mE.seHomoskedastic).forall {
      case (a, b) => math.abs(a - b) < 1e-10
    })
  }

  test("FixedEffects.fitWeighted equals the fit on row-expanded data (2 FEs)") {
    val rng = new scala.util.Random(11)
    val weighted = for (u <- 0 until 3; t <- 0 until 4) yield {
      val x = math.sin(u * 1.3 + t * 0.8) * 2
      val y = 1.5 * x + u * 2.0 - t * 0.7 + rng.nextGaussian() * 0.1
      (u, t, x, y, 1 + ((u + t) % 3)) // weights 1..3
    }
    val expanded = weighted.flatMap { case (u, t, x, y, w) => Seq.fill(w)((u, t, x, y)) }
    val mW = FixedEffects.fitWeighted(
      weighted.toDF("u", "t", "x", "y", "w"), "y", Seq("x"), Seq("u", "t"), "w", tol = 1e-12)
    val mE = FixedEffects.fit(
      expanded.toDF("u", "t", "x", "y"), "y", Seq("x"), Seq("u", "t"), tol = 1e-12)
    assert(mW.n == mE.n)
    assert(math.abs(mW.coef(0) - mE.coef(0)) < 1e-9)
    // weighted effect tables: same recovered effects as the expanded fit
    val eW = mW.modelEffects("u").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val eE = mE.modelEffects("u").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for ((g, v) <- eE) assert(math.abs(eW(g) - v) < 1e-7)
  }

  test("GroupedOls.fitPerGroup matches independent per-group fits; singular groups null") {
    val rows = Seq(
      // group a: y = 1 + 2x
      ("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0),
      // group b: y = -1 + 0.5x
      ("b", 2.0, 0.0), ("b", 4.0, 1.0), ("b", 6.0, 2.0),
      // group c: constant x → singular design
      ("c", 1.0, 1.0), ("c", 1.0, 2.0)
    )
    val out = GroupedOls
      .fitPerGroup(rows.toDF("g", "x", "y"), "y", Seq("x"), Seq("g"))
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    assert(math.abs(out("a").getDouble(2) - 1.0) < 1e-9) // b_intercept
    assert(math.abs(out("a").getDouble(3) - 2.0) < 1e-9) // b_x
    assert(math.abs(out("b").getDouble(2) + 1.0) < 1e-9)
    assert(math.abs(out("b").getDouble(3) - 0.5) < 1e-9)
    assert(out("c").isNullAt(2) && out("c").isNullAt(3))
  }

  test("Iv/2SLS recovers the true coefficient where OLS is biased (planted endogeneity)") {
    // exact-by-construction endogeneity: over each 4-cycle, z = (0,1,2,3)
    // and u = (1,-1,-1,1) have sample covariance EXACTLY zero, while
    // x = z + u carries u into both regressor and error of
    // y = 3 + 2x + u. So in-sample: IV solves the moment equations
    // exactly (β = 2, α = 3), and OLS is biased by exactly
    // cov(x,u)/var(x) = var(u)/var(x) = 1/2.25 = 4/9.
    val uCyc = Array(1.0, -1.0, -1.0, 1.0)
    val rows = (0 until 400).map { i =>
      val z = (i % 4).toDouble
      val u = uCyc(i % 4)
      val w = if (i % 4 == 0 || i % 4 == 2) 1.0 else 0.0 // cov(w,u)=0, cov(w,z)≠0
      val x = z + u
      (3.0 + 2.0 * x + u, x, z, w)
    }
    val df = rows.toDF("y", "x", "z", "w")

    val iv = Iv.fit(df, "y", Seq("x"), Seq("z"))
    assert(math.abs(iv.coef(1) - 2.0) < 1e-9, s"IV slope ${iv.coef(1)}")
    assert(math.abs(iv.coef(0) - 3.0) < 1e-9, s"IV intercept ${iv.coef(0)}")

    val ols = Ols.fit(df, "y", Seq("x"))
    assert(math.abs(ols.coef(1) - (2.0 + 4.0 / 9.0)) < 1e-9, s"OLS slope ${ols.coef(1)}")

    // over-identified (two valid instruments): still exact
    val over = Iv.fit(df, "y", Seq("x"), Seq("z", "w"))
    assert(math.abs(over.coef(1) - 2.0) < 1e-9)

    // an exogenous control y doesn't load on: slope intact, control ≈ 0
    val withC = Iv.fit(df, "y", Seq("x"), Seq("z"), exog = Seq("w"))
    assert(math.abs(withC.coef(1) - 2.0) < 1e-9)
    assert(math.abs(withC.coef(2)) < 1e-9)

    // under-identification fails fast
    intercept[IllegalArgumentException] {
      Iv.fit(df, "y", Seq("x", "w"), Seq("z"))
    }

    // u ⊥ z exactly → residuals are u itself → sigma² = Σu²/(n−2),
    // pinning the SSR-against-actual-X convention
    val n = 400.0
    assert(math.abs(iv.sigma2 - n / (n - 2)) < 1e-9, s"sigma2 ${iv.sigma2}")
  }

  test("IV clustered SE matches a dense-matrix computation from raw data") {
    // cluster-correlated errors: u constant within each 3-row cluster
    val rows = (0 until 30).map { i =>
      val g = i / 3
      val z = (i % 7).toDouble
      val u = (g % 3 - 1).toDouble
      val x = z + 0.5 * u
      (1.0 + 2.0 * x + u, x, z, g.toLong, i.toLong)
    }
    val df = rows.toDF("y", "x", "z", "g", "i")
    val m = Iv.fit(df, "y", Seq("x"), Seq("z"))

    // independent path: the same sandwich from RAW data matrices
    def dense(clusterOf: Int => Long): Array[Array[Double]] = {
      val zMat = rows.indices.map(i => Array(1.0, rows(i)._3)).toArray
      val xMat = rows.indices.map(i => Array(1.0, rows(i)._2)).toArray
      def gram(a: Array[Array[Double]], b: Array[Array[Double]]) =
        Array.tabulate(a.head.length, b.head.length)((p, q) =>
          a.indices.map(i => a(i)(p) * b(i)(q)).sum)
      val aInv = LinAlg.inverse(gram(zMat, zMat))
      val bMat = gram(zMat, xMat)
      val bread = LinAlg.inverse(
        LinAlg.matMul(LinAlg.matMul(bMat.transpose, aInv), bMat))
      val proj = LinAlg.matMul(aInv, bMat)
      val u = rows.indices.map(i =>
        rows(i)._1 - m.coef(0) - m.coef(1) * rows(i)._2).toArray
      val scores = rows.indices.groupBy(clusterOf).values.map { idx =>
        Array(idx.map(u).sum, idx.map(i => rows(i)._3 * u(i)).sum)
      }
      val meat = Array.tabulate(2, 2)((p, q) =>
        scores.map(s => s(p) * s(q)).sum)
      LinAlg.matMul(LinAlg.matMul(bread, LinAlg.matMul(
        LinAlg.matMul(proj.transpose, meat), proj)), bread)
    }

    val vG = Iv.varianceClustered(df, m, "y", "g")
    val eG = dense(i => (i / 3).toLong)
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(vG(p)(q) - eG(p)(q)) <= 1e-9 * math.max(1.0, math.abs(eG(p)(q))),
        s"clustered [$p][$q]: ${vG(p)(q)} vs ${eG(p)(q)}")

    // singleton clusters == the HC0-style IV sandwich
    val vI = Iv.varianceClustered(df, m, "y", "i")
    val eI = dense(i => i.toLong)
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(vI(p)(q) - eI(p)(q)) <= 1e-9 * math.max(1.0, math.abs(eI(p)(q))))

    // two-way CGM: V_a + V_b − V_{a∩b}, each term checked densely; with
    // crossing cluster dimensions (g = i/3, h = i%4) the interaction
    // partition is genuinely finer than either margin
    val dfH = df.withColumn("h", $"i" % 4)
    val v2 = Iv.varianceClustered2(dfH, m, "y", "g", "h")
    val e2 = {
      val va2 = dense(i => (i / 3).toLong)
      val vb2 = dense(i => (i % 4).toLong)
      val vab2 = dense(i => ((i / 3) * 100 + i % 4).toLong)
      Array.tabulate(2, 2)((p, q) => va2(p)(q) + vb2(p)(q) - vab2(p)(q))
    }
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(v2(p)(q) - e2(p)(q)) <= 1e-9 * math.max(1.0, math.abs(e2(p)(q))),
        s"two-way [$p][$q]: ${v2(p)(q)} vs ${e2(p)(q)}")
    // identity: clustering twice on the same dimension collapses to one-way
    val vSame = Iv.varianceClustered2(df, m, "y", "g", "g")
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(vSame(p)(q) - vG(p)(q)) <= 1e-9 * math.max(1.0, math.abs(vG(p)(q))))
    // interaction-key separator: ("1","12") and ("11","2") must be
    // DIFFERENT intersection cells, not a concatenation collision
    val dfC = df.withColumn("ca", when($"i" < 15, "1").otherwise("11"))
      .withColumn("cb", when($"i" < 15, "12").otherwise("2"))
    val vC = Iv.varianceClustered2(dfC, m, "y", "ca", "cb")
    val pair = dfC.withColumn("__p", concat_ws("#", $"ca", $"cb"))
    val eC = {
      val va3 = Iv.varianceClustered(dfC, m, "y", "ca")
      val vb3 = Iv.varianceClustered(dfC, m, "y", "cb")
      val vab3 = Iv.varianceClustered(pair, m, "y", "__p")
      Array.tabulate(2, 2)((p, q) => va3(p)(q) + vb3(p)(q) - vab3(p)(q))
    }
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(vC(p)(q) - eC(p)(q)) <= 1e-9 * math.max(1.0, math.abs(eC(p)(q))))

    // over-identified fit against an independent dense 2SLS computation
    // on data where instrument subsets give DIFFERENT answers — a
    // truncated instrument block (the old square-only matMul bug) can't
    // hide behind an exact planted construction here
    val df2 = df.withColumn("w", $"z" * $"z")
    val m2 = Iv.fit(df2, "y", Seq("x"), Seq("z", "w"))
    val zMat = rows.indices.map(i => Array(1.0, rows(i)._3, rows(i)._3 * rows(i)._3)).toArray
    val xMat = rows.indices.map(i => Array(1.0, rows(i)._2)).toArray
    val yVec = rows.map(_._1).toArray
    def gram(a: Array[Array[Double]], b: Array[Array[Double]]) =
      Array.tabulate(a.head.length, b.head.length)((p, q) =>
        a.indices.map(i => a(i)(p) * b(i)(q)).sum)
    val aI = LinAlg.inverse(gram(zMat, zMat))
    val bM = gram(zMat, xMat)
    val zy = Array.tabulate(3)(p => rows.indices.map(i => zMat(i)(p) * yVec(i)).sum)
    val btAi = LinAlg.matMul(bM.transpose, aI)
    val betaDense = LinAlg.solve(
      LinAlg.matMul(btAi, bM).map(_.clone()), LinAlg.matVec(btAi, zy))
    assert(math.abs(m2.coef(0) - betaDense(0)) < 1e-9, s"${m2.coef(0)} vs ${betaDense(0)}")
    assert(math.abs(m2.coef(1) - betaDense(1)) < 1e-9, s"${m2.coef(1)} vs ${betaDense(1)}")
    // and the just-identified fit genuinely differs here
    val mJust = Iv.fit(df2, "y", Seq("x"), Seq("z"))
    assert(math.abs(mJust.coef(1) - m2.coef(1)) > 1e-6)
  }

  test("IV first-stage F: strong instrument huge, irrelevant instrument weak, dense parity") {
    // x strongly driven by z; q is pure noise w.r.t. x
    val rows = (0 until 200).map { i =>
      val z = (i % 10).toDouble
      val qcol = ((i * 7) % 13).toDouble
      val x = z + 0.1 * ((i % 3) - 1)
      (1.0 + 2.0 * x + ((i % 5) - 2).toDouble * 0.3, x, z, qcol)
    }
    val df = rows.toDF("y", "x", "z", "q")
    val strong = Iv.fit(df, "y", Seq("x"), Seq("z"))
    val weak = Iv.fit(df, "y", Seq("x"), Seq("q"))
    assert(strong.firstStageF(0) > 1000, s"strong F ${strong.firstStageF(0)}")
    assert(weak.firstStageF(0) < 10, s"weak F ${weak.firstStageF(0)}")

    // dense parity: F from explicit first-stage regressions
    def ssrDense(target: Array[Double], design: Array[Array[Double]]): Double = {
      val k = design.head.length
      val gss = Array.tabulate(k, k)((p, q2) =>
        design.indices.map(i => design(i)(p) * design(i)(q2)).sum)
      val sc = Array.tabulate(k)(p => design.indices.map(i => design(i)(p) * target(i)).sum)
      val b = LinAlg.solve(gss, sc.clone())
      target.map(v => v * v).sum - LinAlg.dot(b, sc)
    }
    val xv = rows.map(_._2).toArray
    val full = rows.map(r => Array(1.0, r._3)).toArray
    val restricted = rows.map(_ => Array(1.0)).toArray
    val fDense = ((ssrDense(xv, restricted) - ssrDense(xv, full)) / 1.0) /
      (ssrDense(xv, full) / (200 - 2).toDouble)
    assert(math.abs(strong.firstStageF(0) - fDense) <= 1e-6 * fDense,
      s"${strong.firstStageF(0)} vs dense $fDense")
  }

  test("OLS two-way clustered SE: CGM composition and same-dimension identity") {
    val rows = (0 until 24).map { i =>
      val x = (i % 5).toDouble
      (1.0 + 2.0 * x + (i % 3 - 1).toDouble, x, (i / 4).toLong, (i % 4).toLong)
    }
    val df = rows.toDF("y", "x", "a", "b")
    val m = Ols.fit(df, "y", Seq("x"))
    val v2 = Ols.varianceClustered2(df, m, "y", "a", "b")
    val pair = df.withColumn("__p", concat_ws("#", $"a", $"b"))
    val expect = {
      val va = Ols.varianceClustered(df, m, "y", "a")
      val vb = Ols.varianceClustered(df, m, "y", "b")
      val vab = Ols.varianceClustered(pair, m, "y", "__p")
      Array.tabulate(2, 2)((p, q) => va(p)(q) + vb(p)(q) - vab(p)(q))
    }
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(v2(p)(q) - expect(p)(q)) <= 1e-9 * math.max(1.0, math.abs(expect(p)(q))))
    val vSame = Ols.varianceClustered2(df, m, "y", "a", "a")
    val vA = Ols.varianceClustered(df, m, "y", "a")
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(vSame(p)(q) - vA(p)(q)) <= 1e-9 * math.max(1.0, math.abs(vA(p)(q))))
  }

  test("panel IV: 2SLS with absorbed FEs recovers truth where within-OLS is biased") {
    // full factorial grid (a, b, c, d): z = a, u = ±1 by b, FEs on c and
    // d. Balance makes z ⊥ u exactly WITHIN every FE level, u is not
    // absorbed (varies within both FEs), and demeaning leaves the plain
    // construction: z__dm = z − 1.5, u__dm = u.
    val rows = for {
      rep <- 0 until 5; a <- 0 until 4; b <- 0 until 2; c <- 0 until 5; d <- 0 until 2
    } yield {
      val z = a.toDouble
      val u = if (b == 0) 1.0 else -1.0
      val x = z + u
      (10.0 * c + 5.0 * d + 2.0 * x + u, x, z, c.toLong, d.toLong, rep)
    }
    val df = rows.toDF("y", "x", "z", "g1", "g2", "rep")

    val oneFe = Iv.fitWithFE(df, "y", Seq("x"), Seq("z"), fes = Seq("g1"))
    // names keep the __dm suffix ON PURPOSE: they are what residual-based
    // variance APIs read, and must point at the demeaned columns
    assert(oneFe.model.names == Seq("x__dm"))
    assert(math.abs(oneFe.coef(0) - 2.0) < 1e-7, s"1-FE IV slope ${oneFe.coef(0)}")
    // clustered variance on the returned demeaned frame: in this exact
    // construction the residual is u (±1 balanced within every cluster),
    // so each cluster's score Σ z__dm·u vanishes and the sandwich is
    // EXACTLY zero — which pins that the __dm columns were read. Had the
    // API read the un-demeaned y/x (which also exist in the frame — the
    // renamed-model bug this replaces), the residuals would carry the
    // fixed effects and the variance would be strictly positive.
    val vPanel = Iv.varianceClustered(oneFe.demeaned, oneFe.model, "y__dm", "g1")
    assert(vPanel(0)(0) >= 0 && vPanel(0)(0) < 1e-12, vPanel(0)(0).toString)

    val twoFe = Iv.fitWithFE(df, "y", Seq("x"), Seq("z"), fes = Seq("g1", "g2"))
    assert(math.abs(twoFe.coef(0) - 2.0) < 1e-6, s"2-FE IV slope ${twoFe.coef(0)}")

    // the within estimator WITHOUT instrumenting stays biased by exactly
    // var(u)/var(x__dm) = 4/9 — absorbing FEs does not fix endogeneity
    val within = FixedEffects.fit(df, "y", Seq("x"), Seq("g1", "g2"))
    assert(math.abs(within.coef(0) - (2.0 + 4.0 / 9.0)) < 1e-6,
      s"within slope ${within.coef(0)}")
  }

  test("clustered SE matches hand computation on tiny data") {
    val rows = Seq(
      ("c1", 1.0, 2.0), ("c1", 2.0, 4.5), ("c2", 3.0, 5.5),
      ("c2", 4.0, 8.5), ("c3", 5.0, 9.5), ("c3", 6.0, 12.5)
    )
    val df = rows.toDF("c", "x", "y")
    val m = Ols.fit(df, "y", Seq("x"))
    val se = Ols.seClustered(df, m, "y", "c")

    // hand: A = X'X with intercept col, meat = sum_g s_g s_g'
    val xs = rows.map(_._2); val ys = rows.map(_._3); val n = rows.size
    val a11 = n.toDouble; val a12 = xs.sum; val a22 = xs.map(x => x * x).sum
    val det = a11 * a22 - a12 * a12
    val b1 = (a22 * ys.sum - a12 * xs.zip(ys).map { case (x, y) => x * y }.sum) / det
    val b2 = (a11 * xs.zip(ys).map { case (x, y) => x * y }.sum - a12 * ys.sum) / det
    val us = rows.map { case (_, x, y) => y - b1 - b2 * x }
    val scores = rows.zip(us).groupBy(_._1._1).values.map { grp =>
      (grp.map(_._2).sum, grp.map { case ((_, x, _), u) => u * x }.sum)
    }
    val m11 = scores.map(s => s._1 * s._1).sum
    val m12 = scores.map(s => s._1 * s._2).sum
    val m22 = scores.map(s => s._2 * s._2).sum
    val seSlope = math.sqrt(a12 * a12 * m11 - 2 * a11 * a12 * m12 + a11 * a11 * m22) / det
    val seInt = math.sqrt(a22 * a22 * m11 - 2 * a22 * a12 * m12 + a12 * a12 * m22) / det
    assert(math.abs(se(0) - seInt) < 1e-9)
    assert(math.abs(se(1) - seSlope) < 1e-9)
  }

  test("two-way clustered: NULL and separator-bearing cluster keys form distinct cells") {
    val rows = (0 until 24).map { i =>
      val x = (i % 5).toDouble
      (1.0 + 2.0 * x + (i % 3 - 1).toDouble, x, i)
    }
    // (null,"k0") and ("k0",null) patterns exist simultaneously: a
    // null-skipping concat (the concat_ws trap) would merge them into
    // one intersection cell and shift the CGM V_{a∩b} term
    val df = rows.toDF("y", "x", "i")
      .withColumn("a", when($"i" % 4 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("k"), ($"i" % 3).cast("string"))))
      .withColumn("b", when($"i" % 4 === 1, lit(null).cast("string"))
        .otherwise(concat(lit("k"), ($"i" % 2).cast("string"))))
    val m = Ols.fit(df, "y", Seq("x"))
    val v2 = Ols.varianceClustered2(df, m, "y", "a", "b")
    // expected from a pair key that is distinct by construction (the
    // sentinel "<null>" does not occur among the k* values)
    val pair = df.withColumn("__p",
      concat(coalesce($"a", lit("<null>")), lit("|#|"), coalesce($"b", lit("<null>"))))
    val expect = {
      val va = Ols.varianceClustered(df, m, "y", "a")
      val vb = Ols.varianceClustered(df, m, "y", "b")
      val vab = Ols.varianceClustered(pair, m, "y", "__p")
      Array.tabulate(2, 2)((p, q) => va(p)(q) + vb(p)(q) - vab(p)(q))
    }
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(v2(p)(q) - expect(p)(q)) <= 1e-12 * math.max(1.0, math.abs(expect(p)(q))),
        s"null-key two-way [$p][$q]: ${v2(p)(q)} vs ${expect(p)(q)}")

    // keys CONTAINING the separator byte: ("a\u0001","b") vs ("a","\u0001b")
    // — the length prefix keeps them apart
    val dfS = rows.toDF("y", "x", "i")
      .withColumn("a", when($"i" < 12, lit("a\u0001")).otherwise(lit("a")))
      .withColumn("b", when($"i" < 12, lit("b")).otherwise(lit("\u0001b")))
    val v2S = Ols.varianceClustered2(dfS, m, "y", "a", "b")
    val pairS = dfS.withColumn("__p", concat(length($"a").cast("string"), lit(":"), $"a", $"b"))
    val expectS = {
      val va = Ols.varianceClustered(dfS, m, "y", "a")
      val vb = Ols.varianceClustered(dfS, m, "y", "b")
      val vab = Ols.varianceClustered(pairS, m, "y", "__p")
      Array.tabulate(2, 2)((p, q) => va(p)(q) + vb(p)(q) - vab(p)(q))
    }
    for (p <- 0 until 2; q <- 0 until 2)
      assert(math.abs(v2S(p)(q) - expectS(p)(q)) <= 1e-12 * math.max(1.0, math.abs(expectS(p)(q))))
  }

  test("FeModel two-way clustered SE: dense CGM parity on crossing dims, same-dim identity") {
    // two absorbed FEs (u, t); cluster dims (ca, cb) CROSS them and
    // each other, so the interaction partition is genuinely finer
    val rows = for (u <- 0 until 6; t <- 0 until 8) yield {
      val x = math.sin(u * 2.3 + t * 1.1) * 3
      val e = ((u + 2 * t) % 5 - 2).toDouble * 0.7
      (u, t, x, 2.0 * x + u.toDouble - t.toDouble * 0.5 + e, u % 3, t % 4)
    }
    val df = rows.toDF("u", "t", "x", "y", "ca", "cb")
    val m = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), tol = 1e-12,
      keep = Seq("ca", "cb"))
    // dense CGM from the demeaned frame the model itself exposes
    val dm = m.demeaned.select(col("x__dm"), col("y__dm"), col("ca"), col("cb")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2), r.getInt(3)))
    val b = m.coef(0)
    val gram = dm.map(r => r._1 * r._1).sum
    def sandwich(key: ((Double, Double, Int, Int)) => Any): Double =
      dm.groupBy(key).values.map { grp =>
        val s = grp.map(r => (r._2 - b * r._1) * r._1).sum
        s * s
      }.sum / (gram * gram)
    val expect = sandwich(_._3) + sandwich(_._4) - sandwich(r => (r._3, r._4))
    val v2 = m.varianceClustered2("ca", "cb")
    assert(math.abs(v2(0)(0) - expect) <= 1e-9 * math.max(1.0, math.abs(expect)),
      s"FE two-way ${v2(0)(0)} vs dense $expect")
    // same-dimension identity: collapses to the one-way FE sandwich
    val one = Ols.varianceClustered(m.demeaned, m.ols, s"${m.yName}__dm", "ca")
    val vSame = m.varianceClustered2("ca", "ca")
    assert(math.abs(vSame(0)(0) - one(0)(0)) <= 1e-12 * math.max(1.0, math.abs(one(0)(0))))
    // seClustered2 is the floored sqrt of the diagonal
    val se = m.seClustered2("ca", "cb")
    assert(math.abs(se(0) - math.sqrt(math.max(v2(0)(0), 0.0))) < 1e-15)
  }

  test("CG hybrid: chain-overlap panel converges where plain MAP crawls, same fixpoint") {
    // path-graph panel: unit u is observed at times u and u+1, so the
    // FE bipartite graph is a PATH — spectral gap O(1/G²), the classic
    // slow case for plain alternating projections
    val rows = for (u <- 0 until 50; t <- Seq(u, u + 1); rep <- 0 until 2) yield {
      val x = math.sin(u * 1.3 + t * 0.7 + rep) * 2
      (u, t, x, 2.0 * x + u.toDouble * 0.5 - t.toDouble * 0.3 + (rep - 0.5))
    }
    val df = rows.toDF("u", "t", "x", "y")
    def slopeOf(d: Demeaned): Double = {
      val cg = d.cellGram.get
      val yI = cg.cols.indexOf("y"); val xI = cg.cols.indexOf("x")
      cg.gram(xI)(yI) / cg.gram(xI)(xI)
    }
    val accel = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 4000, tol = 1e-9)
    val plain = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 4000, tol = 1e-9, accelerate = false)
    info(s"accelerated sweeps=${accel.sweeps}, plain sweeps=${plain.sweeps}")
    assert(accel.sweeps * 4 <= plain.sweeps,
      s"CG must cut the path-graph sweep count: ${accel.sweeps} vs ${plain.sweeps}")
    // identical fixpoint: both slopes from the cell Gram agree tightly
    assert(math.abs(slopeOf(accel) - slopeOf(plain)) < 1e-7,
      s"${slopeOf(accel)} vs ${slopeOf(plain)}")

    // distributed regime: driver-side CG with the distributed matvec —
    // converges within a sweep budget the plain loop could not meet
    val dist = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 120, tol = 1e-9, collectCellLimit = 0)
    info(s"distributed accelerated sweeps=${dist.sweeps}")
    assert(dist.sweeps < 120, s"distributed Aitken did not converge: ${dist.sweeps}")
    assert(math.abs(slopeOf(dist) - slopeOf(accel)) < 1e-7,
      s"${slopeOf(dist)} vs ${slopeOf(accel)}")
  }

  test("Aitken sweeps: bridged-cluster panel converges inside the pre-CG budget, same fixpoint") {
    // two dense bipartite FE clusters joined by two bridge observations:
    // the inter-cluster imbalance is a SINGLE slow AP mode (ρ ≈ 0.98)
    // well separated from the fast intra-cluster spectrum — exactly the
    // geometric tail the Irons–Tuck extrapolation sums in closed form.
    // Plain MAP needs hundreds of sweeps here; the accelerated loop must
    // finish INSIDE the 10-sweep pre-CG Halperin budget.
    val rows =
      (for (u <- 0 until 10; t <- 0 until 10) yield (u, t)) ++
        (for (u <- 10 until 20; t <- 10 until 20) yield (u, t)) ++
        Seq((9, 10), (10, 9))
    val df = rows.zipWithIndex.map { case ((u, t), i) =>
      val x = math.sin(u * 1.3 + t * 0.7 + i * 0.01) * 2
      (u, t, x, 2.0 * x + u.toDouble * 0.5 - t.toDouble * 0.3 + math.cos(i * 0.37))
    }.toDF("u", "t", "x", "y")
    def slopeOf(d: Demeaned): Double = {
      val cg = d.cellGram.get
      val yI = cg.cols.indexOf("y"); val xI = cg.cols.indexOf("x")
      cg.gram(xI)(yI) / cg.gram(xI)(xI)
    }
    val accel = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 4000, tol = 1e-11)
    val plain = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 4000, tol = 1e-11, accelerate = false)
    info(s"Aitken sweeps=${accel.sweeps}, plain sweeps=${plain.sweeps}")
    assert(accel.sweeps <= 10,
      s"Aitken must converge inside the 10-sweep pre-CG budget: ${accel.sweeps}")
    assert(plain.sweeps >= 5 * accel.sweeps,
      s"plain MAP should crawl on the bridge mode: ${plain.sweeps} vs ${accel.sweeps}")
    // identical fixpoint at 1e-10
    assert(math.abs(slopeOf(accel) - slopeOf(plain)) < 1e-10,
      s"${slopeOf(accel)} vs ${slopeOf(plain)}")

    // distributed regime: same extrapolation from the probe's means
    // frames — must also beat the CG bail (sweeps < 10 would bail at 10)
    val dist = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 4000, tol = 1e-11, collectCellLimit = 0)
    info(s"distributed Aitken sweeps=${dist.sweeps}")
    assert(dist.sweeps <= 10,
      s"distributed Aitken must converge inside the pre-CG budget: ${dist.sweeps}")
    assert(math.abs(slopeOf(dist) - slopeOf(plain)) < 1e-10,
      s"${slopeOf(dist)} vs ${slopeOf(plain)}")

    // frame regime (FEs over the broadcast gate): the same
    // extrapolation from the probe's means frames
    spark.conf.set("spark.graft.fe.broadcastGroupLimit", "15") // < 20 groups per FE
    try {
      val frame = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
        maxSweeps = 4000, tol = 1e-11, collectCellLimit = 0)
      info(s"frame-regime Aitken sweeps=${frame.sweeps}")
      assert(frame.sweeps <= 10,
        s"frame-regime Aitken must converge inside the pre-CG budget: ${frame.sweeps}")
      assert(math.abs(slopeOf(frame) - slopeOf(plain)) < 1e-10,
        s"${slopeOf(frame)} vs ${slopeOf(plain)}")
    } finally spark.conf.unset("spark.graft.fe.broadcastGroupLimit")
  }

  test("keyed-frame CG: a non-broadcastable FE dimension still gets the accelerated path, parity at 1e-8") {
    // the same slow path-graph panel as the CG-hybrid test, but with
    // the broadcast bound squeezed BELOW the u-dimension's group count
    // so feBroadcast(u) = false: pre-r11 this panel had NO accelerated
    // path (the CG bail required every FE broadcast-able) and burned
    // Halperin sweeps to maxSweeps; now it must bail into the
    // keyed-frame PCG and converge well inside the budget
    val rows = for (u <- 0 until 50; t <- Seq(u, u + 1); rep <- 0 until 2) yield {
      val x = math.sin(u * 1.3 + t * 0.7 + rep) * 2
      (u, t, x, 2.0 * x + u.toDouble * 0.5 - t.toDouble * 0.3 + (rep - 0.5))
    }
    val df = rows.toDF("u", "t", "x", "y")
    def slopeOf(d: Demeaned): Double = {
      val cg = d.cellGram.get
      val yI = cg.cols.indexOf("y"); val xI = cg.cols.indexOf("x")
      cg.gram(xI)(yI) / cg.gram(xI)(xI)
    }
    // driver-regime reference (all-broadcast, driver-vector CG)
    val ref = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
      maxSweeps = 4000, tol = 1e-9)
    spark.conf.set("spark.graft.fe.broadcastGroupLimit", "40") // < 51 u-groups
    try {
      val dist = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
        maxSweeps = 120, tol = 1e-9, collectCellLimit = 0)
      info(s"keyed-frame CG sweeps=${dist.sweeps} (driver ref=${ref.sweeps})")
      assert(dist.sweeps < 120,
        s"keyed-frame CG did not converge inside the budget: ${dist.sweeps}")
      // CG-typical sweep count: comparable to the driver-vector CG
      // reference (the path graph's condition number makes PCG itself
      // take ~G iterations; the point is matching CG, not beating it —
      // plain Halperin needs thousands here)
      assert(dist.sweeps <= ref.sweeps + 5,
        s"not CG-typical: ${dist.sweeps} vs driver CG ${ref.sweeps}")
      assert(math.abs(slopeOf(dist) - slopeOf(ref)) < 1e-8,
        s"${slopeOf(dist)} vs ${slopeOf(ref)}")
    } finally spark.conf.unset("spark.graft.fe.broadcastGroupLimit")
  }

  test("pickBigFe: the pre-partition key is the LARGEST non-broadcast dimension") {
    // r11 verdict #3: the first-match pick could land on the SMALLER of
    // two oversized dimensions, re-shuffling the larger one every CG
    // iteration; the contract is max-by-group-count among non-broadcast
    val fes = Seq("worker", "firm", "year")
    val bc = Map("worker" -> false, "firm" -> false, "year" -> true)
    val counts = Map("worker" -> 5000000L, "firm" -> 80000000L, "year" -> 30L)
    assert(FixedEffects.pickBigFe(fes, bc, counts) === "firm")
    // declaration order must not matter
    assert(FixedEffects.pickBigFe(fes.reverse, bc, counts) === "firm")
    // single oversized dimension: picked regardless of size rank
    assert(FixedEffects.pickBigFe(fes,
      Map("worker" -> false, "firm" -> true, "year" -> true), counts) === "worker")
  }

  test("fitWeighted: distributed cell regime matches the driver regime") {
    val rows = for (u <- 0 until 5; t <- 0 until 6) yield {
      val x = math.sin(u * 2.1 + t * 0.9) * 3
      (u, t, x, 2.0 * x + u.toDouble - 0.5 * t + ((u + t) % 3 - 1).toDouble * 0.4,
        (1 + (u + 2 * t) % 3).toDouble)
    }
    val df = rows.toDF("u", "t", "x", "y", "w")
    val drv = FixedEffects.fitWeighted(df, "y", Seq("x"), Seq("u", "t"), "w", tol = 1e-12)
    val dist = FixedEffects.fitWeighted(df, "y", Seq("x"), Seq("u", "t"), "w", tol = 1e-12,
      collectCellLimit = 0)
    // the frame regime too: the broadcast gate squeezed below the 6 t-groups
    spark.conf.set("spark.graft.fe.broadcastGroupLimit", "5")
    val frame = try FixedEffects.fitWeighted(df, "y", Seq("x"), Seq("u", "t"), "w", tol = 1e-12,
      collectCellLimit = 0) finally spark.conf.unset("spark.graft.fe.broadcastGroupLimit")
    for (m <- Seq(dist, frame)) {
      assert(math.abs(drv.coef(0) - m.coef(0)) < 1e-8, s"${drv.coef(0)} vs ${m.coef(0)}")
      assert(drv.n == m.n)
      // weighted cell gram served both (no fact re-read): ssr parity too
      assert(math.abs(drv.ols.ssr - m.ols.ssr) < 1e-6 * math.max(1.0, drv.ols.ssr))
    }
  }

  /** The path-graph panel of the CG-hybrid spec: unit u is observed at
    * times u and u+1, so the cell solver runs Halperin sweeps, then the
    * CG.
    */
  private def pathPanel = (for (u <- 0 until 50; t <- Seq(u, u + 1); rep <- 0 until 2) yield {
    val x = math.sin(u * 1.3 + t * 0.7 + rep) * 2
    (u, t, x, 2.0 * x + u.toDouble * 0.5 - t.toDouble * 0.3 + (rep - 0.5))
  }).toDF("u", "t", "x", "y")

  /** Jobs started while `body` runs. Sentinel jobs before and after
    * bracket the count, so events still queued from earlier work are
    * not counted and the count is complete when it is read.
    */
  private def countJobs[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var counting = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "__jobs_open" => counting = true
          case "__jobs_close" => counting = false; done.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(l)
    try {
      sentinel("__jobs_open")
      val a = body
      sentinel("__jobs_close")
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("cell-RDD regime: a fit is bit-reproducible and sweeps like the driver regime") {
    val df = pathPanel
    def run() = {
      val d = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"),
        maxSweeps = 120, tol = 1e-9, collectCellLimit = 0)
      val m = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"),
        maxSweeps = 120, tol = 1e-9, collectCellLimit = 0)
      (m.coef.toSeq.map(java.lang.Double.doubleToRawLongBits), m.sweeps, d.sweeps,
        d.cellGram.get.gram.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)),
        d.effects.get.map(_.collect().toSeq))
    }
    val a = run()
    val b = run()
    assert(a === b)
    val local = FixedEffects.demeanFull(df, Seq("y", "x"), Seq("u", "t"), maxSweeps = 120, tol = 1e-9)
    assert(a._3 === local.sweeps, "the cell-RDD regime runs the driver regime's solver")
  }

  test("cell-RDD regime: at most one Spark job per cell pass plus a setup constant; nothing left alive") {
    val df = pathPanel
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val lastBroadcast = (DriverBlocks.broadcastValues.keySet + -1L).max
    val (m, jobs) = countJobs(FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"),
      maxSweeps = 120, tol = 1e-9, collectCellLimit = 0))
    // passes: K = 2 per Halperin sweep (at most 10 before the CG bail),
    // one per CG iteration plus the warm-start matvec, and the setup
    // (mass, b) and Gram passes
    val halperin = math.min(m.sweeps, 10)
    val passes = 2 * halperin + (if (m.sweeps > halperin) m.sweeps - halperin + 1 else 0) + 2
    info(s"sweeps=${m.sweeps} jobs=$jobs pass bound=$passes")
    assert(jobs <= passes + 8, s"$jobs jobs for at most $passes cell passes")
    assert(sc.getPersistentRDDs.keySet === persisted, "the fit left persisted RDDs behind")
    // the fit's own broadcasts (the key index and the pass parameters)
    // still alive; an undestroyed one lingers until a GC hands it to the
    // context cleaner, so look at once. Destruction is asynchronous: at
    // most the index's and the last pass's removals may be in flight.
    def alive = DriverBlocks.broadcastValues.collect {
      case (id, _: Array[Array[Double]] | _: Array[java.util.Map[_, _]]) if id > lastBroadcast => id
    }.toSet
    val atReturn = alive
    assert(atReturn.size <= 2, s"the fit left broadcasts alive: $atReturn")
    eventually(timeout(Span(10, Seconds)))(assert(alive.isEmpty, s"broadcasts still alive: $alive"))
  }

  test("cell-RDD backend: one job per pass, and the driver receives O(groups) doubles per pass at any partition count") {
    // 20 units × 5 periods, complete: range blocks on u touch all five t groups
    val rows = for (u <- 0 until 20; t <- 0 until 5) yield {
      val x = math.sin(u * 0.7 + t * 1.9) * 2
      (u, t, x, 2.0 * x + u * 0.25 - t * 0.5 + math.cos(u * t + 0.3))
    }
    val cols = Seq("y", "x")
    val cells = FixedEffects.cellStats(rows.toDF("u", "t", "x", "y"), cols, Seq("u", "t"), lit(1.0))
      .persist()
    val local = new LocalCells(cells.collect(), 2, 2)
    val (effL, sweepsL) = FixedEffects.solveCells(local, 2, 500, 1e-12, accelerate = true)
    val gramL = local.gram(effL)
    for (parts <- Seq(3, 12, 40)) {
      val p = new RddCells(cells.repartition(parts).rdd, 2, 2)
      try {
        val (eff, sweeps) = FixedEffects.solveCells(p, 2, 500, 1e-12, accelerate = true)
        assert(sweeps === sweepsL)
        for (f <- 0 until 2; e <- local.index(f).entrySet().asScala; c <- 0 until 2) {
          val g = p.index(f).get(e.getKey).intValue
          assert(math.abs(eff(f)(g)(c) - effL(f)(e.getValue.intValue)(c)) < 1e-10)
        }
        val v = Array.fill(2)(Array.tabulate(25)(j => math.sin(j.toDouble)))
        val passes = Seq[() => Any](() => p.stepSums(0, eff), () => p.stepSums(1, eff),
          () => p.matvec(v, Array(true, false)), () => p.gram(eff))
        for (run <- passes) assert(countJobs(run())._2 === 1, s"$parts partitions")
        val gram = p.gram(eff)
        for (i <- 0 until 2; j <- 0 until 2) assert(math.abs(gram(i)(j) - gramL(i)(j)) < 1e-9)
      } finally p.release()

      // the reduce itself: every partition sends partials for all 20 + 5
      // groups, yet the driver receives one dense slice per id range —
      // (20 + 5) · stride doubles — summed in partition order
      val stride = 3
      val partials = spark.sparkContext.parallelize(0 until parts, parts).map { i =>
        (Array(Array.range(0, 20), Array.range(0, 5)),
          Array(Array.tabulate(20 * stride)(j => 1.0 / (i + j + 1)), Array.fill(5 * stride)(i + 0.5)))
      }
      val got = RddCells.keyedReduce(partials, Array(20, 5), stride, parts).collect()
      assert(got.map(_._2.map(_.length).sum).sum === (20 + 5) * stride, s"$parts partitions")
      val want = CellPasses.sumPartials(Array(20, 5), stride, partials.collect().toSeq)
      val span = Array(20, 5).map(n => math.max((n + parts - 1) / parts, 1))
      for ((r, dense) <- got; o <- 0 until 2; l <- dense(o).indices)
        assert(dense(o)(l) == want(o)(r * span(o) * stride + l), s"$parts partitions, bucket $r")
    }
    cells.unpersist()
  }

  test("FeModel HC1: dense sandwich with the absorbed-dof scale") {
    val rows = for (u <- 0 until 5; t <- 0 until 6) yield {
      val x = math.sin(u * 2.1 + t * 0.9) * 3
      // heteroskedastic noise: scale grows with |x|
      val e = ((u * 7 + t * 3) % 5 - 2).toDouble * 0.3 * (1.0 + math.abs(x))
      (u, t, x, 2.0 * x + u.toDouble - 0.5 * t + e)
    }
    val df = rows.toDF("u", "t", "x", "y")
    val m = FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), tol = 1e-12)
    val dm = m.demeaned.select(col("x__dm"), col("y__dm")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val b = m.coef(0)
    val gram = dm.map { case (x, _) => x * x }.sum
    val meat = dm.map { case (x, y) => math.pow((y - b * x) * x, 2) }.sum
    val n = rows.length
    val absorbed = 5 + 6 - 1
    val scale = n.toDouble / (n - 1 - absorbed)
    val expect = math.sqrt(scale * meat / (gram * gram))
    assert(math.abs(m.seHC1(0) - expect) <= 1e-9 * math.max(1.0, expect),
      s"${m.seHC1(0)} vs $expect")
  }

  test("panel IV homoskedastic sigma2 charges the absorbed FE dof (xtivreg,fe shape)") {
    // the factorial construction from the panel-IV test: the 2SLS
    // residual over the demeaned columns is exactly u (= ±1), so
    // SSR = n = 400 exactly and sigma2 is pinned in closed form
    val rows = for {
      rep <- 0 until 5; a <- 0 until 4; b <- 0 until 2; c <- 0 until 5; d <- 0 until 2
    } yield {
      val z = a.toDouble
      val u = if (b == 0) 1.0 else -1.0
      val x = z + u
      (10.0 * c + 5.0 * d + 2.0 * x + u, x, z, c.toLong, d.toLong, rep)
    }
    val df = rows.toDF("y", "x", "z", "g1", "g2", "rep")
    // one FE: n=400, k=1, absorbed = G1 = 5 → dof = 394. The residual
    // keeps the UNabsorbed d term: 5(d−½) + u, so SSR = 400·(6.25+1)
    // (the cross term vanishes by balance) = 2900 exactly
    val oneFe = Iv.fitWithFE(df, "y", Seq("x"), Seq("z"), fes = Seq("g1"))
    assert(math.abs(oneFe.model.sigma2 - 2900.0 / 394.0) < 1e-8,
      s"1-FE sigma2 ${oneFe.model.sigma2} vs ${2900.0 / 394.0}")
    // two FEs: absorbed = 5 + 2 − 1 = 6 → dof = 393
    val twoFe = Iv.fitWithFE(df, "y", Seq("x"), Seq("z"), fes = Seq("g1", "g2"))
    assert(math.abs(twoFe.model.sigma2 - 400.0 / 393.0) < 1e-8,
      s"2-FE sigma2 ${twoFe.model.sigma2} vs ${400.0 / 393.0}")
    // se follows sigma2 through the bread: variance = sigma2 · bread
    val se = oneFe.se
    assert(math.abs(se(0) - math.sqrt(oneFe.model.sigma2 * oneFe.model.bread(0)(0))) < 1e-12)
  }

  test("fittedCol: exact on a noiseless design, fitted + residual == y, scores held-out rows") {
    import org.apache.spark.sql.functions._
    // y = 3 + 2a - b exactly
    val train = Seq(
      (1.0, 1.0, 4.0), (2.0, 1.0, 6.0), (3.0, 2.0, 7.0), (4.0, 5.0, 6.0), (5.0, 2.0, 11.0)
    ).toDF("a", "b", "y")
    val m = Ols.fit(train, "y", Seq("a", "b"))
    val scored = train
      .withColumn("fit", Ols.fittedCol(m))
      .withColumn("res", Ols.residualCol(m, "y"))
      .select("y", "fit", "res").as[(Double, Double, Double)].collect()
    scored.foreach { case (y, f, r) =>
      assert(math.abs(f - y) < 1e-9, s"noiseless fit off: $f vs $y")
      assert(math.abs(f + r - y) < 1e-12)
    }
    // held-out scoring: new rows never seen by the fit
    val heldOut = Seq((10.0, 3.0), (0.0, 0.0)).toDF("a", "b")
    val preds = heldOut.withColumn("fit", Ols.fittedCol(m))
      .select("fit").as[Double].collect()
    assert(math.abs(preds(0) - (3 + 2 * 10.0 - 3.0)) < 1e-9)
    assert(math.abs(preds(1) - 3.0) < 1e-9)
  }

  test("Collinearity.vif: planted near-duplicate pair inflates; independent column near 1") {
    def g(i: Int, s: Double) = ((i * s) % 1.0) - 0.5
    val rows = (1 to 5000).map { i =>
      val x1 = g(i, 0.6180339887498949)
      val x2 = x1 + 0.01 * g(i, 0.7548776662466927) // near-copy of x1
      val x3 = g(i, 0.5545497)                      // independent
      (x1, x2, x3)
    }
    val out = Collinearity.vif(rows.toDF("x1", "x2", "x3"), Seq("x1", "x2", "x3"))
      .collect().map(r => r.getAs[String]("covariate") -> r).toMap
    assert(out("x1").getAs[Double]("vif") > 100.0)
    assert(out("x2").getAs[Double]("vif") > 100.0)
    assert(out("x3").getAs[Double]("vif") < 1.5)
    assert(out("x3").getAs[Double]("r2_others") < 0.1)
    // constant column: null VIF, others still reported
    val rows2 = (1 to 100).map(i => (g(i, 0.61), g(i, 0.55), 7.0))
    val out2 = Collinearity.vif(rows2.toDF("a", "b", "c"), Seq("a", "b", "c"))
      .collect().map(r => r.getAs[String]("covariate") -> r).toMap
    assert(out2("c").isNullAt(out2("c").fieldIndex("vif")))
    assert(!out2("a").isNullAt(out2("a").fieldIndex("vif")))
  }
}
