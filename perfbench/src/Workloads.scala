package org.apache.spark.sql.graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{ConnectedComponents, Exact, MinHashLsh, Survivors}
import graft.graph.{Bfs, Hits, KCore, LabelProp, PageRank}
import graft.ml.{Collinearity, FixedEffects, Glm, Ols}
import graft.ops.{Dummies, Grouped, Lags}
import graft.sim.{AnnIvf, HashEmbed}
import graft.text.TextStats

import Check.num

/** The verdict of an operation's output check, plus the solver counts
  * the operation reported (sweeps, IRLS iterations, graph iterations,
  * candidate pairs), which feed the per-layer metrics.
  */
final case class Check(ok: Boolean, detail: String, counts: Map[String, Double] = Map.empty)

object Check {
  /** A numeric observed value, whatever integral or floating type it has. */
  def num(r: Row, i: Int): Double = r.get(i).asInstanceOf[Number].doubleValue

  def all(parts: (Boolean, String)*): Check = {
    val bad = parts.collect { case (false, why) => why }
    Check(bad.isEmpty, bad.mkString("; "))
  }
}

/** One operation of a workload. `body` does the timed work and returns
  * the (untimed) check of its outputs. `iterative` marks the loops whose
  * iteration count is known from outside; their jobs and compiles make
  * up the per-iteration ratios. `samples` is how often a measurement
  * round times it.
  */
final case class Op(name: String, rows: Long, iterative: Boolean, body: Ctx => () => Check, samples: Int = 1)

object Op {
  /** Samples of a short operation, whose latency one scheduler stall
    * moves most; a longer one averages its stalls and is timed once.
    * Short are the operations of a few hundred ms, and on graph_iter and
    * dedup_pipeline also those of about a second; panel_fe's one-second
    * fits are timed once, as its run is already the longest.
    */
  val ShortSamples = 3
  def samples(short: Boolean): Int = if (short) ShortSamples else 1
}

/** Per-operation context: spans around module calls and the timed
  * actions. Every action computes every output column — a `noop` write
  * or a driver-side result, never `count()` — and each write's plan is
  * checked afterwards by the materialisation guard.
  */
final class Ctx(val opIndex: Int, traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  /** Schemas of the frames this operation wrote, for the guard. */
  val writes = mutable.ArrayBuffer[Seq[String]]()

  def span[A](layer: String, name: String)(f: => A): A =
    if (!traced) f
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, opIndex, layer, name, System.nanoTime, 0L)
      stack.push(id)
      try f
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endNs = System.nanoTime)
      }
    }

  /** Full materialisation through the `noop` sink; returns the observed
    * aggregates, which are computed in the same pass.
    */
  def noop(df: DataFrame, checks: Column*): Row = {
    val ob = Observation()
    val named = checks.zipWithIndex.map { case (c, i) => c.as(s"check$i") }
    val d = if (checks.isEmpty) df else df.observe(ob, named.head, named.tail: _*)
    writes += df.schema.fieldNames.toSeq
    span("sql", "action.noop_write") { d.write.format("noop").mode("overwrite").save() }
    if (checks.isEmpty) Row.empty else Row.fromSeq(checks.indices.map(i => ob.get(s"check$i")))
  }

  def collect(df: DataFrame): Array[Row] = span("sql", "action.collect") { df.collect() }

  def parquet(df: DataFrame, path: String): Unit = {
    writes += df.schema.fieldNames.toSeq
    span("sources", "sources.write") { df.write.mode("overwrite").parquet(path) }
  }
}

/** Small dense linear algebra for the reference fits. */
object Ref {
  def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(a(r)(c)))
      val tr = a(c); a(c) = a(p); a(p) = tr
      val tb = b(c); b(c) = b(p); b(p) = tb
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (j <- c until n) a(r)(j) -= f * a(c)(j)
        b(r) -= f * b(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = b(r)
      for (j <- r + 1 until n) s -= a(r)(j) * x(j)
      x(r) = s / a(r)(r)
    }
    x
  }

  /** Least squares of y on the columns of x (row-major design). */
  def ls(x: Array[Array[Double]], y: Array[Double], w: Array[Double] = null): Array[Double] = {
    val k = x.head.length
    val g = Array.ofDim[Double](k, k); val c = new Array[Double](k)
    for (i <- y.indices) {
      val wi = if (w == null) 1.0 else w(i)
      for (a <- 0 until k) {
        c(a) += wi * x(i)(a) * y(i)
        for (b <- 0 until k) g(a)(b) += wi * x(i)(a) * x(i)(b)
      }
    }
    solve(g, c)
  }

  /** Maximum-likelihood fit of a canonical-link GLM by Newton–IRLS. */
  def irls(x: Array[Array[Double]], y: Array[Double], logit: Boolean): Array[Double] = {
    var beta = new Array[Double](x.head.length)
    var it = 0; var delta = 1.0
    while (it < 50 && delta > 1e-13) {
      val eta = x.map(r => r.indices.map(j => r(j) * beta(j)).sum)
      val mu = eta.map(e => if (logit) 1.0 / (1.0 + math.exp(-e)) else math.exp(e))
      val w = mu.map(m => if (logit) m * (1 - m) else m)
      val z = y.indices.map(i => eta(i) + (y(i) - mu(i)) / w(i)).toArray
      val next = ls(x, z, w)
      delta = next.indices.map(j => math.abs(next(j) - beta(j))).max
      beta = next; it += 1
    }
    beta
  }

  def close(a: Seq[Double], b: Seq[Double], tol: Double): Boolean =
    a.length == b.length && a.zip(b).forall { case (u, v) => math.abs(u - v) <= tol * (1.0 + math.abs(v)) }

  def fmt(a: Seq[Double]): String = a.map(v => f"$v%.6g").mkString("[", ",", "]")
}

/** A workload: seeded inputs, their parquet copies, and the operation
  * cycle the closed loop repeats.
  */
trait Workload {
  def name: String
  /** Generates the inputs for `seed` and returns their digest. */
  def digest(seed: Long): String
  /** Generates and writes the inputs under `dir`; returns the op cycle. */
  def setup(spark: SparkSession, seed: Long, dir: String): Seq[Op]
}

object Workload {
  val all: Seq[Workload] = Seq(PanelFe, GraphIter, DedupPipeline)
  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): DataFrame = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}

// ---- panel_fe -------------------------------------------------------------------

object PanelFe extends Workload {
  val name = "panel_fe"

  /** Three panels per run: 3% movers with k = 2 (a weakly connected
    * worker–firm graph, many sweeps), all movers with k = 5 (a well
    * connected one, few sweeps) and a small all-movers panel with k = 2.
    * The second runs the whole surface; the first runs the two-way fit,
    * whose cost follows connectivity. The distributed two-way regime runs
    * on the third only, beside its driver-cell twin: each of its sweeps is
    * a round of cluster jobs, and a larger panel or the first panel's
    * sweep count would make it dominate the cycle.
    */
  private def panels(seed: Long): Seq[Panel] = Seq(
    Panel.generate(seed * 31 + 1, "stayers_k2", moverShare = 0.03, k = 2, workers = 2000, firms = 200),
    Panel.generate(seed * 31 + 2, "movers_k5", moverShare = 1.0, k = 5, workers = 2000, firms = 200),
    Panel.generate(seed * 31 + 3, "regime_k2", moverShare = 1.0, k = 2, workers = 400, firms = 20))

  def digest(seed: Long): String = {
    val d = new Digest; panels(seed).foreach(Panel.digest(_, d)); d.hex
  }

  def setup(spark: SparkSession, seed: Long, dir: String): Seq[Op] =
    panels(seed).flatMap { p =>
      val keep = Selection(p.name)
      ops(p, frame(spark, p, s"$dir/${p.name}")).filter(o => keep(o.name.stripPrefix(s"${p.name}.")))
    }

  private def frame(spark: SparkSession, p: Panel, path: String): DataFrame = {
    val schema = StructType(
      Seq("worker", "firm", "year").map(StructField(_, IntegerType)) ++
        (p.xNames :+ "x_dup").map(StructField(_, DoubleType)) ++
        Seq("y", "yb", "cnt").map(StructField(_, DoubleType)))
    val rows = (0 until p.n).map { i =>
      Row.fromSeq(Seq(p.worker(i), p.firm(i), p.year(i)) ++ p.x.map(_(i)) ++
        Seq(p.xDup(i), p.y(i), p.yb(i), p.cnt(i)))
    }
    Workload.write(spark, rows, schema, path)
  }

  /** PPML's stopping rule on the relative deviance change. At the default
    * 1e-8 the Newton steps land either side of it, so the fit takes four
    * IRLS iterations on some seeds and five on others; at 1e-12 every
    * seed stops after the step that reaches rounding level.
    */
  private val PpmlTol = 1e-12

  private val Selection: Map[String, String => Boolean] = Map(
    "stayers_k2" -> Set("fe_twoway_cell"),
    "movers_k5" -> (_ != "fe_twoway_dist"),
    "regime_k2" -> Set("fe_twoway_cell", "fe_twoway_dist"))

  private def ops(p: Panel, df: DataFrame): Seq[Op] = {
    val n = p.n.toLong
    val xs = p.xNames
    val design = (0 until p.n).map(i => p.x.map(_(i))).toArray
    lazy val olsRef = Ref.ls(design.map(1.0 +: _), p.y)
    lazy val oneWayRef = {
      // within-worker demeaning, then least squares on the demeaned columns
      val byW = (0 until p.n).groupBy(p.worker(_))
      val xd = design.map(_.clone()); val yd = p.y.clone()
      byW.values.foreach { is =>
        val my = is.map(p.y(_)).sum / is.length
        is.foreach(i => yd(i) -= my)
        for (l <- 0 until p.k) {
          val m = is.map(design(_)(l)).sum / is.length
          is.foreach(i => xd(i)(l) -= m)
        }
      }
      Ref.ls(xd, yd)
    }
    lazy val logitRef = Ref.irls(design.map(1.0 +: _), p.yb, logit = true)
    lazy val poissonRef = Ref.irls(design.map(1.0 +: _), p.cnt, logit = false)
    var cellCoef: Option[Array[Double]] = None
    def op(name: String, iterative: Boolean = false, short: Boolean = false)(body: Ctx => () => Check) =
      Op(s"${p.name}.$name", n, iterative, body, Op.samples(short))

    Seq(
      op("grouped_aggregate", short = true) { c =>
        val rows = c.span("ops", "ops.grouped") {
          c.collect(Grouped.aggregate(df, Seq("firm"), Seq(count(lit(1)).as("n"), sum(col("y")).as("sy"))))
        }
        () => {
          val ref = (0 until p.n).groupBy(p.firm(_)).map { case (f, is) => f -> (is.length.toLong, is.map(p.y(_)).sum) }
          Check.all(
            (rows.length == ref.size, s"groups ${rows.length} != ${ref.size}"),
            (rows.forall { r =>
              val (cnt, sy) = ref(r.getInt(0))
              r.getLong(1) == cnt && math.abs(r.getDouble(2) - sy) <= 1e-9 * (1 + math.abs(sy))
            }, "group counts or sums differ from the generated panel"))
        }
      },
      op("grouped_transform", short = true) { c =>
        val r = c.span("ops", "ops.grouped") {
          c.noop(Grouped.transform(df, Seq("worker"), Seq(avg(col("y")).as("y_wmean"))),
            count(lit(1)), sum(col("y_wmean")))
        }
        () => {
          val sy = p.y.sum; val scale = p.y.map(math.abs).sum
          Check.all((r.getLong(0) == n, s"rows ${r.getLong(0)} != $n"),
            (math.abs(r.getDouble(1) - sy) <= 1e-9 * scale, "sum of group means != sum of y"))
        }
      },
      op("dummies", short = true) { c =>
        val (dummyCols, r) = c.span("ops", "ops.dummies") {
          val d = Dummies.oneHot(df, "year")
          val cols = d.columns.filter(_.startsWith("year_"))
          val total = cols.map(col).reduce(_ + _)
          (cols, c.noop(d, count(lit(1)), min(total), max(total)))
        }
        () => Check.all((dummyCols.length == Panel.Years, s"${dummyCols.length} dummy columns"),
          (r.getLong(0) == n && num(r, 1) == 1 && num(r, 2) == 1, s"dummy rows do not sum to one: $r"))
      },
      op("lags", short = true) { c =>
        val r = c.span("ops", "ops.lags") {
          c.noop(Lags.makeLags(df, Seq("worker"), Seq("year"), Seq("y"), 1, 0, fillZeros = true),
            count(lit(1)), sum(col("y_lag_1")), sum(col("y_lag_1_mi")))
        }
        () => {
          val ref = (0 until p.n).filter(p.year(_) < 2000 + Panel.Years - 1).map(p.y(_)).sum
          Check.all((r.getLong(0) == n, "row count"),
            (math.abs(r.getDouble(1) - ref) <= 1e-9 * p.y.map(math.abs).sum, "lagged sum"),
            (num(r, 2) == p.workers.toDouble, s"missing-lag flags ${r.getDouble(2)} != ${p.workers}"))
        }
      },
      op("collinearity", short = true) { c =>
        val all = xs :+ "x_dup"
        val (dropped, kept) = c.span("ml", "ml.collinearity") {
          val (dropped, _) = Collinearity.findCollinear(df, all)
          val kept = Collinearity.removeCollinear(df, all)
          c.noop(kept)
          (dropped, kept)
        }
        () => Check.all((dropped == Seq("x_dup"), s"dropped $dropped, expected x_dup"),
          (!kept.columns.contains("x_dup"), "x_dup survived removeCollinear"))
      },
      op("ols", short = true) { c =>
        val m = c.span("ml", "ml.ols_fit") { Ols.fit(df, "y", xs) }
        () => Check(Ref.close(m.coef.toSeq, olsRef.toSeq, 1e-7),
          s"ols ${Ref.fmt(m.coef.toSeq)} != reference ${Ref.fmt(olsRef.toSeq)}")
      },
      op("fe_oneway") { c =>
        val m = c.span("ml", "ml.fe_fit") { FixedEffects.fit(df, "y", xs, Seq("worker"), keep = Seq("firm")) }
        val eff = c.span("ml", "ml.fe_effects") { c.collect(m.effects) }
        val r = c.span("ml", "ml.fe_residuals") {
          c.noop(m.withResiduals("resid"), count(lit(1)), sum(col("resid")))
        }
        val se = c.span("ml", "ml.fe_se") { m.seClustered("firm") }
        () => {
          val ref = (0 until p.n).groupBy(p.worker(_)).map { case (w, is) =>
            w -> is.map(i => p.y(i) - xs.indices.map(l => m.coef(l) * p.x(l)(i)).sum).sum / is.length
          }
          val c0 = Check.all(
            (Ref.close(m.coef.toSeq, oneWayRef.toSeq, 1e-7),
              s"one-way ${Ref.fmt(m.coef.toSeq)} != reference ${Ref.fmt(oneWayRef.toSeq)}"),
            (eff.length == p.workers && eff.forall(e => math.abs(e.getDouble(1) - ref(e.getInt(0))) <= 1e-7),
              "effects differ from group means of y - xb"),
            (r.getLong(0) == n && math.abs(r.getDouble(1)) <= 1e-6 * n, s"residuals $r"),
            (se.length == p.k && se.forall(s => s > 0 && !s.isNaN && !s.isInfinite), s"clustered se ${se.toSeq}"))
          c0.copy(counts = Map("fe_sweeps" -> m.sweeps.toDouble))
        }
      },
      op("fe_twoway_cell", iterative = true, short = true) { c =>
        val m = c.span("ml", "ml.fe_fit") { FixedEffects.fit(df, "y", xs, Seq("worker", "firm")) }
        cellCoef = Some(m.coef)
        () => Check(Ref.close(m.coef.toSeq, p.beta.toSeq, 0.1),
          s"two-way ${Ref.fmt(m.coef.toSeq)} not within 0.1 of planted ${Ref.fmt(p.beta.toSeq)}",
          Map("fe_sweeps" -> m.sweeps.toDouble))
      },
      op("fe_twoway_dist", iterative = true) { c =>
        val m = c.span("ml", "ml.fe_fit") {
          FixedEffects.fit(df, "y", xs, Seq("worker", "firm"), collectCellLimit = 0L)
        }
        () => Check(cellCoef.exists(cc => cc.indices.forall(i => math.abs(cc(i) - m.coef(i)) <= 1e-8)),
          s"distributed ${Ref.fmt(m.coef.toSeq)} != driver-cell ${cellCoef.map(a => Ref.fmt(a.toSeq))}",
          Map("fe_sweeps" -> m.sweeps.toDouble))
      },
      op("glm_logit", iterative = true) { c =>
        val m = c.span("ml", "ml.glm_fit") { Glm.logistic(df, "yb", xs) }
        () => Check(Ref.close(m.coef.toSeq, logitRef.toSeq, 1e-6) && m.converged,
          s"logit ${Ref.fmt(m.coef.toSeq)} != reference ${Ref.fmt(logitRef.toSeq)}",
          Map("glm_iters" -> m.iters.toDouble))
      },
      op("glm_poisson", iterative = true) { c =>
        val m = c.span("ml", "ml.glm_fit") { Glm.poisson(df, "cnt", xs) }
        () => Check(Ref.close(m.coef.toSeq, poissonRef.toSeq, 1e-6) && m.converged,
          s"poisson ${Ref.fmt(m.coef.toSeq)} != reference ${Ref.fmt(poissonRef.toSeq)}",
          Map("glm_iters" -> m.iters.toDouble))
      },
      op("fe_poisson", iterative = true) { c =>
        val m = c.span("ml", "ml.glm_fit") { Glm.poissonFE(df, "cnt", xs, Seq("firm"), tol = PpmlTol) }
        () => Check(Ref.close(m.coef.toSeq, p.poissonCoef.toSeq, 0.05) && m.converged,
          s"PPML ${Ref.fmt(m.coef.toSeq)} not within 0.05 of planted ${Ref.fmt(p.poissonCoef.toSeq)}",
          Map("glm_iters" -> m.iters.toDouble))
      }
    )
  }
}

// ---- graph_iter -------------------------------------------------------------------

object GraphIter extends Workload {
  val name = "graph_iter"
  private val PrIters = 4
  private val HitsIters = 3
  private val LpIters = 3
  private val BfsHops = 6
  // every generated node but the path's has degree >= 2, so the 2-core
  // peels only the path, from both ends: its round count is fixed
  private val CoreK = 2

  def digest(seed: Long): String = { val d = new Digest; Graph.digest(Graph.generate(seed), d); d.hex }

  def setup(spark: SparkSession, seed: Long, dir: String): Seq[Op] = {
    val g = Graph.generate(seed)
    val edges = Workload.write(spark, g.src.indices.map(i => Row(g.src(i), g.dst(i))),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))), s"$dir/edges")
    // BFS starts at the path's head, which keeps the frontier non-empty for
    // all BfsHops rounds, and at a node of component 0
    val hub = g.compOf.filter(_._2 == 0).keys.max
    val seedNodes = Seq(g.pathStart, hub)
    val seeds = Workload.write(spark, seedNodes.map(v => Row(v, 1.0)),
      StructType(Seq(StructField("node", LongType), StructField("weight", DoubleType))), s"$dir/seeds")
    val rows = g.src.length.toLong
    val reached = Graph.bfs(g, seedNodes, BfsHops)
    val core = Graph.kcore(g, CoreK)
    def op(name: String, iterative: Boolean = true, short: Boolean = false)(body: Ctx => () => Check) =
      Op(name, rows, iterative, body, Op.samples(short))
    def unit(v: Double, what: String) = (math.abs(v - 1.0) <= 1e-6, s"$what = $v, expected 1")

    Seq(
      op("pagerank") { c =>
        val r = c.span("graph", "graph.pagerank") {
          c.noop(PageRank.run(edges, iters = PrIters), count(lit(1)), sum(col("rank")))
        }
        () => Check.all((r.getLong(0) == g.nodes, s"ranked ${r.getLong(0)} of ${g.nodes} nodes"),
          unit(r.getDouble(1), "PageRank mass")).copy(counts = Map("graph_iters" -> PrIters))
      },
      op("ppr") { c =>
        val r = c.span("graph", "graph.ppr") {
          c.noop(PageRank.personalized(edges, seeds, iters = PrIters), sum(col("rank")))
        }
        () => Check.all(unit(r.getDouble(0), "personalized PageRank mass"))
          .copy(counts = Map("graph_iters" -> PrIters))
      },
      op("hits") { c =>
        val r = c.span("graph", "graph.hits") {
          c.noop(Hits.run(edges, iters = HitsIters),
            count(lit(1)), sum(col("hub") * col("hub")), sum(col("auth") * col("auth")))
        }
        () => Check.all((r.getLong(0) == g.nodes, s"scored ${r.getLong(0)} nodes"),
          unit(r.getDouble(1), "sum of hub^2"), unit(r.getDouble(2), "sum of auth^2"))
          .copy(counts = Map("graph_iters" -> HitsIters))
      },
      op("kcore", iterative = false) { c =>
        val r = c.span("graph", "graph.kcore") {
          c.noop(KCore.core(edges, CoreK, maxRounds = 40), count(lit(1)), min(col("degree")))
        }
        () => Check.all((r.getLong(0) == core.size, s"$CoreK-core has ${r.getLong(0)} nodes, reference ${core.size}"),
          (core.isEmpty || num(r, 1) >= CoreK, s"min core degree ${r.get(1)}"))
      },
      op("bfs") { c =>
        val r = c.span("graph", "graph.bfs") {
          c.noop(Bfs.hopDistance(edges, seeds, maxHops = BfsHops), count(lit(1)), max(col("dist")))
        }
        () => Check.all((r.getLong(0) == reached.size, s"reached ${r.getLong(0)}, reference ${reached.size}"),
          (num(r, 1) == BfsHops, s"max hop ${r.get(1)}, planted $BfsHops along the path"))
          .copy(counts = Map("graph_iters" -> BfsHops))
      },
      op("labelprop", short = true) { c =>
        val rows = c.span("graph", "graph.labelprop") { c.collect(LabelProp.run(edges, iters = LpIters)) }
        () => {
          val spans = rows.groupBy(_.get(1).toString).values.map(_.map(r => g.compOf(r.get(0).toString.toLong)).toSet)
          Check.all((rows.length == g.nodes, s"labelled ${rows.length} of ${g.nodes}"),
            (spans.forall(_.size == 1), "a label spans two planted components"))
            .copy(counts = Map("graph_iters" -> LpIters))
        }
      },
      op("components", iterative = false) { c =>
        val rows = c.span("dedup", "dedup.cc") { c.collect(ConnectedComponents.components(edges, "src", "dst")) }
        () => {
          val comps = rows.groupBy(_.get(1).toString).values.map(_.map(r => g.compOf(r.get(0).toString.toLong)).toSet)
          Check.all((rows.length == g.nodes, s"${rows.length} nodes in components"),
            (comps.size == g.components && comps.forall(_.size == 1),
              s"${comps.size} components, planted ${g.components}"))
        }
      }
    )
  }
}

// ---- dedup_pipeline -------------------------------------------------------------------

object DedupPipeline extends Workload {
  val name = "dedup_pipeline"
  private val AnnQueries = 40

  def digest(seed: Long): String = { val d = new Digest; Corpus.digest(Corpus.generate(seed), d); d.hex }

  def setup(spark: SparkSession, seed: Long, dir: String): Seq[Op] = {
    val corpus = Corpus.generate(seed)
    val docs = Workload.write(spark, corpus.id.indices.map(i => Row(corpus.id(i), corpus.text(i))),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))), s"$dir/docs")
    val n = corpus.n.toLong
    val pairSchema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    // the near-duplicate pairs of the latest minhash op, fed to the ops downstream of it
    var pairs: Seq[(Long, Long)] = Nil
    def pairFrame = spark.createDataFrame(java.util.Arrays.asList(pairs.map { case (a, b) => Row(a, b) }: _*), pairSchema)
    def clusters(ps: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = mutable.Map[Long, Long]()
      def find(v: Long): Long = { val p = parent.getOrElse(v, v); if (p == v) v else { val r = find(p); parent(v) = r; r } }
      ps.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      ps.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> find(v)).toMap
    }
    // the ANN index is searched over a stored embedding table, as a
    // serving system would hold it; building it is part of set-up
    val embeddings = {
      val path = s"$dir/embeddings"
      HashEmbed.embedF(docs, "text", "doc_id").write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val queries = corpus.nearPairs.toSeq.sorted.take(AnnQueries)
    val out = s"$dir/survivors"
    def op(name: String, short: Boolean = false)(body: Ctx => () => Check) =
      Op(name, n, iterative = false, body, Op.samples(short))

    Seq(
      op("exact_dedup", short = true) { c =>
        val r = c.span("dedup", "dedup.exact") { c.noop(Exact.dedup(docs, "text", "doc_id"), count(lit(1))) }
        () => Check(r.getLong(0) == n - corpus.exactCopies,
          s"${r.getLong(0)} distinct docs, planted ${n - corpus.exactCopies}")
      },
      op("minhash") { c =>
        val rows = c.span("dedup", "dedup.minhash") {
          c.collect(MinHashLsh.nearDuplicates(docs, "text", "doc_id", threshold = 0.5))
        }
        () => {
          pairs = rows.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSeq
          val found = pairs.toSet
          val hits = corpus.nearPairs.count(found)
          val recall = hits.toDouble / corpus.nearPairs.size
          Check(recall >= 0.9, f"recall of planted near-duplicate pairs $recall%.3f < 0.9",
            Map("candidate_pairs" -> pairs.size.toDouble, "true_pairs" -> hits.toDouble))
        }
      },
      op("components", short = true) { c =>
        val in = pairFrame
        val rows = c.span("dedup", "dedup.cc") { c.collect(ConnectedComponents.components(in, "id_a", "id_b")) }
        () => {
          val ref = clusters(pairs)
          val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
          val same = got.keySet == ref.keySet &&
            got.groupBy(_._2).values.map(_.keySet).toSet == ref.groupBy(_._2).values.map(_.keySet).toSet
          Check(same, s"components over ${pairs.size} pairs differ from union-find")
        }
      },
      op("text_quality", short = true) { c =>
        val r = c.span("text", "text.stats") {
          c.noop(TextStats.withQuality(docs, "text"), count(lit(1)), min(col("quality")), max(col("quality")))
        }
        () => Check(r.getLong(0) == n && r.getDouble(1) >= 0.0 && r.getDouble(2) <= 1.0, s"quality stats $r")
      },
      op("tokenize", short = true) { c =>
        val r = c.span("text", "text.tokenize") {
          c.noop(TextStats.withTokenStats(docs, "text"), sum(col("n_tokens")))
        }
        () => Check(num(r, 0) == corpus.tokens, s"${num(r, 0)} tokens, planted ${corpus.tokens}")
      },
      op("embed", short = true) { c =>
        val nrm = sqrt(aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x))
        val r = c.span("sim", "sim.embed") {
          c.noop(HashEmbed.embed(docs, "text", "doc_id"), count(lit(1)), max(abs(nrm - 1.0)))
        }
        () => Check(r.getLong(0) == n && r.getDouble(1) <= 1e-9, s"embedding rows/norm $r")
      },
      op("ann") { c =>
        val qids = queries.map(_._1)
        val rows = c.span("sim", "sim.ann") {
          c.collect(AnnIvf.topK(embeddings.where(col("doc_id").isin(qids: _*)), embeddings, "doc_id", "embedding", k = 5))
        }
        () => {
          val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
          val recall = queries.count(got).toDouble / queries.size
          Check(recall >= 0.7, f"top-5 recall of planted partners $recall%.3f < 0.7")
        }
      },
      op("survivors_write") { c =>
        val in = pairFrame
        val best = c.span("dedup", "dedup.survivors") {
          val comps = ConnectedComponents.components(in, "id_a", "id_b")
          val withComp = docs.select(col("doc_id"))
            .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
          val scored = TextStats.withQuality(docs, "text").select(col("doc_id"), col("quality"))
          Survivors.keepBest(withComp, scored, "doc_id", "component", "quality")
        }
        c.parquet(best, out)
        () => {
          val ref = clusters(pairs)
          val expected = n - ref.size + ref.values.toSet.size
          val got = spark.read.parquet(out).count()
          Check(got == expected, s"$got survivors written, expected $expected")
        }
      }
    )
  }
}
