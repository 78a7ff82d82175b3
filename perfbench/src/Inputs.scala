package org.apache.spark.sql.graftbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable

/** Seeded input generators with planted ground truth. Everything here is
  * plain driver-side data: the benchmark writes it to parquet during
  * set-up and the operations only ever see the parquet copies.
  */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def uniform(): Double = r.nextDouble()
  def int(n: Int): Int = r.nextInt(n)
  // Box–Muller, so the stream does not depend on the JDK's gaussian method
  def gauss(): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }
  def poisson(mean: Double): Int = {
    val l = math.exp(-mean); var k = 0; var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }
}

/** Folds typed values into one SHA-256, so equal inputs give equal hex. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = ByteBuffer.allocate(8)
  def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
  def double(v: Double): Unit = long(java.lang.Double.doubleToLongBits(v))
  def string(s: String): Unit = { val b = s.getBytes("UTF-8"); long(b.length); md.update(b) }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

// ---- panel_fe ---------------------------------------------------------------

/** A worker–firm–year panel. `moverShare` of the workers change firm every
  * year, the rest never move, so it sets how well the worker–firm graph
  * is connected and with it how many sweeps the two-way solver needs.
  * y = x·beta + alpha(worker) + psi(firm) + e, with x correlated with both
  * effects, so pooled OLS and one-way FE are biased and two-way FE is not.
  * Who works where comes from a stream fixed per panel name, so a panel's
  * worker–firm graph, and with it the solver's sweep count, is the same
  * for every seed; the seed draws the effects, regressors and noise.
  */
final case class Panel(
    name: String,
    moverShare: Double,
    k: Int,
    worker: Array[Int],
    firm: Array[Int],
    year: Array[Int],
    x: Array[Array[Double]], // x(l)(row)
    y: Array[Double],
    yb: Array[Double],       // logistic outcome on x
    cnt: Array[Double],      // Poisson outcome on x plus a firm effect
    beta: Array[Double],
    logitCoef: Array[Double],  // intercept first
    poissonCoef: Array[Double] // slopes only (the firm effect is absorbed)
) {
  def n: Int = y.length
  def xNames: Seq[String] = (1 to k).map(l => s"x$l")
  /** x1 + x2: an exactly collinear column the rank check must drop. */
  def xDup(i: Int): Double = x(0)(i) + x(1)(i)
  def workers: Int = worker.max + 1
}

object Panel {
  val Years = 5

  def generate(seed: Long, name: String, moverShare: Double, k: Int, workers: Int, firms: Int): Panel = {
    val rng = new Rng(seed)
    val graph = new Rng(name.hashCode.toLong)
    val alpha = Array.fill(workers)(rng.gauss())
    val psi = Array.fill(firms)(rng.gauss())
    val beta = Array.tabulate(k)(l => if (l % 2 == 0) 1.0 - 0.2 * l else -0.5 + 0.1 * l)
    val logitCoef = 0.2 +: Array.tabulate(k)(l => 0.4 * beta(l))
    val poissonCoef = Array.tabulate(k)(l => 0.15 * beta(l))
    val n = workers * Years
    val worker = new Array[Int](n); val firm = new Array[Int](n); val year = new Array[Int](n)
    val x = Array.fill(k)(new Array[Double](n))
    val y = new Array[Double](n); val yb = new Array[Double](n); val cnt = new Array[Double](n)
    var i = 0
    for (w <- 0 until workers) {
      val mover = graph.uniform() < moverShare
      var f = graph.int(firms)
      for (t <- 0 until Years) {
        if (mover && t > 0) f = (f + 1 + graph.int(firms - 1)) % firms
        worker(i) = w; firm(i) = f; year(i) = 2000 + t
        var xb = 0.0; var lin = logitCoef(0); var plin = 0.2 + 0.3 * psi(f)
        for (l <- 0 until k) {
          val v = rng.gauss() + 0.5 * alpha(w) + 0.3 * psi(f)
          x(l)(i) = v
          xb += beta(l) * v; lin += logitCoef(l + 1) * v; plin += poissonCoef(l) * v
        }
        y(i) = xb + alpha(w) + psi(f) + rng.gauss()
        yb(i) = if (rng.uniform() < 1.0 / (1.0 + math.exp(-lin))) 1.0 else 0.0
        cnt(i) = rng.poisson(math.exp(plin)).toDouble
        i += 1
      }
    }
    Panel(name, moverShare, k, worker, firm, year, x, y, yb, cnt, beta, logitCoef, poissonCoef)
  }

  def digest(p: Panel, d: Digest): Unit = {
    d.string(p.name)
    for (i <- 0 until p.n) {
      d.long(p.worker(i)); d.long(p.firm(i)); d.long(p.year(i))
      p.x.foreach(c => d.double(c(i)))
      d.double(p.y(i)); d.double(p.yb(i)); d.double(p.cnt(i))
    }
  }
}

// ---- graph_iter ---------------------------------------------------------------

/** A directed edge list made of `Components` preferential-attachment
  * components (power-law degrees, every new node links to two older
  * ones) plus one directed path of `Diameter` hops. The component count
  * and the path's length are the planted truth.
  */
final case class Graph(src: Array[Long], dst: Array[Long], compOf: Map[Long, Int], pathStart: Long) {
  def nodes: Int = compOf.size
  def components: Int = compOf.values.toSet.size
}

object Graph {
  val Components = 4
  val ComponentSize = 500
  val Diameter = 8

  def generate(seed: Long): Graph = {
    val rng = new Rng(seed)
    val src = mutable.ArrayBuffer[Long](); val dst = mutable.ArrayBuffer[Long]()
    val compOf = mutable.LinkedHashMap[Long, Int]()
    var next = 0L
    for (c <- 0 until Components) {
      val base = next
      // endpoint list: sampling uniformly from it is degree-proportional
      val ends = mutable.ArrayBuffer[Long](base, base + 1)
      src += base + 1; dst += base
      compOf(base) = c; compOf(base + 1) = c
      for (v <- base + 2 until base + ComponentSize) {
        compOf(v) = c
        val targets = mutable.LinkedHashSet[Long]()
        while (targets.size < 2) targets += ends(rng.int(ends.length))
        targets.foreach { t => src += v; dst += t; ends += v; ends += t }
      }
      next = base + ComponentSize
    }
    val pathStart = next
    for (h <- 0 until Diameter) {
      src += pathStart + h; dst += pathStart + h + 1
      compOf(pathStart + h) = Components; compOf(pathStart + h + 1) = Components
    }
    // relabel nodes so ids carry no component order
    val perm = compOf.keys.toArray
    for (i <- perm.indices.reverse) { val j = rng.int(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t }
    val ids = compOf.keys.zip(perm.map(_ * 7919L % 1000003L + 1L)).toMap
    Graph(src.map(ids).toArray, dst.map(ids).toArray,
      compOf.map { case (v, c) => ids(v) -> c }.toMap, ids(pathStart))
  }

  def digest(g: Graph, d: Digest): Unit =
    g.src.indices.foreach { i => d.long(g.src(i)); d.long(g.dst(i)) }

  /** Hop distances along directed edges from `seeds` (reference BFS). */
  def bfs(g: Graph, seeds: Seq[Long], maxHops: Int): Map[Long, Int] = {
    val out = g.src.indices.groupBy(g.src(_)).map { case (s, is) => s -> is.map(g.dst(_)) }
    val dist = mutable.Map[Long, Int]() ++ seeds.map(_ -> 0)
    var frontier = seeds.distinct
    var hop = 0
    while (frontier.nonEmpty && hop < maxHops) {
      hop += 1
      frontier = frontier.flatMap(v => out.getOrElse(v, Nil)).distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = hop)
    }
    dist.toMap
  }

  /** Nodes of the undirected k-core (reference peel). */
  def kcore(g: Graph, k: Int): Set[Long] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    g.src.indices.foreach { i =>
      val (a, b) = (g.src(i), g.dst(i))
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set()) += b
        adj.getOrElseUpdate(b, mutable.Set()) += a
      }
    }
    var peel = adj.keys.filter(v => adj(v).size < k).toList
    while (peel.nonEmpty) {
      peel.foreach { v => adj.remove(v).foreach(_.foreach(u => adj.get(u).foreach(_ -= v))) }
      peel = adj.keys.filter(v => adj(v).size < k).toList
    }
    adj.keys.toSet
  }
}

// ---- dedup_pipeline -------------------------------------------------------------

/** A corpus with planted near-duplicates (copies with ~3% of their
  * tokens substituted, at least one) and exact copies, over a Zipf
  * vocabulary, with lognormal document lengths from 20 to 400 tokens.
  */
final case class Corpus(
    id: Array[Long],
    text: Array[String],
    nearPairs: Set[(Long, Long)], // (original, copy), smaller id first
    exactCopies: Int,
    tokens: Long
) {
  def n: Int = id.length
}

object Corpus {
  val BaseDocs = 2000
  val NearShare = 0.15
  val ExactShare = 0.05
  private val stop = Seq("the", "a", "of", "and", "is", "to", "in")

  def generate(seed: Long): Corpus = {
    val rng = new Rng(seed)
    val vocab = (0 until 4000).map(i => s"w${Integer.toString(i * 7 + 3, 36)}") ++ stop
    val cum = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val u = rng.uniform() * cum.last
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cum(m) < u) lo = m + 1 else hi = m }
      vocab(lo)
    }
    val docs = mutable.ArrayBuffer[Array[String]]()
    for (_ <- 0 until BaseDocs) {
      val len = math.max(20, math.min(400, math.exp(4.0 + 0.7 * rng.gauss()).toInt))
      docs += Array.fill(len)(word())
    }
    val near = mutable.Set[(Int, Int)]()
    var exact = 0
    for (d <- 0 until BaseDocs) {
      if (rng.uniform() < NearShare) {
        val copy = docs(d).clone()
        val subs = math.max(1, (copy.length * 0.03).toInt)
        for (_ <- 0 until subs) {
          val p = rng.int(copy.length)
          copy(p) = s"z${rng.int(1000000)}"
        }
        near += ((d, docs.length)); docs += copy
      }
      if (rng.uniform() < ExactShare) { docs += docs(d).clone(); exact += 1 }
    }
    // ids shuffled so that copies do not sit next to their originals
    val ids = Array.tabulate(docs.length)(i => i.toLong)
    for (i <- ids.indices.reverse) { val j = rng.int(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t }
    val pairs = near.map { case (a, b) => (math.min(ids(a), ids(b)), math.max(ids(a), ids(b))) }.toSet
    Corpus(ids, docs.map(_.mkString(" ")).toArray, pairs, exact, docs.map(_.length.toLong).sum)
  }

  def digest(c: Corpus, d: Digest): Unit =
    c.id.indices.foreach { i => d.long(c.id(i)); d.string(c.text(i)) }
}
