package graft.ml

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** One FE's block of a group-sized parameter vector: `stride` doubles
  * per group, group g's at g·stride (stride k for effects and CG
  * vectors, 1 for group masses).
  */
private[ml] sealed trait FeBlock

/** A block held on the driver. */
private[ml] final case class DriverBlock(a: Array[Double]) extends FeBlock

/** A block held on the executors in [[RddCells.keyedReduce]]'s layout:
  * partition r holds (r, the dense slice of ids [r·span, (r+1)·span)),
  * span = ⌈G / #partitions⌉. An absent bucket is an empty one.
  */
private[ml] final case class SpreadBlock(rdd: RDD[(Int, Array[Double])]) extends FeBlock

/** The cell passes and vector algebra of the multi-FE solver in
  * [[FixedEffects]]. A cell is one distinct FE-key tuple with its
  * statistics: mass n, per-column sums s_c and cross-product sums q_ij
  * (the cell frame's `__n`, `__s_c`, `__q_i_j` columns after the K key
  * columns). Every pass the solver needs reduces the cells against
  * group-sized parameter vectors:
  *  - a Halperin FE step: group sums of s − n·Σ_f eff_f;
  *  - the CG right-hand side b (group sums of s) and the group masses;
  *  - the CG matvec AᵀN A v;
  *  - the demeaned Gram.
  *
  * The cells live in [[CellBlock]]s and one set of kernels does the
  * arithmetic; the backends differ only in where the blocks are and how
  * a pass gathers the kernels' partial sums ([[pass]]).
  *
  * A vector ([[CellPasses.Vec]]) is one [[FeBlock]] per FE, k columns
  * interleaved (g·k + c). An FE's blocks are on the driver or, for an FE
  * [[RddCells]] spreads, on the executors; the solver only touches them
  * through the operations here — [[perMass]], [[lincomb]] (axpy),
  * [[reduce]] (dot, maxAbs) — whose arithmetic is the same per entry in
  * either place. A spread block's operations are lazy and its
  * reductions run as one job ([[RddCells]]).
  */
private[ml] abstract class CellPasses(K: Int, k: Int) {
  import CellPasses._

  /** groups per FE */
  def groups: Array[Int]
  /** key → group id of each FE whose vectors are on the driver (null for
    * a spread FE); its iteration order is the effect tables' row order */
  def index: Array[java.util.Map[Any, Integer]]
  /** total mass Σ n */
  def totN: Double
  /** convergence scale: the largest column RMS, max_c sqrt(Σ q_cc / Σ n) */
  def scale: Double

  /** One pass: `kernel` maps a block, the pass's parameters per FE and,
    * per FE, each cell's index into them, to sparse partials — per
    * output o, ascending ids and `stride` doubles per id. `outs(o)` is
    * output o's FE (its groups are the ids, its block is placed like
    * the FE's), or −1 for one pseudo-group summed on the driver. Partials
    * are added in block order.
    */
  protected def pass(outs: Array[Int], stride: Int, params: Vec)(
      kernel: (CellBlock, Array[Array[Double]], Array[Array[Int]]) => (Array[Array[Int]], Array[Array[Double]]))
      : Vec

  /** Registers a new vector as solver state (a spread block's lineage is
    * truncated); returns it. A spread operation's result must be kept,
    * or consumed by a kept one, before the next job runs. */
  def keep(v: Vec): Vec = v
  /** The solver no longer reads `v`. */
  def free(v: Vec): Unit = ()
  def keep(b: FeBlock): FeBlock = keep(Array(b))(0)
  def free(b: FeBlock): Unit = free(Array(b))
  /** The job behind every reduction over spread blocks. */
  protected def collect[T: ClassTag](rdd: RDD[T]): Array[T] = rdd.collect()
  protected def zeroBlock(f: Int): FeBlock = DriverBlock(new Array[Double](groups(f) * k))

  protected def sizeOf(out: Int): Int = if (out < 0) 1 else groups(out)

  /** per FE: the group masses n_g (stride 1) and the CG right-hand side
    * b = Σ_{cells∈g} s_c (stride k), from one pass */
  private lazy val massAndRhs: (Vec, Vec) = {
    val (w, kk) = (1 + k, k)
    val ms = groupPass((0 until K).toArray, 1 + k, null)((blk, _, _) => setupKernel(blk, kk))
    (keep(ms.map(b => map(Seq(b))(s => Array.tabulate(s(0).length / w)(g => s(0)(g * w))))),
      keep(ms.map(b => map(Seq(b))(s => Array.tabulate(s(0).length / w * kk)(i => s(0)(i / kk * w + 1 + i % kk))))))
  }
  def mass: Vec = massAndRhs._1
  def rhs: Vec = massAndRhs._2

  def zeros(): Vec = Array.tabulate(K)(zeroBlock)

  /** Halperin step of FE f: per group g and column c, Σ_{cells∈g} (s_c − n·Σ_f' eff(f')(g_f')(c)) */
  def stepSums(f: Int, eff: Vec): FeBlock = {
    val kk = k
    groupPass(Array(f), k, eff)((blk, e, ix) => stepKernel(blk, f, kk, e, ix))(0)
  }

  /** AᵀN A v for the active columns; inactive columns come back zero */
  def matvec(v: Vec, active: Array[Boolean]): Vec = {
    val (kk, act) = (k, active.clone())
    groupPass((0 until K).toArray, k, v)((blk, e, ix) => matvecKernel(blk, kk, act, e, ix))
  }

  /** k × k Gram of the demeaned columns: Σ_cells q_ij − s_i a_j − s_j a_i + n a_i a_j, a = Σ_f eff_f */
  def gram(eff: Vec): Array[Array[Double]] = {
    // one pseudo-group: every non-empty block sends its k(k+1)/2 sums
    val kk = k
    val DriverBlock(tri) = pass(Array(-1), k * (k + 1) / 2, eff) { (blk, e, ix) =>
      if (blk.n == 0) (Array(Array.emptyIntArray), Array(Array.emptyDoubleArray))
      else (Array(Array(0)), Array(gramKernel(blk, kk, e, ix)))
    }(0)
    val g = Array.ofDim[Double](k, k)
    var p = 0
    for (i <- 0 until k; j <- i until k) { g(i)(j) = tri(p); g(j)(i) = tri(p); p += 1 }
    g
  }

  /** v(g·k + c) / n_g */
  def perMass(v: Vec): Vec = Array.tabulate(K)(f => perMass(f, v(f)))

  def perMass(f: Int, v: FeBlock): FeBlock = {
    val kk = k
    map(Seq(v, mass(f)))(s => Array.tabulate(s(0).length)(i => s(0)(i) / s(1)(i / kk)))
  }

  /** y + Σ_t a_t(c)·x_t on the active columns c (the sum of terms first);
    * inactive columns keep y */
  def lincomb(y: Vec, terms: Seq[(Array[Double], Vec)], active: Array[Boolean]): Vec =
    Array.tabulate(K)(f => lincomb(y(f), terms.map { case (a, x) => (a, x(f)) }, active))

  def lincomb(y: FeBlock, terms: Seq[(Array[Double], FeBlock)], active: Array[Boolean]): FeBlock = {
    val (coef, on, kk) = (terms.map(_._1).toArray, active.clone(), k)
    map(y +: terms.map(_._2))(s => lincombKernel(s, coef, on, kk))
  }

  /** The reductions, in request order: for a spread block one job
    * computes every bucket's partial, and the driver adds them in FE,
    * then bucket order. */
  def reduce(reqs: Seq[Reduction]): Seq[Array[Double]] = {
    val kk = k
    val spread = for {
      (q, i) <- reqs.zipWithIndex
      (ops, j) <- q.operands.zipWithIndex
      if ops.head.isInstanceOf[SpreadBlock]
    } yield {
      val into = q.into(kk)
      val w = q.width(kk)
      zipSlices(ops.collect { case SpreadBlock(r) => r }) { s =>
        val acc = new Array[Double](w)
        into(acc, s)
        acc
      }.map { case (r, acc) => ((i, j, r), acc) }
    }
    val parts = (if (spread.isEmpty) Array.empty[((Int, Int, Int), Array[Double])]
      else collect(spread.head.sparkContext.union(spread))).groupBy(e => (e._1._1, e._1._2))
    reqs.zipWithIndex.map { case (q, i) =>
      val acc = new Array[Double](q.width(kk))
      val into = q.into(kk)
      for ((ops, j) <- q.operands.zipWithIndex) ops.head match {
        case DriverBlock(_) => into(acc, ops.collect { case DriverBlock(a) => a }.toArray)
        case SpreadBlock(_) =>
          for ((_, part) <- parts.getOrElse((i, j), Array.empty).sortBy(_._1._3)) q.merge(acc, part)
      }
      acc
    }
  }

  /** A pass over the groups of `fes`: `kernel` returns one dense array
    * per FE, `stride` doubles per group the block touches. */
  private def groupPass(fes: Array[Int], stride: Int, params: Vec)(
      kernel: (CellBlock, Array[Array[Double]], Array[Array[Int]]) => Array[Array[Double]]): Vec =
    pass(fes, stride, params)((blk, e, ix) => (fes.map(blk.touched), kernel(blk, e, ix)))

  /** `fn` over the same FE's blocks: on the driver at once, spread lazily */
  private def map(in: Seq[FeBlock])(fn: Array[Array[Double]] => Array[Double]): FeBlock = in.head match {
    case DriverBlock(_) => DriverBlock(fn(in.collect { case DriverBlock(a) => a }.toArray))
    case SpreadBlock(_) => SpreadBlock(zipSlices(in.collect { case SpreadBlock(r) => r })(fn))
  }
}

private[ml] object CellPasses {
  /** one block per FE */
  type Vec = Array[FeBlock]

  /** A scalar reduction over FE blocks (one per FE, in FE order). */
  sealed trait Reduction {
    def operands: Seq[Seq[FeBlock]]
    def width(k: Int): Int
    /** folds one FE's block (its operands' arrays) into `acc`, in entry
      * order; a function, so a task does not capture the request's vectors */
    def into(k: Int): (Array[Double], Array[Array[Double]]) => Unit
    /** folds a bucket's partial into `acc` */
    def merge(acc: Array[Double], part: Array[Double]): Unit
  }

  /** Σ x·y over every entry (one value) or per column (k values) */
  final case class Dot(x: Vec, y: Vec, perColumn: Boolean) extends Reduction {
    def operands: Seq[Seq[FeBlock]] = x.indices.map(f => Seq(x(f), y(f)))
    def width(k: Int): Int = if (perColumn) k else 1
    def into(k: Int): (Array[Double], Array[Array[Double]]) => Unit = {
      val w = width(k)
      (acc, s) => {
        val (a, b) = (s(0), s(1))
        var i = 0
        while (i < a.length) { acc(i % w) += a(i) * b(i); i += 1 }
      }
    }
    def merge(acc: Array[Double], part: Array[Double]): Unit =
      for (c <- acc.indices) acc(c) += part(c)
  }

  /** max |x| per column */
  final case class MaxAbs(x: Vec) extends Reduction {
    def operands: Seq[Seq[FeBlock]] = x.toSeq.map(Seq(_))
    def width(k: Int): Int = k
    def into(k: Int): (Array[Double], Array[Array[Double]]) => Unit =
      (acc, s) => {
        val a = s(0)
        var i = 0
        while (i < a.length) { val e = math.abs(a(i)); if (e > acc(i % k)) acc(i % k) = e; i += 1 }
      }
    def merge(acc: Array[Double], part: Array[Double]): Unit =
      for (c <- acc.indices) if (part(c) > acc(c)) acc(c) = part(c)
  }

  def scaleOf(totN: Double, diagQ: Seq[Double]): Double =
    math.max(diagQ.map(q => math.sqrt(q / totN)).max, 1e-300)

  /** Sums sparse partials, in the order given, into dense per-output arrays. */
  def sumPartials(
      sizes: Array[Int],
      stride: Int,
      parts: Iterable[(Array[Array[Int]], Array[Array[Double]])]): Array[Array[Double]] = {
    val out = sizes.map(n => new Array[Double](n * stride))
    for ((ids, vals) <- parts; o <- sizes.indices) addSparse(out(o), 0, ids(o), vals(o), stride)
    out
  }

  /** out((id − base)·stride + c) += vals(l·stride + c) for the l-th id */
  def addSparse(out: Array[Double], base: Int, ids: Array[Int], vals: Array[Double], stride: Int): Unit = {
    var l = 0
    while (l < ids.length) {
      val o = (ids(l) - base) * stride
      var c = 0
      while (c < stride) { out(o + c) += vals(l * stride + c); c += 1 }
      l += 1
    }
  }

  /** `fn` over index-aligned bucket slices, one output slice per bucket */
  def zipSlices(in: Seq[RDD[(Int, Array[Double])]])(fn: Array[Array[Double]] => Array[Double])
      : RDD[(Int, Array[Double])] = {
    def one(its: Seq[Iterator[(Int, Array[Double])]]): Iterator[(Int, Array[Double])] = {
      val got = its.map(it => if (it.hasNext) Some(it.next()) else None)
      got.flatten.headOption.iterator.map { case (r, _) =>
        (r, fn(got.map(_.fold(Array.emptyDoubleArray)(_._2)).toArray))
      }
    }
    in match {
      case Seq(a) => a.mapPartitions(i => one(Seq(i)), preservesPartitioning = true)
      case Seq(a, b) => a.zipPartitions(b, preservesPartitioning = true)((i, j) => one(Seq(i, j)))
      case Seq(a, b, c) =>
        a.zipPartitions(b, c, preservesPartitioning = true)((i, j, l) => one(Seq(i, j, l)))
    }
  }

  private def lincombKernel(s: Array[Array[Double]], coef: Array[Array[Double]], on: Array[Boolean], k: Int)
      : Array[Double] = {
    val y = s(0)
    val out = y.clone()
    var i = 0
    while (i < y.length) {
      val c = i % k
      if (on(c)) {
        var t = coef(0)(c) * s(1)(i)
        var j = 1
        while (j < coef.length) { t += coef(j)(c) * s(j + 1)(i); j += 1 }
        out(i) = y(i) + t
      }
      i += 1
    }
    out
  }

  private def setupKernel(b: CellBlock, k: Int): Array[Array[Double]] =
    b.touched.indices.map { f =>
      val acc = new Array[Double](b.touched(f).length * (1 + k))
      var i = 0
      while (i < b.n) {
        val o = b.lid(f)(i) * (1 + k)
        var c = 0
        while (c <= k) { acc(o + c) += b.st(i * b.width + c); c += 1 }
        i += 1
      }
      acc
    }.toArray

  private def stepKernel(b: CellBlock, f: Int, k: Int, eff: Array[Array[Double]], ix: Array[Array[Int]])
      : Array[Array[Double]] = {
    val K = b.gid.length
    val w = b.width
    val acc = new Array[Double](b.touched(f).length * k)
    var i = 0
    while (i < b.n) {
      val o = b.lid(f)(i) * k
      val n = b.st(i * w)
      var c = 0
      while (c < k) {
        var e = 0.0
        var f2 = 0
        while (f2 < K) { e += eff(f2)(ix(f2)(i) * k + c); f2 += 1 }
        acc(o + c) += b.st(i * w + 1 + c) - n * e
        c += 1
      }
      i += 1
    }
    Array(acc)
  }

  private def matvecKernel(
      b: CellBlock, k: Int, active: Array[Boolean], v: Array[Array[Double]], ix: Array[Array[Int]])
      : Array[Array[Double]] = {
    val K = b.gid.length
    val acc = Array.tabulate(K)(f => new Array[Double](b.touched(f).length * k))
    var i = 0
    while (i < b.n) {
      var c = 0
      while (c < k) {
        if (active(c)) {
          var t = 0.0
          var f = 0
          while (f < K) { t += v(f)(ix(f)(i) * k + c); f += 1 }
          t *= b.st(i * b.width)
          f = 0
          while (f < K) { acc(f)(b.lid(f)(i) * k + c) += t; f += 1 }
        }
        c += 1
      }
      i += 1
    }
    acc
  }

  private def gramKernel(b: CellBlock, k: Int, eff: Array[Array[Double]], ix: Array[Array[Int]])
      : Array[Double] = {
    val K = b.gid.length
    val w = b.width
    val tri = new Array[Double](k * (k + 1) / 2)
    val a = new Array[Double](k)
    var i = 0
    while (i < b.n) {
      val base = i * w
      var c = 0
      while (c < k) {
        var e = 0.0
        var f = 0
        while (f < K) { e += eff(f)(ix(f)(i) * k + c); f += 1 }
        a(c) = e
        c += 1
      }
      val n = b.st(base)
      var p = 0
      var ii = 0
      while (ii < k) {
        var jj = ii
        while (jj < k) {
          tri(p) += b.st(base + 1 + k + p) - b.st(base + 1 + ii) * a(jj) -
            b.st(base + 1 + jj) * a(ii) + n * a(ii) * a(jj)
          p += 1; jj += 1
        }
        ii += 1
      }
      i += 1
    }
    tri
  }
}

/** Cells as primitive arrays. `gid(f)(i)` is cell i's FE-f group;
  * `touched(f)` lists the FE-f groups present (ascending) and
  * `lid(f)(i)` is cell i's position in it, so a kernel accumulates into
  * a dense array over the touched groups only.
  */
private[ml] final class CellBlock(
    val n: Int,
    val gid: Array[Array[Int]],
    val lid: Array[Array[Int]],
    val touched: Array[Array[Int]],
    /** per cell, `width` stats: n, s_0..s_{k-1}, q_00, q_01, … (upper triangle) */
    val st: Array[Double],
    val width: Int) extends Serializable {

  /** Σ n and, per column, Σ q_cc, summed in cell order */
  def massAndDiag(k: Int): Array[Double] = {
    val sums = new Array[Double](1 + k)
    for (i <- 0 until n) {
      sums(0) += st(i * width)
      // q_cc sits at 1 + k + c·k − c(c−1)/2 (upper triangle, row-major)
      for (c <- 0 until k) sums(1 + c) += st(i * width + 1 + k + c * k - c * (c - 1) / 2)
    }
    sums
  }
}

private[ml] object CellBlock {
  /** A cell-frame row as (group ids, stats); the stats start at column K. */
  def parse(r: Row, K: Int, width: Int, index: Array[java.util.Map[Any, Integer]])
      : (Array[Int], Array[Double]) =
    (Array.tabulate(K)(f => index(f).get(r.get(f)).intValue()),
      Array.tabulate(width)(i => r.getDouble(K + i)))

  /** A block of `cells` in the given order. `groups` (per FE) says the
    * block touches every group, so local ids are the group ids. */
  def apply(cells: Array[(Array[Int], Array[Double])], K: Int, width: Int, groups: Option[Array[Int]])
      : CellBlock = {
    val n = cells.length
    val gid = Array.tabulate(K)(f => cells.map(_._1(f)))
    val (touched, lid) = groups match {
      case Some(g) => (g.map(Array.range(0, _)), gid)
      case None =>
        val t = gid.map(_.distinct.sorted)
        (t, Array.tabulate(K)(f => gid(f).map(java.util.Arrays.binarySearch(t(f), _))))
    }
    val st = new Array[Double](n * width)
    for (i <- 0 until n) System.arraycopy(cells(i)._2, 0, st, i * width, width)
    new CellBlock(n, gid, lid, touched, st, width)
  }
}

/** Cells collected into one driver-side block: a pass is one kernel
  * call, O(#cells · #FEs · #cols) flops and no cluster job, and every
  * vector is on the driver. Group ids follow first appearance in the
  * collected rows.
  */
private[ml] final class LocalCells(rows: Array[Row], K: Int, k: Int) extends CellPasses(K, k) {
  val index: Array[java.util.Map[Any, Integer]] = Array.fill(K)(new java.util.HashMap[Any, Integer]())
  private val block = {
    for (r <- rows; f <- 0 until K)
      if (!index(f).containsKey(r.get(f))) index(f).put(r.get(f), Integer.valueOf(index(f).size()))
    val width = 1 + k + k * (k + 1) / 2
    CellBlock(rows.map(CellBlock.parse(_, K, width, index)), K, width, Some(index.map(_.size())))
  }
  val groups: Array[Int] = index.map(_.size())
  private val tot = block.massAndDiag(k)
  val totN: Double = tot(0)
  val scale: Double = CellPasses.scaleOf(totN, tot.toSeq.drop(1))

  protected def pass(outs: Array[Int], stride: Int, params: CellPasses.Vec)(
      kernel: (CellBlock, Array[Array[Double]], Array[Array[Int]]) => (Array[Array[Int]], Array[Array[Double]]))
      : CellPasses.Vec = {
    val e = Option(params).map(_.collect { case DriverBlock(a) => a }).orNull
    CellPasses.sumPartials(outs.map(sizeOf), stride, Seq(kernel(block, e, block.gid))).map(DriverBlock)
  }
}

/** Cells as a cached RDD of [[CellBlock]]s, for cell frames too large to
  * collect. Group ids are the ranks of an FE's keys in [[RddCells.keyOrdering]],
  * and blocks are range-partitioned on the largest FE, so each of its
  * groups lives in one block. Each pass is ONE Spark job with no
  * Catalyst plan: the pass's driver-side parameters go out in one
  * broadcast (destroyed after the pass), every block emits sparse
  * partials over the groups it touches, and a keyed block reduce merges
  * them on the executors: one reduce bucket per id range, each adding
  * its partials in source partition order, so a fit is
  * bit-reproducible.
  *
  * Each FE's vectors are placed by the broadcast gate `spreadAbove`
  * (None: no FE is counted and all are on the driver):
  *  - within it, the FE's key index and vectors are on the driver and a
  *    group pass delivers G_f · stride doubles to it, whatever the
  *    partition count (the Gram pass: k(k+1)/2);
  *  - over it, the FE is spread: its ids come from a Spark sort of its
  *    keys, never collected, and its vectors are [[SpreadBlock]]s — the
  *    reduce output, not collected. A kernel reads the largest FE's
  *    slice from the block partition it is aligned with; any other
  *    spread FE's slices reach the blocks that touch them through a
  *    route table built once (one shuffle per pass, at most #cells · k
  *    doubles). Vector operations are lazy and each kept vector is
  *    checkpointed through [[Bridge.truncateRdd]]; every job a spread
  *    solve runs ([[collect]]) also materializes the vectors kept since
  *    the last one, and frees what the solver gave up before it, so a
  *    Halperin FE step is one job and a CG iteration two (three with
  *    driver-side FEs in the matvec).
  * [[release]] frees the blocks, vectors, tables and broadcasts.
  */
private[ml] final class RddCells(rows: RDD[Row], K: Int, k: Int, spreadAbove: Option[Long] = None)
    extends CellPasses(K, k) {
  import RddCells._

  private val sc = rows.sparkContext
  private val nParts = math.max(rows.getNumPartitions, 1)
  private val width = 1 + k + k * (k + 1) / 2

  /** every RDD this backend persisted and has not yet freed */
  private val owned = mutable.LinkedHashSet.empty[RDD[_]]
  /** kept vectors not yet materialized */
  private val pending = mutable.ArrayBuffer.empty[RDD[_]]
  /** frees that wait for the next job */
  private val afterJob = mutable.ArrayBuffer.empty[() => Unit]

  private def own[T](r: RDD[T]): RDD[T] = { owned += r; r }
  private def unpersist(r: RDD[_]): Unit = { r.unpersist(blocking = false); owned -= r }

  /** the distinct (FE, key) pairs */
  private val keys = {
    val kK = K
    rows.flatMap(r => (0 until kK).map(f => (f, r.get(f)))).distinct()
  }

  /** groups per FE, counted when the gate needs them */
  private val counted: Option[Array[Int]] = spreadAbove.map { _ =>
    val counts = own(keys.persist(StorageLevel.MEMORY_AND_DISK)).map(_._1).countByValue()
    Array.tabulate(K)(f => counts.getOrElse(f, 0L).toInt)
  }
  private val spread: Array[Boolean] =
    Array.tabulate(K)(f => counted.exists(g => spreadAbove.exists(g(f) > _)))

  val index: Array[java.util.Map[Any, Integer]] = {
    val sp = spread
    val onDriver = if (spread.forall(identity)) Array.empty[(Int, Any)]
      else if (spreadAbove.isEmpty) keys.collect()
      else keys.filter(p => !sp(p._1)).collect()
    val byFe = onDriver.groupBy(_._1)
    Array.tabulate(K) { f =>
      if (spread(f)) null
      else {
        val m = new java.util.LinkedHashMap[Any, Integer]()
        byFe.getOrElse(f, Array.empty[(Int, Any)]).map(_._2).sorted(keyOrdering)
          .foreach(key => m.put(key, Integer.valueOf(m.size())))
        m: java.util.Map[Any, Integer]
      }
    }
  }
  val groups: Array[Int] = counted.getOrElse(index.map(_.size()))
  private val idxBc = sc.broadcast(index)

  /** ((FE, key), id) of every spread FE's key: ids are key ranks */
  private val ranked: RDD[((Int, Any), Int)] = if (!spread.contains(true)) null else {
    val sp = spread
    val base = groups.indices.scanLeft(0L)((acc, f) => if (sp(f)) acc + groups(f) else acc).toArray
    own(keys.filter(p => sp(p._1))
      .sortBy(identity)(Ordering.Tuple2(Ordering.Int, keyOrdering), implicitly[ClassTag[(Int, Any)]])
      .zipWithIndex()
      .map { case (fk, i) => (fk, (i - base(fk._1)).toInt) }
      .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** the FE the blocks are range-partitioned on */
  private val big = groups.indices.maxBy(groups(_))

  private val blocks: RDD[CellBlock] = {
    val idxBc = this.idxBc // a local: the closures must not capture this
    val span = bucketSpan(groups(big), nParts)
    val (kK, w, p, bg, sp) = (K, width, nParts, big, spread)
    val parsed: RDD[(Array[Int], Array[Double])] =
      if (!spread.contains(true))
        rows.mapPartitions { it =>
          val idx = idxBc.value
          it.map(CellBlock.parse(_, kK, w, idx))
        }
      else {
        // driver-side ids from the index, then one join per spread FE
        var cells = rows.mapPartitions { it =>
          val idx = idxBc.value
          it.map { r =>
            (Array.tabulate(kK)(f => if (sp(f)) -1 else idx(f).get(r.get(f)).intValue()),
              Array.tabulate(kK)(f => if (sp(f)) r.get(f) else null),
              Array.tabulate(w)(i => r.getDouble(kK + i)))
          }
        }
        for (f <- 0 until K if spread(f)) {
          val ids = ranked.filter(_._1._1 == f).map { case ((_, key), id) => (key, id) }
          cells = cells.map(c => (c._2(f), c)).join(ids).map { case (_, ((g, ks, st), id)) =>
            val g2 = g.clone()
            g2(f) = id
            (g2, ks, st)
          }
        }
        cells.map(c => (c._1, c._3))
      }
    own(parsed
      .map(cell => (math.min(cell._1(bg) / span, p - 1), cell))
      .partitionBy(new HashPartitioner(p))
      // sorted by group-id tuple: the cell order must not depend on the
      // order the shuffle delivered the cells in
      .mapPartitions(it => Iterator(CellBlock(it.map(_._2).toArray.sortWith(tupleLess), kK, w, None)),
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** one job materializes the blocks and sums their mass and diagonals, in partition order */
  private val tot = {
    val kk = k
    val tot = new Array[Double](1 + k)
    for (s <- blocks.map(_.massAndDiag(kk)).collect(); i <- tot.indices) tot(i) += s(i)
    tot
  }
  val totN: Double = tot(0)
  val scale: Double = CellPasses.scaleOf(totN, tot.toSeq.drop(1))

  /** per spread FE other than `big`: bucket r → (block, the block's ids
    * in the bucket, as offsets from its start), built at first use */
  private lazy val routes: Array[RDD[(Int, Array[(Int, Array[Int])])]] = Array.tabulate(K) { f =>
    if (f == big || !spread(f)) null
    else {
      val (span, p) = (bucketSpan(groups(f), nParts), nParts)
      own(blocks
        .mapPartitionsWithIndex { (b, it) =>
          it.flatMap(blk => blk.touched(f).groupBy(_ / span).iterator.map { case (r, ids) =>
            (r, (b, ids.sorted.map(_ - r * span)))
          })
        }
        .groupByKey(new HashPartitioner(p))
        .mapValues(_.toArray.sortBy(_._1))
        .persist(StorageLevel.MEMORY_AND_DISK))
    }
  }

  override def keep(v: CellPasses.Vec): CellPasses.Vec = {
    v.foreach {
      case SpreadBlock(r) =>
        Bridge.truncateRdd(SparkSession.active, r)
        own(r)
        pending += r
      case _ =>
    }
    v
  }

  override def free(v: CellPasses.Vec): Unit =
    v.foreach {
      case SpreadBlock(r) => afterJob += (() => unpersist(r))
      case _ =>
    }

  /** Runs `rdd` in a job that also materializes every pending vector, then frees what waited for it. */
  override protected def collect[T: ClassTag](rdd: RDD[T]): Array[T] = {
    val force = pending.toList.map(_.mapPartitions[T] { it => it.foreach(_ => ()); Iterator.empty })
    val done = afterJob.toList
    pending.clear()
    afterJob.clear()
    val out = if (force.isEmpty) rdd.collect() else sc.union(rdd +: force).collect()
    done.foreach(_())
    out
  }

  override protected def zeroBlock(f: Int): FeBlock =
    if (!spread(f)) super.zeroBlock(f)
    else {
      val (n, span, kk) = (groups(f), bucketSpan(groups(f), nParts), k)
      SpreadBlock(sc.parallelize(0 until nParts, nParts).map(r => (r, new Array[Double](sliceLen(n, span, r) * kk))))
    }

  /** (key, its k values) rows of spread FE f's vector `v`, in id order */
  def keyedRows(f: Int, v: RDD[(Int, Array[Double])]): RDD[Row] = {
    val (span, kk) = (bucketSpan(groups(f), nParts), k)
    ranked.filter(_._1._1 == f)
      .map { case ((_, key), id) => (id / span, (id, key)) }
      .partitionBy(new HashPartitioner(nParts))
      .zipPartitions(v) { (ki, vi) =>
        val slice = if (vi.hasNext) vi.next()._2 else Array.emptyDoubleArray
        ki.toArray.sortBy(_._2._1).iterator.map { case (r, (id, key)) =>
          val o = (id - r * span) * kk
          Row.fromSeq(key +: (0 until kk).map(c => slice(o + c)))
        }
      }
  }

  /** free the blocks, vectors and tables; destroy the broadcasts */
  def release(): Unit = {
    afterJob.foreach(_())
    afterJob.clear()
    pending.clear()
    owned.toList.foreach(unpersist)
    idxBc.destroy()
  }

  protected def pass(outs: Array[Int], stride: Int, params: CellPasses.Vec)(
      kernel: (CellBlock, Array[Array[Double]], Array[Array[Int]]) => (Array[Array[Int]], Array[Array[Double]]))
      : CellPasses.Vec = {
    val sizes = outs.map(sizeOf)
    val sp = spread
    val onDriver = Option(params).map(_.map { case DriverBlock(a) => a; case _ => null })
    val bc = onDriver.filter(_.exists(_ != null)).map(sc.broadcast(_))
    val partials = Option(params).filter(_.exists(_.isInstanceOf[SpreadBlock])).map(byBlock) match {
      case None => blocks.map(blk => kernel(blk, bc.map(_.value).orNull, paramIndex(blk, sp)))
      case Some(local) =>
        blocks.zipPartitions(local) { (bi, li) =>
          bi.zip(li).map { case (blk, spreadParams) =>
            val e = bc.map(_.value)
            kernel(blk, Array.tabulate(spreadParams.length)(f =>
              if (spreadParams(f) != null) spreadParams(f) else e.map(_(f)).orNull), paramIndex(blk, sp))
          }
        }
    }
    val red = keyedReduce(partials, sizes, stride, nParts)
    val outSpread = outs.map(o => o >= 0 && spread(o))
    def gather(got: Array[(Int, Array[Array[Double]])]): CellPasses.Vec = {
      val out = sizes.map(n => new Array[Double](n * stride))
      val span = sizes.map(bucketSpan(_, nParts))
      for ((r, dense) <- got; o <- sizes.indices if dense(o).nonEmpty)
        System.arraycopy(dense(o), 0, out(o), r * span(o) * stride, dense(o).length)
      out.map(DriverBlock)
    }
    if (!outSpread.contains(true)) try gather(collect(red)) finally bc.foreach(_.destroy())
    else {
      // the spread outputs are computed by the next job, which
      // materializes them: it reads the broadcast and, when some outputs
      // are collected now, the cached reduce
      val mixed = outSpread.contains(false)
      val src = if (mixed) own(red.persist(StorageLevel.MEMORY_AND_DISK)) else red
      val got = if (!mixed) Map.empty[Int, FeBlock] else {
        val os = outSpread
        gather(collect(src.map { case (r, d) =>
          (r, d.indices.map(o => if (os(o)) Array.emptyDoubleArray else d(o)).toArray)
        })).zipWithIndex.map(_.swap).toMap
      }
      bc.foreach(b => afterJob += (() => b.destroy()))
      if (mixed) afterJob += (() => unpersist(src))
      Array.tabulate(outs.length)(o =>
        if (outSpread(o)) SpreadBlock(src.map { case (r, d) => (r, d(o)) }) else got(o))
    }
  }

  /** The spread FEs' blocks of `params`, one array per FE (null for a
    * driver-side FE) per cell block, aligned with `blocks` and indexed
    * by the cells' local ids: the largest FE's bucket r is block r's
    * slice; any other's slices are routed to the blocks that touch them.
    */
  private def byBlock(params: CellPasses.Vec): RDD[Array[Array[Double]]] = {
    val (kK, bg, kk) = (K, big, k)
    val SpreadBlock(bigSlices) = params(big)
    val others = (0 until K).filter(f => f != big && spread(f))
    val routed = others.map { f =>
      val SpreadBlock(v) = params(f)
      routes(f).zipPartitions(v) { (ri, vi) =>
        val slice = if (vi.hasNext) vi.next()._2 else Array.emptyDoubleArray
        ri.flatMap { case (r, targets) =>
          targets.iterator.map { case (b, offs) =>
            val vals = new Array[Double](offs.length * kk)
            for (l <- offs.indices) System.arraycopy(slice, offs(l) * kk, vals, l * kk, kk)
            (b, (f, r, vals))
          }
        }
      }
    }
    if (routed.isEmpty) bigSlices.mapPartitions(bi => assemble(kK, bg, bi, Iterator.empty))
    else bigSlices.zipPartitions(sc.union(routed).partitionBy(new HashPartitioner(nParts)))(
      (bi, ci) => assemble(kK, bg, bi, ci))
  }
}

private[ml] object RddCells {
  /** total order on FE keys: nulls first, then natural order of
    * same-class comparable keys, else string form */
  val keyOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Comparable[_], y) if x.getClass == y.getClass =>
        x.asInstanceOf[Comparable[Any]].compareTo(y)
      case _ => a.toString.compareTo(b.toString)
    }
  }

  private def tupleLess(a: (Array[Int], Array[Double]), b: (Array[Int], Array[Double])): Boolean = {
    var f = 0
    while (f < a._1.length - 1 && a._1(f) == b._1(f)) f += 1
    a._1(f) < b._1(f)
  }

  /** per FE, each cell's index into a pass parameter: its local id for a
    * spread FE (whose slices cover the touched groups), else its group id */
  private def paramIndex(blk: CellBlock, spread: Array[Boolean]): Array[Array[Int]] =
    Array.tabulate(blk.gid.length)(f => if (spread(f)) blk.lid(f) else blk.gid(f))

  /** one cell block's spread parameters: the largest FE's slice, and each
    * routed FE's chunks concatenated in bucket order */
  private def assemble(
      K: Int,
      big: Int,
      bigSlice: Iterator[(Int, Array[Double])],
      chunks: Iterator[(Int, (Int, Int, Array[Double]))]): Iterator[Array[Array[Double]]] = {
    val out = new Array[Array[Double]](K)
    out(big) = if (bigSlice.hasNext) bigSlice.next()._2 else Array.emptyDoubleArray
    for ((f, parts) <- chunks.map(_._2).toArray.groupBy(_._1))
      out(f) = parts.sortBy(_._2).flatMap(_._3)
    Iterator(out)
  }

  private def bucketSpan(groups: Int, buckets: Int): Int = math.max((groups + buckets - 1) / buckets, 1)

  /** ids in bucket r of `groups` ids */
  private def sliceLen(groups: Int, span: Int, r: Int): Int = math.max(math.min(groups, (r + 1) * span) - r * span, 0)

  /** Per-partition sparse partials → one dense slice per reduce bucket:
    * bucket r holds ids [r·span, (r+1)·span) of each output; its
    * reducer sorts the partials by source partition before adding. */
  private[ml] def keyedReduce(
      partials: RDD[(Array[Array[Int]], Array[Array[Double]])],
      sizes: Array[Int],
      stride: Int,
      buckets: Int): RDD[(Int, Array[Array[Double]])] = {
    val span = sizes.map(bucketSpan(_, buckets))
    partials
      .mapPartitionsWithIndex { (p, it) =>
        it.flatMap { case (ids, vals) =>
          (0 until buckets).iterator.flatMap { r =>
            val cut = ids.indices.map { o =>
              val lo = lowerBound(ids(o), r * span(o))
              val hi = lowerBound(ids(o), (r + 1) * span(o))
              (java.util.Arrays.copyOfRange(ids(o), lo, hi),
                java.util.Arrays.copyOfRange(vals(o), lo * stride, hi * stride))
            }
            if (cut.forall(_._1.isEmpty)) None
            else Some((r, (p, cut.map(_._1).toArray, cut.map(_._2).toArray)))
          }
        }
      }
      .groupByKey(new HashPartitioner(buckets))
      .map { case (r, parts) =>
        val dense = sizes.indices.map(o => new Array[Double](sliceLen(sizes(o), span(o), r) * stride)).toArray
        for ((_, ids, vals) <- parts.toArray.sortBy(_._1); o <- sizes.indices)
          CellPasses.addSparse(dense(o), r * span(o), ids(o), vals(o), stride)
        (r, dense)
      }
  }

  private def lowerBound(a: Array[Int], x: Int): Int = {
    val i = java.util.Arrays.binarySearch(a, x)
    if (i >= 0) i else -i - 1
  }
}
