package graft.ml

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.storage.StorageLevel

/** The cell passes of the multi-FE solver in [[FixedEffects]]. A cell is
  * one distinct FE-key tuple with its statistics: mass n, per-column
  * sums s_c and cross-product sums q_ij (the cell frame's `__n`,
  * `__s_c`, `__q_i_j` columns after the K key columns). Every pass the
  * solver needs reduces the cells against group-sized parameter vectors
  * that stay on the driver:
  *  - a Halperin FE step: group sums of s − n·Σ_f eff_f;
  *  - the CG right-hand side b (group sums of s) and the group masses;
  *  - the CG matvec AᵀN A v;
  *  - the demeaned Gram.
  *
  * The cells live in [[CellBlock]]s and one set of kernels does the
  * arithmetic; the backends differ only in where the blocks are and how
  * a pass gathers the kernels' partial sums ([[pass]]).
  *
  * Layouts: `eff(f)(g)(c)` per FE f, group g, column c; CG vectors
  * `v(c)(j)` with j = offsets(f) + g.
  */
private[ml] abstract class CellPasses(K: Int, k: Int) {
  import CellPasses._

  /** key → group id, per FE; its iteration order is the effect tables' row order */
  def index: Array[java.util.Map[Any, Integer]]
  /** total mass Σ n */
  def totN: Double
  /** convergence scale: the largest column RMS, max_c sqrt(Σ q_cc / Σ n) */
  def scale: Double

  /** One pass: `kernel` maps a block (and the pass's parameters) to
    * sparse partials — per output o, ascending ids in [0, sizes(o)) and
    * `stride` doubles per id. Returns per output the sizes(o) × stride
    * sums over all blocks, added in block order.
    */
  protected def pass(sizes: Array[Int], stride: Int, params: Array[Array[Double]])(
      kernel: (CellBlock, Array[Array[Double]]) => (Array[Array[Int]], Array[Array[Double]]))
      : Array[Array[Double]]

  lazy val groups: Array[Int] = index.map(_.size())
  lazy val offsets: Array[Int] = groups.scanLeft(0)(_ + _)

  /** per FE and group: the mass, then the k sums */
  private lazy val massAndSums = {
    val kk = k
    groupPass((0 until K).toArray, 1 + k, null)((blk, _) => setupKernel(blk, kk))
  }

  /** group mass n_g per FE */
  lazy val groupMass: Array[Array[Double]] =
    massAndSums.map(o => Array.tabulate(o.length / (1 + k))(g => o(g * (1 + k))))

  /** CG right-hand side b(c)(j) = Σ_{cells∈j} s_c */
  def rhs(): Array[Array[Double]] = {
    val off = offsets
    val r = Array.ofDim[Double](k, off(K))
    for (f <- 0 until K; g <- 0 until groups(f); c <- 0 until k)
      r(c)(off(f) + g) = massAndSums(f)(g * (1 + k) + 1 + c)
    r
  }

  /** Halperin step of FE f: per group g and column c, Σ_{cells∈g} (s_c − n·Σ_f' eff(f')(g_f')(c)) */
  def stepSums(f: Int, eff: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    val kk = k
    val o = groupPass(Array(f), k, flat(eff))((blk, e) => stepKernel(blk, f, kk, e))(0)
    Array.tabulate(groups(f))(g => java.util.Arrays.copyOfRange(o, g * k, g * k + k))
  }

  /** AᵀN A v for the active columns; inactive columns come back zero */
  def matvec(v: Array[Array[Double]], active: Array[Boolean]): Array[Array[Double]] = {
    val off = offsets
    val pv = Array.tabulate(K) { f =>
      val a = new Array[Double](groups(f) * k)
      for (g <- 0 until groups(f); c <- 0 until k) a(g * k + c) = v(c)(off(f) + g)
      a
    }
    val (kk, act) = (k, active.clone())
    val o = groupPass((0 until K).toArray, k, pv)((blk, e) => matvecKernel(blk, kk, act, e))
    val out = Array.ofDim[Double](k, off(K))
    for (f <- 0 until K; g <- 0 until groups(f); c <- 0 until k) out(c)(off(f) + g) = o(f)(g * k + c)
    out
  }

  /** k × k Gram of the demeaned columns: Σ_cells q_ij − s_i a_j − s_j a_i + n a_i a_j, a = Σ_f eff_f */
  def gram(eff: Array[Array[Array[Double]]]): Array[Array[Double]] = {
    // one pseudo-group: every non-empty block sends its k(k+1)/2 sums
    val kk = k
    val tri = pass(Array(1), k * (k + 1) / 2, flat(eff)) { (blk, e) =>
      if (blk.n == 0) (Array(Array.emptyIntArray), Array(Array.emptyDoubleArray))
      else (Array(Array(0)), Array(gramKernel(blk, kk, e)))
    }(0)
    val g = Array.ofDim[Double](k, k)
    var p = 0
    for (i <- 0 until k; j <- i until k) { g(i)(j) = tri(p); g(j)(i) = tri(p); p += 1 }
    g
  }

  /** A pass over the groups of `fes`: `kernel` returns one dense array
    * per FE, `stride` doubles per group the block touches. */
  private def groupPass(fes: Array[Int], stride: Int, params: Array[Array[Double]])(
      kernel: (CellBlock, Array[Array[Double]]) => Array[Array[Double]]): Array[Array[Double]] =
    pass(fes.map(groups(_)), stride, params)((blk, e) => (fes.map(blk.touched), kernel(blk, e)))

  /** eff(f)(g)(c) → per FE, g·k + c */
  private def flat(eff: Array[Array[Array[Double]]]): Array[Array[Double]] =
    eff.map { e =>
      val a = new Array[Double](e.length * k)
      for (g <- e.indices; c <- 0 until k) a(g * k + c) = e(g)(c)
      a
    }
}

private[ml] object CellPasses {
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

  private def stepKernel(b: CellBlock, f: Int, k: Int, eff: Array[Array[Double]])
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
        while (f2 < K) { e += eff(f2)(b.gid(f2)(i) * k + c); f2 += 1 }
        acc(o + c) += b.st(i * w + 1 + c) - n * e
        c += 1
      }
      i += 1
    }
    Array(acc)
  }

  private def matvecKernel(b: CellBlock, k: Int, active: Array[Boolean], v: Array[Array[Double]])
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
          while (f < K) { t += v(f)(b.gid(f)(i) * k + c); f += 1 }
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

  private def gramKernel(b: CellBlock, k: Int, eff: Array[Array[Double]]): Array[Double] = {
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
        while (f < K) { e += eff(f)(b.gid(f)(i) * k + c); f += 1 }
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
  * call, O(#cells · #FEs · #cols) flops and no cluster job. Group ids
  * follow first appearance in the collected rows.
  */
private[ml] final class LocalCells(rows: Array[Row], K: Int, k: Int) extends CellPasses(K, k) {
  val index: Array[java.util.Map[Any, Integer]] = Array.fill(K)(new java.util.HashMap[Any, Integer]())
  private val block = {
    for (r <- rows; f <- 0 until K)
      if (!index(f).containsKey(r.get(f))) index(f).put(r.get(f), Integer.valueOf(index(f).size()))
    val width = 1 + k + k * (k + 1) / 2
    CellBlock(rows.map(CellBlock.parse(_, K, width, index)), K, width, Some(index.map(_.size())))
  }
  private val tot = block.massAndDiag(k)
  val totN: Double = tot(0)
  val scale: Double = CellPasses.scaleOf(totN, tot.toSeq.drop(1))

  protected def pass(sizes: Array[Int], stride: Int, params: Array[Array[Double]])(
      kernel: (CellBlock, Array[Array[Double]]) => (Array[Array[Int]], Array[Array[Double]]))
      : Array[Array[Double]] =
    CellPasses.sumPartials(sizes, stride, Seq(kernel(block, params)))
}

/** Cells as a cached RDD of [[CellBlock]]s, for cell frames too large to
  * collect. Group ids come from the sorted distinct keys, and blocks are
  * range-partitioned on the largest FE, so each of its groups lives in
  * one block. Each pass is ONE Spark job with no Catalyst plan: the
  * pass's group-sized parameters go out in one broadcast (destroyed
  * after the pass), every block emits sparse partials over the groups it
  * touches, and a keyed block reduce merges them on the executors: one
  * reduce bucket per id range, each adding its partials in source
  * partition order, so a fit is bit-reproducible and a group pass
  * delivers Σ_f G_f · stride doubles to the driver, whatever the
  * partition count (the Gram pass: k(k+1)/2). [[release]] frees the
  * blocks and the key-index broadcast.
  */
private[ml] final class RddCells(rows: RDD[Row], K: Int, k: Int) extends CellPasses(K, k) {
  import RddCells._

  private val sc = rows.sparkContext

  val index: Array[java.util.Map[Any, Integer]] = {
    val kK = K
    val byFe = rows.flatMap(r => (0 until kK).map(f => (f, r.get(f)))).distinct().collect().groupBy(_._1)
    Array.tabulate(K) { f =>
      val m = new java.util.LinkedHashMap[Any, Integer]()
      byFe.getOrElse(f, Array.empty[(Int, Any)]).map(_._2).sorted(keyOrdering)
        .foreach(key => m.put(key, Integer.valueOf(m.size())))
      m: java.util.Map[Any, Integer]
    }
  }
  private val nParts = math.max(rows.getNumPartitions, 1)
  private val idxBc = sc.broadcast(index)

  private val blocks: RDD[CellBlock] = {
    val idxBc = this.idxBc // a local: the closures must not capture this
    val big = groups.indices.maxBy(groups(_))
    val span = bucketSpan(groups(big), nParts)
    val (kK, w, p) = (K, 1 + k + k * (k + 1) / 2, nParts)
    rows
      .mapPartitions { it =>
        val idx = idxBc.value
        it.map { r =>
          val cell = CellBlock.parse(r, kK, w, idx)
          (math.min(cell._1(big) / span, p - 1), cell)
        }
      }
      .partitionBy(new HashPartitioner(p))
      // sorted by group-id tuple: the cell order must not depend on the
      // order the shuffle delivered the cells in
      .mapPartitions(it => Iterator(CellBlock(it.map(_._2).toArray.sortWith(tupleLess), kK, w, None)),
        preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
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

  /** unpersist the blocks and destroy the key-index broadcast */
  def release(): Unit = {
    blocks.unpersist(blocking = false)
    idxBc.destroy()
  }

  protected def pass(sizes: Array[Int], stride: Int, params: Array[Array[Double]])(
      kernel: (CellBlock, Array[Array[Double]]) => (Array[Array[Int]], Array[Array[Double]]))
      : Array[Array[Double]] = {
    val bc = Option(params).map(sc.broadcast(_))
    try {
      val partials = blocks.map(blk => kernel(blk, bc.map(_.value).orNull))
      val out = sizes.map(n => new Array[Double](n * stride))
      val span = sizes.map(bucketSpan(_, nParts))
      for ((r, dense) <- keyedReduce(partials, sizes, stride, nParts).collect(); o <- sizes.indices
           if dense(o).nonEmpty)
        System.arraycopy(dense(o), 0, out(o), r * span(o) * stride, dense(o).length)
      out
    } finally bc.foreach(_.destroy())
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

  private def bucketSpan(groups: Int, buckets: Int): Int = math.max((groups + buckets - 1) / buckets, 1)

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
        val dense = sizes.indices.map { o =>
          new Array[Double](math.max(math.min(sizes(o), (r + 1) * span(o)) - r * span(o), 0) * stride)
        }.toArray
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
