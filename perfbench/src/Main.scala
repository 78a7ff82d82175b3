package org.apache.spark.sql.graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One measured operation. */
final case class Sample(
    op: Op,
    index: Int,
    seconds: Double,
    startMs: Long,
    endMs: Long,
    check: Check,
    heapAfterGc: Long,
    leakedRdds: Int,
    leakedBytes: Long,
    compiles: Long,
    compileNs: Long,
    spans: Seq[Span])

/** The benchmark's closed loop: one client issues a workload's operation
  * cycle into graft's module functions, each operation only after the
  * previous one finished, on a `local[N]` session.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <N> --dir <scratch dir>
  *        Main --digest --workload <name> --seed <n>
  */
object Main {
  val SetupRounds = 3
  /** op_tail_s is the mean latency of the slowest 1/TailShare of the
    * operations (see perfbench/README.md for why not a percentile).
    */
  val TailShare = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workload.named(args("workload"))
    val seed = args("seed").toLong
    if (argv.contains("--digest")) {
      println(workload.digest(seed))
      return
    }
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val dir = new File(args("dir")).getAbsolutePath
    System.exit(new Main(workload, seed, seconds, traced, cores, dir).run())
  }

  /** The mean of the slowest ceil(n / TailShare) of `xs`. */
  def tail(xs: Seq[Double]): Double = {
    val k = (xs.length + TailShare - 1) / TailShare
    xs.sorted.takeRight(k).sum / k
  }

  /** Linear interpolation between the closest ranks, which on a few
    * samples blends the two neighbouring order statistics instead of
    * jumping to whichever single operation lands on the rank.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = r.toInt
    if (lo + 1 >= s.length) s.last else s(lo) + (r - lo) * (s(lo + 1) - s(lo))
  }
}

final class Main(workload: Workload, seed: Long, seconds: Double, traced: Boolean, cores: Int, dir: String) {
  import Main._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var opCount = 0
  private var warmupFailures = 0
  private var gcS = 0.0

  private def startSession(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // the status store keeps every job, stage and SQL execution up to
      // these limits; the defaults let it grow with the run's length and
      // blur mem_retained_mb, which should show the program's own state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = new Tracer(traced)
    spark.sparkContext.addSparkListener(tracer)
  }

  /** Session start and input generation. */
  private def setupOnce(): Seq[Op] = {
    if (spark != null) spark.stop()
    startSession()
    workload.setup(spark, seed, s"$dir/inputs")
  }

  /** One untimed pass over the cycle: JIT, codegen caches and lazy
    * Spark state settle before anything is timed.
    */
  private def warmUp(ops: Seq[Op]): Unit = ops.foreach { op =>
    val s = runOp(op, heap = false)
    if (!s.check.ok) {
      warmupFailures += 1
      System.err.println(s"[bench] warm-up ${op.name} FAILED: ${s.check.detail}")
    }
  }

  /** A round: passes over the cycle in its order, the first over every
    * operation, the later ones over those due more samples (Op.samples).
    */
  private def passes(ops: Seq[Op]): Seq[Seq[Op]] =
    (1 to ops.map(_.samples).max).map(i => ops.filter(_.samples >= i))

  /** Runs one operation; with `heap` it also samples the heap after a full GC. */
  private def runOp(op: Op, heap: Boolean): Sample = {
    val sc = spark.sparkContext
    opCount += 1
    val group = s"op-$opCount"
    sc.setJobGroup(group, op.name)
    tracer.currentOp = group
    // writes finished before this operation belong to no operation
    sc.listenerBus.waitUntilEmpty()
    tracer.writes.clear()
    val before = sc.getPersistentRDDs.keySet
    val ctx = new Ctx(opCount, traced)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val verdict =
      try Right(ctx.span("bench", op.name)(op.body(ctx)))
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime - t0) / 1e9
    val endMs = System.currentTimeMillis
    sc.listenerBus.waitUntilEmpty()
    tracer.currentOp = ""
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileNs = CodeGenerator.compileTime - compileNs0
    val written = Iterator.continually(tracer.writes.poll()).takeWhile(_ != null).toSeq
    val check = verdict match {
      case Left(e) => Check(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(f) =>
        val c = try f() catch { case e: Throwable => Check(ok = false, s"check threw $e") }
        // the materialisation guard: every timed write consumed a plan
        // producing every column of the frame it was given
        if (written == ctx.writes.toSeq) c
        else c.copy(ok = false, detail = s"materialisation guard: sinks consumed $written, frames had ${ctx.writes}")
    }
    sc.clearJobGroup()
    val heapUsed = if (!heap) 0L else {
      val g0 = System.nanoTime
      System.gc()
      gcS += (System.nanoTime - g0) / 1e9
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val created = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val leakedBytes = sc.getRDDStorageInfo.filter(i => created.contains(i.id)).map(i => i.memSize + i.diskSize).sum
    created.values.foreach(_.unpersist(blocking = true))
    System.err.println(f"[bench] ${op.name} ${dt}%.3fs heap ${heapUsed / 1048576}MB ${check.counts.mkString(",")}${if (check.ok) "" else " FAILED: " + check.detail}")
    Sample(op, opCount, dt, startMs, endMs, check, heapUsed, created.size, leakedBytes, compiles, compileNs,
      ctx.spans.toSeq)
  }

  def run(): Int = {
    val setupTimes = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime
      val ops = setupOnce()
      ((System.nanoTime - t0) / 1e9, ops)
    }
    val ops = setupTimes.last._2
    System.err.println(s"[bench] setup rounds ${setupTimes.map(_._1)}")
    val w0 = System.nanoTime
    warmUp(ops)
    System.err.println(s"[bench] warm-up ${(System.nanoTime - w0) / 1e9}")
    val setupS = percentile(setupTimes.map(_._1), 50) + (System.nanoTime - w0) / 1e9
    val samples = mutable.ArrayBuffer[Sample]()
    // rounds until --seconds have passed, at least one
    val taken = mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    var rounds = 0
    val m0 = System.nanoTime
    while (rounds == 0 || System.nanoTime < deadline) {
      for (pass <- passes(ops); op <- pass) {
        // the heap is sampled after an operation's first sample only: a
        // repeat retains what the first one did
        val s = runOp(op, heap = taken(op.name).isEmpty)
        samples += s
        taken(op.name) :+= s.seconds
      }
      rounds += 1
    }
    System.err.println(s"[bench] measured for ${(System.nanoTime - m0) / 1e9}s: ${samples.map(_.seconds).sum}s in " +
      s"operations, ${gcS}s in the heap samples' GCs")
    val failed = samples.count(!_.check.ok)
    // an operation's latency is the median of its samples
    val perOp = ops.map(op => (op.rows, percentile(taken(op.name), 50)))
    val lat = perOp.map(_._2)
    val rowsPerS = perOp.map(_._1).sum / lat.sum
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", rowsPerS, "1/s"),
        ("op_p50_s", percentile(lat, 50), "s"),
        ("op_tail_s", tail(lat), "s"),
        ("mem_retained_mb", samples.map(_.heapAfterGc).max / 1048576.0, "MB"))
      else Layers.metrics(samples.toSeq, tracer) :+ (("trace.rows_per_s", rowsPerS, "1/s"))
    if (traced) Layers.writeTrace(new File(s"$dir/trace/${workload.name}-seed$seed.json"), samples.toSeq, tracer, rounds, metrics)
    System.err.println(f"[bench] ${workload.name} seed=$seed: ${samples.length} ops in $rounds rounds, " +
      f"$failed failed, fail_ratio ${failed.toDouble / samples.length}%.4f")
    spark.stop()
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${Layers.num(v)}, "unit": "$u"}""" }
    val correct = failed == 0 && warmupFailures == 0
    println(s"""{"correct": $correct, "attempted": ${samples.length}, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    0
  }
}
