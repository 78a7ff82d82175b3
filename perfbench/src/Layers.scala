package org.apache.spark.sql.graftbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run and the trace file it writes. Each
  * sample is weighted by one over its operation's sample count, so every
  * metric reads "per pass over the workload's operation cycle" however
  * often each operation was sampled.
  */
object Layers {
  /** Spans whose summed duration is reported as `<span>_ms`. */
  private val timedSpans = Seq(
    "ml.fe_fit", "ml.glm_fit", "ml.ols_fit",
    "ops.grouped", "ops.dummies", "ops.lags",
    "graph.pagerank", "graph.ppr", "graph.hits", "graph.kcore", "graph.bfs", "graph.labelprop",
    "dedup.exact", "dedup.minhash", "dedup.cc", "dedup.survivors",
    "text.stats", "text.tokenize", "sim.embed", "sim.ann", "sources.write")

  private val iterCounts = Seq("fe_sweeps", "glm_iters", "graph_iters")

  private def jobWallMs(s: Sample, c: OpCounters): Long =
    Intervals.union(c.jobIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a })

  /** One over the number of samples of each sample's operation. */
  private def weights(samples: Seq[Sample]): Sample => Double = {
    val n = samples.groupBy(_.op.name).map { case (op, ss) => op -> ss.length }
    s => 1.0 / n(s.op.name)
  }

  def metrics(samples: Seq[Sample], tracer: Tracer): Seq[(String, Double, String)] = {
    val groups = tracer.counterGroups
    val w = weights(samples)
    val cs = samples.map(s => s -> groups.getOrElse(s"op-${s.index}", new OpCounters))
    def per(of: Seq[Sample])(f: Sample => Double) = of.map(s => w(s) * f(s)).sum
    def tot(f: OpCounters => Long) = cs.map { case (s, c) => w(s) * f(c) }.sum
    def count(key: String, of: Seq[Sample] = samples) = per(of)(_.check.counts.getOrElse(key, 0.0))
    val iterative = samples.filter(_.op.iterative)
    val iters = iterCounts.map(count(_, iterative)).sum
    def perIter(v: Double) = if (iters > 0) v / iters else 0.0
    val spanMs = samples.flatMap(s => s.spans.map(sp => sp.name -> w(s) * sp.durMs)).groupBy(_._1)
      .map { case (n, xs) => n -> xs.map(_._2).sum }
    val cand = count("candidate_pairs")
    Seq(
      ("catalyst.plan_ms", tot(_.planMs), "ms"),
      ("codegen.compiles", per(samples)(_.compiles.toDouble), "count"),
      ("codegen.compile_ms", per(samples)(_.compileNs / 1e6), "ms"),
      ("codegen.compiles_per_iter", perIter(per(iterative)(_.compiles.toDouble)), "count"),
      ("driver.only_ms", cs.map { case (s, c) => w(s) * (s.seconds * 1e3 - jobWallMs(s, c)) }.sum, "ms"),
      ("exec.jobs", tot(_.jobs), "count"),
      ("exec.stages", tot(_.stages), "count"),
      ("exec.tasks", tot(_.tasks), "count"),
      ("exec.jobs_per_iter", perIter(cs.filter(_._1.op.iterative).map { case (s, c) => w(s) * c.jobs }.sum), "count"),
      ("exec.sched_delay_ms", tot(_.schedDelayMs), "ms"),
      ("exec.failed_tasks", tot(_.failedTasks), "count"),
      ("exec.task_busy_ms", tot(_.busyMs), "ms"),
      ("exec.job_wall_ms", cs.map { case (s, c) => w(s) * jobWallMs(s, c) }.sum, "ms"),
      ("exec.shuffle_read_mb", tot(_.shuffleRead) / 1048576.0, "MB"),
      ("exec.shuffle_write_mb", tot(_.shuffleWrite) / 1048576.0, "MB"),
      ("exec.spill_mb", tot(_.spill) / 1048576.0, "MB"),
      ("exec.gc_ms", tot(_.gcMs), "ms"),
      ("ml.fe_sweeps", count("fe_sweeps"), "count"),
      ("ml.glm_iters", count("glm_iters"), "count"),
      ("graph.iters", count("graph_iters"), "count"),
      ("graftbridge.leaked_rdds", per(samples)(_.leakedRdds.toDouble), "count"),
      ("graftbridge.leaked_mb", per(samples)(_.leakedBytes / 1048576.0), "MB"),
      ("dedup.candidate_pairs", cand, "count"),
      ("dedup.candidate_yield", if (cand > 0) count("true_pairs") / cand else 0.0, "ratio")
    ) ++ timedSpans.map(n => (s"${n}_ms", spanMs.getOrElse(n, 0.0), "ms"))
  }

  /** Self time of each span: its duration minus what its children cover. */
  def selfMs(spans: Seq[Span]): Seq[(Span, Double)] = spans.map { s =>
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s -> (s.endNs - s.startNs - Intervals.union(kids)) / 1e6
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def writeTrace(file: File, samples: Seq[Sample], tracer: Tracer, rounds: Int,
      metrics: Seq[(String, Double, String)]): Unit = {
    file.getParentFile.mkdirs()
    val groups = tracer.counterGroups
    val weight = weights(samples)
    val self = samples.flatMap(s => selfMs(s.spans).map { case (sp, ms) => sp.layer -> weight(s) * ms })
    val layers = self.groupBy(_._1).map { case (l, xs) => s"${str(l)}: ${num(xs.map(_._2).sum)}" }
    val ops = samples.map { s =>
      val c = groups.getOrElse(s"op-${s.index}", new OpCounters)
      val spans = selfMs(s.spans).map { case (sp, selfT) =>
        s"""{"id": ${sp.id}, "parent": ${sp.parent}, "op": ${sp.op}, "layer": ${str(sp.layer)}, """ +
          s""""name": ${str(sp.name)}, "start_ns": ${sp.startNs}, "end_ns": ${sp.endNs}, "self_ms": ${num(selfT)}}"""
      }
      s"""{"op": ${s.index}, "name": ${str(s.op.name)}, "seconds": ${num(s.seconds)}, "ok": ${s.check.ok}, """ +
        s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, "plan_ms": ${c.planMs}, """ +
        s""""job_wall_ms": ${jobWallMs(s, c)}, "compiles": ${s.compiles}, "leaked_rdds": ${s.leakedRdds}, """ +
        s""""counts": {${s.check.counts.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")}}, """ +
        s""""spans": [${spans.mkString(", ")}]}"""
    }
    val w = new PrintWriter(file, "UTF-8")
    try w.write(
      s"""{"rounds": $rounds,
         | "metrics": {${metrics.map { case (n, v, u) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString(", ")}},
         | "layer_self_ms_per_cycle": {${layers.mkString(", ")}},
         | "ops": [
         |  ${ops.mkString(",\n  ")}
         | ]}
         |""".stripMargin)
    finally w.close()
  }
}
