package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.storage.StorageLevel

/** Minimal bridge into Spark's `private[sql]` Column construction so
  * graft's custom Catalyst expressions can surface as `Column`s — the
  * same technique Spark-extension libraries use (a shim inside the
  * org.apache.spark.sql package namespace).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def aggColumn(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression(isDistinct = false))

  /** Rebuild a localCheckpoint'ed frame as a LogicalRDD leaf with NO
    * origin stats/constraints. `Dataset.localCheckpoint` deliberately
    * PRESERVES the source plan's statistics on its leaf; in a frame
    * loop where each iteration joins the previous iteration's
    * checkpoints, join size estimation MULTIPLIES those carried
    * sizeInBytes — the digit count compounds per iteration and
    * Catalyst's BigInt stats arithmetic (Karatsuba/Toom-Cook in
    * `SizeInBytesOnlyStatsPlanVisitor`) becomes the driver bottleneck
    * long before any job runs. Dropping origin stats resets each leaf
    * to `defaultSizeInBytes`, keeping every iteration's stats walk
    * constant-cost. No data movement — the same checkpointed RDD backs
    * the new leaf.
    */
  def freshLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(
          ds.sparkSession,
          new LogicalRDD(
            lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
            lr.stream)(ds.sparkSession, None, None))
      case _ => df
    }
  }

  /** [[iterCheckpoint]] that PRESERVES the checkpointed frame's hash
    * partitioning and intra-partition ordering on the rebuilt leaf.
    *
    * `Dataset.localCheckpoint`/`checkpoint` drop outputPartitioning/
    * outputOrdering whenever the executed plan is adaptive (Spark's
    * `LogicalRDD.fromDataset` skips the attribute rewrite under AQE),
    * so every iteration of a frame loop re-exchanges BOTH sides of
    * joins that are in fact co-partitioned. This helper re-reads the
    * TRUE layout from the plan that produced the checkpointed rows —
    * the AQE final physical plan, fixed by the time the checkpoint RDD
    * exists — rewrites its attributes positionally onto the new leaf
    * (exactly what fromDataset does in the non-AQE branch), and claims
    * nothing it cannot prove: only a HashPartitioning whose remapped
    * references all survive in the leaf output is kept, otherwise the
    * leaf stays UnknownPartitioning. Origin stats are dropped as in
    * [[freshLeaf]].
    */
  def iterCheckpointKeyed(df: org.apache.spark.sql.DataFrame, eager: Boolean = true)
      : org.apache.spark.sql.DataFrame =
    checkpointKeyedImpl(df, eager, keepStats = false, "truncate")

  /** [[iterCheckpointKeyed]] for STATIC frames (edge lists, pair
    * tables, count frames consumed by every iteration but never
    * rebuilt from themselves): additionally injects the frame's REAL
    * materialized size (block-store bytes of the just-checkpointed
    * RDD) as the leaf statistics. Loop STATE frames must stay
    * stats-free (freshLeaf rationale — carried stats compound through
    * self-referencing iterations), but a static frame's size is a
    * fact, and without it a small edge/pair frame loses every
    * broadcast-join fast path it had when it was persist()ed
    * (InMemoryRelation reports accurate sizes; a stats-free leaf
    * reports defaultSizeInBytes = never-broadcast).
    */
  def staticCheckpointKeyed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    checkpointKeyedImpl(df, eager = true, keepStats = true, "truncate")

  private def checkpointKeyedImpl(
      df: org.apache.spark.sql.DataFrame,
      eager: Boolean,
      keepStats: Boolean,
      label: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val exec = ds.queryExecution.executedPlan
    val ck = truncate(df, eager, label)
    val cds = ck.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    cds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        // by now truncate() has executed the plan (even the lazy path
        // builds the RDD, which forces AQE's final plan), so this IS
        // the plan whose rows the checkpoint holds
        val finalPlan = exec match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        // fail fast instead of mis-joining (r12 advice): the attribute
        // remap below is POSITIONAL, and the claimed partitioning is
        // only physically true if the checkpoint RDD really is the
        // final plan's layout — any future change to truncate() that
        // broke either invariant would otherwise produce silently
        // wrong co-partitioned joins
        require(finalPlan.output.length == lr.output.length,
          s"checkpointKeyed: leaf arity ${lr.output.length} != plan arity " +
            s"${finalPlan.output.length} — truncate() no longer preserves the layout")
        val attrMap = AttributeMap(finalPlan.output.zip(lr.output))
        val outSet = AttributeSet(lr.output)
        // any expression-bearing partitioning (HashPartitioning, its
        // AQE-coalesced variant, RangePartitioning) remaps; opaque ones
        // stay at the leaf's default (Unknown)
        val part = finalPlan.outputPartitioning match {
          case ep: org.apache.spark.sql.catalyst.expressions.Expression
              with org.apache.spark.sql.catalyst.plans.physical.Partitioning
              // the claim is only physically meaningful when the
              // checkpoint RDD kept the executed plan's partition count
              if ep.numPartitions == lr.rdd.getNumPartitions =>
            val r = ep.transform { case a: Attribute => attrMap.getOrElse(a, a) }
            if (r.references.subsetOf(outSet))
              r.asInstanceOf[org.apache.spark.sql.catalyst.plans.physical.Partitioning]
            else lr.outputPartitioning
          case _ => lr.outputPartitioning
        }
        val ordRemapped = finalPlan.outputOrdering
          .map(so => so.transform { case a: Attribute => attrMap.getOrElse(a, a) }
            .asInstanceOf[org.apache.spark.sql.catalyst.expressions.SortOrder])
        val ord =
          if (ordRemapped.nonEmpty && ordRemapped.forall(_.references.subsetOf(outSet)))
            ordRemapped
          else Nil
        // static frames: exact materialized bytes of the checkpointed
        // blocks, read from the block manager master. Every block was
        // reported to it synchronously before the eager action returned,
        // so there is nothing to wait for, and an empty frame (no blocks,
        // or empty ones) reads 0 bytes. Reliable-checkpoint mode stores
        // no blocks in the block store — it stays stats-free by
        // construction.
        val stats =
          if (!keepStats || lr.rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
            None
          else
            Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
              sizeInBytes = BigInt(blockBytes(lr.rdd.id))))
        org.apache.spark.sql.classic.Dataset.ofRows(
          ds.sparkSession,
          new LogicalRDD(lr.output, lr.rdd, part, ord, lr.isStreaming, lr.stream)(
            ds.sparkSession, stats, None))
      case _ => ck
    }
  }

  /** Memory + disk bytes of RDD `rddId`'s blocks, as the block manager
    * master knows them (no listener-bus lag).
    */
  private def blockBytes(rddId: Int): Long =
    org.apache.spark.SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (org.apache.spark.storage.RDDBlockId(`rddId`, _), st) =>
        st.memSize + st.diskSize
      }
      .sum

  /** Release every checkpoint block reachable from `df`'s plan. This is
    * the one release path for checkpoints: every iteration loop frees
    * its superseded generation here once the successor is materialized
    * (`Dataset.unpersist` on a checkpoint frees nothing — it only drops
    * CacheManager entries, and a checkpoint has none), and library
    * callers free frames built over [[iterCheckpointKeyed]]/
    * [[staticCheckpointKeyed]] leaves here, e.g. MarketBasket's pinned
    * basket frame. Every `LogicalRDD` leaf in the plan is released, so
    * pass a frame whose leaves the caller owns: a loop's own leaf or a
    * projection over it, never a plan over the caller's input. The
    * frame is NOT usable after.
    */
  def releaseCheckpoints(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))

  /** Conf key selecting DURABLE iteration checkpoints. `localCheckpoint`
    * stores blocks on EXECUTOR storage only: on a real multi-executor
    * cluster, losing one executor mid-loop (iteration 40 of PageRank)
    * loses blocks whose lineage was truncated — the job dies. Set this
    * key to "true" (and a checkpoint dir via
    * `spark.sparkContext.setCheckpointDir`) and every iteration loop
    * switches to reliable `checkpoint()` — every loop checkpoints
    * through [[truncate]] (directly, or via [[iterCheckpoint]],
    * [[iterCheckpointKeyed]] and [[checkpointStep]]) or, for RDD state,
    * [[truncateRdd]], and releases its superseded generations through
    * [[releaseCheckpoints]] (RDD state: `unpersist`). Same
    * values, same plans, storage on the fault-tolerant checkpoint FS.
    * Default remains localCheckpoint: right for local[N] and short
    * loops, no distributed FS round-trips.
    */
  val ReliableCheckpointsKey = "spark.graft.checkpoint.reliable"

  /** The library-wide iteration-loop truncation point: localCheckpoint
    * (default) or reliable checkpoint ([[ReliableCheckpointsKey]]),
    * then [[freshLeaf]] so iterated joins don't compound origin stats.
    * `eager` matters identically in both modes (materialize now vs on
    * first action).
    */
  def iterCheckpoint(df: org.apache.spark.sql.DataFrame, eager: Boolean = true)
      : org.apache.spark.sql.DataFrame =
    freshLeaf(truncate(df, eager))

  /** A loop state frame checkpointed by [[checkpointStep]], and the
    * metrics its checkpoint action observed (in the order asked for;
    * empty when none were).
    */
  final case class Checkpointed(leaf: DataFrame, metrics: Row)

  /** One iteration of a checkpointed loop: checkpoint the next state
    * frame and read its convergence scalars in the SAME action.
    *  - `keyed` (default) rebuilds the leaf with the frame's proven
    *    partitioning ([[iterCheckpointKeyed]]); `keyed = false` gives the
    *    plain stats-free leaf ([[iterCheckpoint]]).
    *  - `metrics` are aggregate columns folded into the checkpoint
    *    action as observed metrics, so a loop pays no extra job for its
    *    dangling mass, norm or change count.
    *  - Under GRAFT_EXPLAIN_ITER the plan prints once, under `label`.
    * The checkpoint is eager. The caller releases the superseded
    * generation with [[releaseCheckpoints]] once this returns.
    */
  def checkpointStep(
      df: DataFrame,
      label: String,
      metrics: Seq[Column] = Nil,
      keyed: Boolean = true): Checkpointed = {
    val obs = if (metrics.isEmpty) None else Some(Observation())
    val observed = obs.fold(df)(o => df.observe(o, metrics.head, metrics.tail: _*))
    val leaf =
      if (keyed) checkpointKeyedImpl(observed, eager = true, keepStats = false, label)
      else freshLeaf(truncate(observed, eager = true, label))
    Checkpointed(leaf, obs.fold(Row.empty)(_.getRow))
  }

  /** Plan-capture hook (measurement only): with GRAFT_EXPLAIN_ITER=1
    * every frame passing through [[truncate]] prints its formatted
    * physical plan, under the caller's label, before truncation hides
    * it behind a LogicalRDD leaf. Off (zero cost) unless the env var is
    * set; used to produce plans/r12/\*_before|after.txt.
    */
  private def explainIter(df: DataFrame, label: String): Unit =
    if (sys.env.contains("GRAFT_EXPLAIN_ITER")) {
      println(s"---------- iter-plan: $label ----------")
      df.explain("formatted")
    }

  /** Mode-aware truncation WITHOUT the freshLeaf stats reset — for
    * frames read a fixed number of times (a loop's source copy, a shared
    * E-step frame, an FE effect table). `label` names the frame in the
    * GRAFT_EXPLAIN_ITER capture.
    */
  def truncate(df: DataFrame, eager: Boolean = true, label: String = "truncate"): DataFrame = {
    explainIter(df, label)
    if (reliable(df.sparkSession)) df.checkpoint(eager) else df.localCheckpoint(eager)
  }

  /** [[truncate]] for an RDD loop state, lazily: `rdd` is marked for a
    * local (default) or reliable ([[ReliableCheckpointsKey]]) checkpoint,
    * which the first job that computes it materializes. Free it with
    * `unpersist`. Returns `rdd`.
    */
  def truncateRdd[T](spark: SparkSession, rdd: RDD[T]): RDD[T] = {
    if (reliable(spark)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd
  }

  private def reliable(spark: SparkSession): Boolean = {
    val on = spark.conf.get(ReliableCheckpointsKey, "false").equalsIgnoreCase("true")
    require(
      !on || spark.sparkContext.getCheckpointDir.isDefined,
      s"$ReliableCheckpointsKey=true needs spark.sparkContext.setCheckpointDir " +
        "(a fault-tolerant FS path) before the first loop runs")
    on
  }

  /** Register a temp SQL function on an EXISTING session (the extension
    * path only covers sessions built with `spark.sql.extensions`).
    */
  def registerTempFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
