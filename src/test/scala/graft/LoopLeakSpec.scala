package graft

import org.apache.spark.graftspec.DriverBlocks
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The loop leak invariant: after an iterative operator returns and its
  * result is materialized, the only RDD blocks it left behind belong to
  * RDDs its result still reads — the result plan's `LogicalRDD` leaves
  * and their dependency closure. A superseded generation that was never
  * released fails this; a release that came too early fails the `noop`
  * write (or re-creates blocks the result does not own). Spark's
  * ContextCleaner may free an unreferenced RDD after a GC, so the check
  * can miss a leak, but it never reports one that is not there.
  */
class LoopLeakSpec extends SparkSpec {
  import spark.implicits._

  private def closure(roots: Seq[RDD[_]]): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def visit(r: RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => visit(d.rdd))
    roots.foreach(visit)
    seen.toSet
  }

  /** Runs `op`, materializes every frame it returns with a `noop`
    * write, and checks the blocks it created against the frames'
    * reachable RDDs.
    */
  private def assertNoLeak(name: String)(op: => Seq[DataFrame]): Unit = {
    spark.sparkContext // the block manager exists once the session does
    val before = DriverBlocks.rddsWithBlocks
    val results = op
    results.foreach(_.write.format("noop").mode("overwrite").save())
    val reachable = closure(results.flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }))
    val leaked = DriverBlocks.rddsWithBlocks -- before -- reachable
    assert(leaked.isEmpty, s"$name left blocks of unreachable RDDs ${leaked.toSeq.sorted}")
  }

  private lazy val graph = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L), (2L, 4L), (6L, 7L), (7L, 8L)
  ).toDF("src", "dst")

  private lazy val vecs = (0 until 24).map { i =>
    (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat))
  }.toDF("id", "vec")

  private def leakTest(name: String)(op: => Seq[DataFrame]): Unit =
    test(s"$name leaves blocks only for RDDs its result reads")(assertNoLeak(name)(op))

  leakTest("PageRank.run")(Seq(graft.graph.PageRank.run(graph, iters = 2)))

  leakTest("PageRank.personalized")(Seq(graft.graph.PageRank.personalized(
    graph, Seq((1L, 1.0)).toDF("node", "weight"), iters = 2)))

  leakTest("Hits.run")(Seq(graft.graph.Hits.run(graph, iters = 1)))

  leakTest("KCore.core")(Seq(graft.graph.KCore.core(graph, k = 2)))

  leakTest("Bfs.hopDistance")(Seq(graft.graph.Bfs.hopDistance(
    graph, Seq(1L).toDF("node"), maxHops = 3)))

  leakTest("LabelProp.run")(Seq(graft.graph.LabelProp.run(graph, iters = 2)))

  leakTest("ConnectedComponents.components")(Seq(
    graft.dedup.ConnectedComponents.components(graph, "src", "dst")))

  leakTest("AnnGraph.knnGraph")(Seq(
    graft.sim.AnnGraph.knnGraph(vecs, "id", "vec", dims = 8, k = 3, sweeps = 1)))

  leakTest("Mmr.rerank")(Seq(graft.sim.Mmr.rerank(
    vecs.select(lit("q").as("qid"), col("id").as("cid"), (col("id") / 24.0).as("rel"), col("vec")),
    "qid", "cid", "rel", "vec", k = 2, lambda = 0.5)))

  leakTest("Lda.fit") {
    val counts = Seq(
      ("d1", "spark", 3.0), ("d1", "shuffle", 2.0), ("d2", "spark", 1.0),
      ("d2", "poem", 4.0), ("d3", "poem", 3.0), ("d3", "verse", 2.0)
    ).toDF("doc", "word", "cnt")
    val m = graft.text.Lda.fit(counts, "doc", "word", "cnt", k = 2, iters = 2)
    Seq(m.theta, m.phi)
  }

  leakTest("BradleyTerry.fit") {
    val duels = Seq(
      ("a", "b"), ("a", "b"), ("b", "c"), ("a", "c"), ("c", "b"), ("a", "d"), ("d", "c")
    ).toDF("w", "l")
    Seq(graft.ml.BradleyTerry.fit(duels, "w", "l", iters = 2))
  }

  leakTest("Eval.mannWhitney") {
    val sample = Seq((1.0, 1), (3.0, 1), (3.0, 1), (2.0, 0), (3.0, 0)).toDF("v", "f")
    Seq(graft.ml.Eval.mannWhitney(sample, "v", "f"))
  }

  // five sweeps: checkpoints at sweeps 4 and 5, the first superseded
  leakTest("Raking.ipf") {
    val cells = Seq(("a", "x", 10.0), ("a", "y", 30.0), ("b", "x", 20.0), ("b", "y", 40.0))
      .toDF("r", "c", "n")
    Seq(graft.ml.Raking.ipf(cells, "r", "c", "n",
      Seq(("a", 60.0), ("b", 40.0)).toDF("r", "target"),
      Seq(("x", 50.0), ("y", 50.0)).toDF("c", "target"), iters = 5))
  }

  leakTest("Glm.poissonFE") {
    // three IRLS steps: the source frame and one η checkpoint superseded
    val m = graft.ml.Glm.poissonFE(
      LoopLeakSpec.separatedPanel(spark), "y", Seq("x"), Seq("g"), maxIter = 3)
    assert(m.droppedSeparated > 0 && m.iters == 3)
    Seq(m.frame)
  }

  // two FEs over the broadcast gate keep their vectors distributed and
  // their effect tables as checkpoints: the returned frame reads the last
  // fit's tables, and the superseded fit's are released with its η frame
  test("Glm.poissonFE through the FE frame regime keeps the checkpoint its frame reads") {
    val panel = LoopLeakSpec.separatedPanel(spark).where(col("g") =!= "g4")
      .withColumn("h", concat(lit("h"), (monotonically_increasing_id() % 3).cast("string")))
    spark.conf.set("spark.graft.fe.broadcastGroupLimit", "2") // < 3 groups
    try assertNoLeak("Glm.poissonFE over the gate") {
      val m = graft.ml.Glm.poissonFE(panel, "y", Seq("x"), Seq("g", "h"),
        collectCellLimit = 0, maxIter = 2)
      assert(m.iters == 2)
      Seq(m.frame)
    } finally spark.conf.unset("spark.graft.fe.broadcastGroupLimit")
  }

  test("FixedEffects.fit with both FEs over the broadcast gate leaves blocks only for its effect tables") {
    val panel = (0 until 48).map { i =>
      (s"u${i % 8}", s"t${(i / 3) % 6}", math.sin(i * 0.7), math.cos(i * 0.3) + i % 8 * 0.5)
    }.toDF("u", "t", "x", "y")
    spark.conf.set("spark.graft.fe.broadcastGroupLimit", "4") // < 6 and 8 groups
    try assertNoLeak("FixedEffects.fit over the gate") {
      val m = graft.ml.FixedEffects.fit(panel, "y", Seq("x"), Seq("u", "t"), collectCellLimit = 0)
      m.demeaned +: m.effectTables
    } finally spark.conf.unset("spark.graft.fe.broadcastGroupLimit")
  }
}

object LoopLeakSpec {

  /** A small Poisson panel with one FE group whose outcome is all zero,
    * so `Glm.poissonFE` runs its separated-group drop loop.
    */
  def separatedPanel(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val rows = (0 until 60).map { i =>
      val x = math.sin(i * 0.37)
      val g = s"g${i % 5}"
      (x, g, if (g == "g4") 0.0 else math.floor(math.exp(0.3 + 0.5 * x) * (1 + i % 3)))
    }
    rows.toDF("x", "g", "y")
  }
}
