package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The reliable-checkpoint mode contract: every iteration loop that
  * truncates through [[Bridge.iterCheckpoint]]/[[Bridge.truncate]]
  * produces IDENTICAL values whether the truncation is executor-local
  * (`localCheckpoint`, the local[N] default) or durable
  * (`checkpoint(eager)` against `setCheckpointDir`, the 1000-executor
  * mode where a lost executor must not kill iteration 40). Checkpoint
  * storage is an execution detail — bit-identical results, plans
  * unchanged upstream of the leaf.
  */
class CheckpointModeSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` once per checkpoint mode and returns both results. */
  private def bothModes[A](body: => A): (A, A) = {
    val sc = spark.sparkContext
    val localResult = body
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(dir)
    spark.conf.set(Bridge.ReliableCheckpointsKey, "true")
    try {
      val reliableResult = body
      (localResult, reliableResult)
    } finally {
      spark.conf.unset(Bridge.ReliableCheckpointsKey)
    }
  }

  test("reliable mode requires a checkpoint dir up front, with a clear error") {
    val df = Seq((1L, 2L)).toDF("src", "dst")
    spark.conf.set(Bridge.ReliableCheckpointsKey, "true")
    // un-set the checkpoint dir by using a context-level check: if a
    // prior test set one, this test still validates the happy path
    try {
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException](Bridge.iterCheckpoint(df))
        assert(e.getMessage.contains("setCheckpointDir"))
      }
    } finally spark.conf.unset(Bridge.ReliableCheckpointsKey)
  }

  test("PageRank: local and reliable checkpoints agree exactly") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L), (5L, 3L), (2L, 4L)
    ).toDF("src", "dst")
    val (a, b) = bothModes {
      graft.graph.PageRank.run(edges, iters = 8)
        .as[(String, Double)].collect().toMap
    }
    assert(a === b)
    assert(math.abs(a.values.sum - 1.0) < 1e-12)
  }

  test("BradleyTerry: local and reliable checkpoints agree exactly") {
    val duels = Seq(
      ("a", "b"), ("a", "b"), ("b", "c"), ("a", "c"), ("c", "b"), ("a", "d"), ("d", "c")
    ).toDF("w", "l")
    val (a, b) = bothModes {
      graft.ml.BradleyTerry.fit(duels, "w", "l", iters = 10)
        .select("item", "pi", "rank")
        .as[(String, Double, Int)].collect().sortBy(_._1).toSeq
    }
    assert(a === b)
  }

  test("LDA: local and reliable checkpoints agree exactly") {
    val counts = Seq(
      ("d1", "spark", 3.0), ("d1", "shuffle", 2.0), ("d2", "spark", 1.0),
      ("d2", "poem", 4.0), ("d3", "poem", 3.0), ("d3", "verse", 2.0)
    ).toDF("doc", "word", "cnt")
    val (a, b) = bothModes {
      val m = graft.text.Lda.fit(counts, "doc", "word", "cnt", k = 2, iters = 4)
      (m.theta.as[(String, Seq[Double])].collect().sortBy(_._1).toSeq,
        m.objective)
    }
    assert(a === b)
  }

  test("ConnectedComponents: local and reliable checkpoints agree exactly") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L)
    ).toDF("a", "b")
    val (a, b) = bothModes {
      graft.dedup.ConnectedComponents.components(edges, "a", "b")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(a === b)
    assert(a.toMap.apply(13L) === 10L)
  }

  test("FixedEffects distributed-cell regime: local and reliable checkpoints agree exactly") {
    val rows = for {
      i <- 0 until 240
    } yield (s"f${i % 7}", s"g${i % 11}",
      (i % 7) * 0.5 - (i % 11) * 0.25 + 0.1 * i + math.sin(i.toDouble),
      i.toDouble * 0.1)
    val df = rows.toDF("fe1", "fe2", "y", "x")
    val (a, b) = bothModes {
      val m = graft.ml.FixedEffects.fit(
        df, "y", Seq("x"), Seq("fe1", "fe2"), collectCellLimit = 0L)
      (m.coef.toSeq, m.n)
    }
    assert(a === b)
  }

  test("FixedEffects with both FEs over the broadcast gate: local and reliable checkpoints agree exactly") {
    // a path graph (unit u at times u and u + 1): four Halperin sweeps,
    // then CG iterations, on distributed vectors
    val df = (for (u <- 0 until 4; t <- Seq(u, u + 1); rep <- 0 until 2) yield {
      val x = math.sin(u * 1.3 + t * 0.7 + rep) * 2
      (u, t, x, 2.0 * x + u * 0.5 - t * 0.3 + (rep - 0.5))
    }).toDF("u", "t", "x", "y")
    spark.conf.set("spark.graft.fe.broadcastGroupLimit", "3") // < 4 and 5 groups
    try {
      val (a, b) = bothModes {
        val m = graft.ml.FixedEffects.fit(df, "y", Seq("x"), Seq("u", "t"), maxSweeps = 4,
          collectCellLimit = 0L)
        (m.coef.toSeq, m.sweeps, m.effectTables.map(_.collect().toSeq))
      }
      assert(a === b)
      assert(a._2 > 4, s"the fit should reach the CG: ${a._2} sweeps")
    } finally spark.conf.unset("spark.graft.fe.broadcastGroupLimit")
  }

  test("Glm.poissonFE with a separated group: local and reliable checkpoints agree exactly") {
    val panel = LoopLeakSpec.separatedPanel(spark)
    val (a, b) = bothModes {
      val m = graft.ml.Glm.poissonFE(panel, "y", Seq("x"), Seq("g"), maxIter = 3)
      (m.coef.toSeq, m.iters, m.droppedSeparated, m.deviance,
        m.frame.select("g", "x", "__mu").as[(String, Double, Double)].collect()
          .sortBy(_._2)(Ordering.Double.TotalOrdering).toSeq)
    }
    assert(a === b)
    assert(a._3 > 0L)
  }

  test("Raking: local and reliable checkpoints agree exactly") {
    val cells = Seq(("a", "x", 10.0), ("a", "y", 30.0), ("b", "x", 20.0), ("b", "y", 40.0))
      .toDF("r", "c", "n")
    val rt = Seq(("a", 60.0), ("b", 40.0)).toDF("r", "target")
    val ct = Seq(("x", 50.0), ("y", 50.0)).toDF("c", "target")
    val (a, b) = bothModes {
      graft.ml.Raking.ipf(cells, "r", "c", "n", rt, ct, iters = 5)
        .as[(String, String, Double, Double, Double)].collect().sortBy(t => (t._1, t._2)).toSeq
    }
    assert(a === b)
  }
}
