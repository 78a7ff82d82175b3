package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Binary-classifier evaluation over a score column — the measurement
  * side of the model-based curation operators
  * ([[graft.text.QualityModel]], [[graft.text.NaiveBayes]],
  * [[graft.ops.Calibrate]]).
  */
object Eval {

  /** Exact ROC AUC via the Mann–Whitney rank-sum identity with average
    * ranks for ties:
    *
    *   AUC = Σ_s pos(s) · (negBelow(s) + neg(s)/2) / (P·N)
    *
    * Scale shape: the corpus collapses to per-distinct-score
    * (pos, neg) counts in one shuffle. The cumulative negBelow then
    * needs a GLOBAL prefix sum over scores — a naive
    * `Window.orderBy(score)` with no partition key funnels every
    * distinct score through ONE task, so instead the prefix sum is
    * two-level: distinct scores are range-bucketed, per-bucket windows
    * run in parallel, and the (tiny, #buckets-sized) bucket totals
    * frame joins back as each bucket's starting offset. Every count is
    * an exact integer; the one division happens last.
    */
  def auc(df: DataFrame, scoreCol: String, labelCol: String, buckets: Int = 256): Double = {
    val (num, p, n, _) = rankSumCore(df, scoreCol, labelCol, buckets)
    num / (p.toDouble * n.toDouble)
  }

  /** Shared rank-sum machinery: (Σ pos·(negBelow + neg/2), P, N,
    * Σ(t³−t) over tied values) — the numerator is both AUC·P·N and the
    * Mann–Whitney U of the positive sample; the tie term feeds the
    * U-test variance correction.
    */
  private def rankSumCore(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      buckets: Int
  ): (Double, Long, Long, Double) = {
    // ONE pass over the input: the per-value counts are checkpointed
    // (three consumers below — min/max, the bucket offsets and the final
    // aggregate — previously re-ran the full groupBy(s) scan each), and
    // the min/max fold into the checkpoint action as observed metrics
    // (opt guide §1.2: the former 3 full scans + 1 extra job are now one
    // scan + two tiny jobs over the value-distinct frame).
    val Bridge.Checkpointed(counts, mm) = Bridge.checkpointStep(
      df.groupBy(col(scoreCol).cast("double").as("s"))
        .agg(
          sum(col(labelCol).cast("int")).cast("long").as("pos"),
          sum(lit(1) - col(labelCol).cast("int")).cast("long").as("neg")),
      "rank-sum-counts",
      Seq(min(col("s")).as("lo"), max(col("s")).as("hi")))
    val (lo, hi) = (mm.getAs[Double](0), mm.getAs[Double](1))
    val width = if (hi > lo) (hi - lo) / buckets else 1.0
    val bucketed = counts.withColumn(
      "b", least(floor((col("s") - lit(lo)) / lit(width)), lit(buckets - 1)).cast("int"))

    // tiny frame: one row per non-empty bucket, prefix-summed on the
    // driver (#buckets longs), broadcast-joined back as each bucket's
    // starting offset
    val spark = df.sparkSession
    import spark.implicits._
    val bucketNeg = bucketed.groupBy("b").agg(sum("neg").as("bn")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = bucketNeg.map(_._1)
      .zip(bucketNeg.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    val offsetsDf = offsets.toSeq.toDF("b", "off")

    val wb = Window.partitionBy("b").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val row = bucketed
      .withColumn("cum_in_b", sum(col("neg")).over(wb) - col("neg"))
      .join(broadcast(offsetsDf), Seq("b"))
      .withColumn("neg_below", col("cum_in_b") + col("off"))
      .agg(
        sum(col("pos").cast("double") * (col("neg_below").cast("double") + col("neg").cast("double") / 2.0)).as("num"),
        sum("pos").as("p"),
        sum("neg").as("nn"),
        // t*t*t, not pow(t,3): pow is only ~1-ulp accurate and the two
        // engines' libms may disagree; the product of exact integers is
        // exact in double on both
        sum((col("pos") + col("neg")).cast("double") * (col("pos") + col("neg")) *
          (col("pos") + col("neg")) - (col("pos") + col("neg"))).as("ties"))
      .head()
    Bridge.releaseCheckpoints(counts)
    (row.getDouble(0), row.getLong(1), row.getLong(2), row.getDouble(3))
  }

  /** Mann–Whitney U test (two-sample rank-sum, average-rank ties) —
    * the nonparametric member of the location-test family beside
    * [[graft.ops.Stats.welchT]] (parametric) and
    * [[graft.ops.Drift.ksTest]] (whole-distribution): is the flagged
    * sample stochastically larger? Reuses [[auc]]'s two-level prefix
    * sum — the U of the flagged sample IS AUC·n1·n0, computed here with
    * the integer-exact numerator (no round-trip through the AUC ratio).
    * Normal approximation with the tie-corrected variance
    *
    *   σ² = (n1·n0/12)·((N+1) − Σ(t³−t)/(N(N−1)))
    *
    * — every input an exact integer, the closed forms evaluated last.
    * One row out; nothing corpus-sized collected.
    */
  def mannWhitney(
      df: DataFrame,
      valueCol: String,
      flagCol: String,
      buckets: Int = 256): DataFrame = {
    val (u, n1, n0, ties) = rankSumCore(df, valueCol, flagCol, buckets)
    val nn = (n1 + n0).toDouble
    val mu = n1.toDouble * n0.toDouble / 2.0
    val sigma = math.sqrt(
      n1.toDouble * n0.toDouble / 12.0 * ((nn + 1.0) - ties / (nn * (nn - 1.0))))
    val z = (u - mu) / sigma
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n1, n0, u, mu)).toDF("n1", "n0", "u", "mu")
      .withColumn("sigma", round(lit(sigma), 6))
      .withColumn("z", round(lit(z), 6))
  }

  /** Binned calibration report — per-bin reliability table plus ECE and
    * Brier score as constant columns: does a probability-emitting
    * curation model MEAN what it says (a 0.9 that is right 70% of the
    * time over-filters silently)? The companion to [[auc]] (ranking
    * quality) and [[graft.ops.Calibrate]] (the fix — isotonic/percentile
    * remapping); this is the gauge that says whether the fix is needed.
    *
    * Bins are equal-width on [0,1]: bin = min(⌊p·bins⌋, bins−1). Per
    * bin: n, positives, mean score (confidence), empirical accuracy,
    * and |gap|. The aggregates use the identity
    * n_b·|conf_b − acc_b| = |Σp − Σy|, so
    *
    *   ECE  = Σ_b |Σ_b p − Σ_b y| / N
    *   Brier = Σ (p−y)² / N
    *
    * ride the same per-bin sums with the divisions last — one shuffle
    * on the bin key (bins-sized), one broadcast of the 1-row totals.
    * Every step is plain IEEE arithmetic, cross-engine replayable.
    */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String, bins: Int = 10): DataFrame = {
    val p = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val per = df
      .select(
        least(floor(p * bins), lit(bins - 1)).cast("int").as("bin"),
        p.as("p"),
        y.cast("double").as("y"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum("y").cast("long").as("n_pos"),
        sum("p").as("sp"),
        sum(pow(col("p") - col("y"), 2)).as("sq"))
    val tot = per.agg(
      sum("n").cast("double").as("nt"),
      sum(abs(col("sp") - col("n_pos"))).as("gapsum"),
      sum("sq").as("sqt"))
    per
      .crossJoin(broadcast(tot))
      .select(
        col("bin"),
        col("n"),
        col("n_pos"),
        round(col("sp") / col("n"), 6).as("conf"),
        round(col("n_pos").cast("double") / col("n"), 6).as("acc"),
        round(abs(col("sp") - col("n_pos")) / col("n"), 6).as("gap"),
        round(col("gapsum") / col("nt"), 6).as("ece"),
        round(col("sqt") / col("nt"), 6).as("brier"))
      .orderBy("bin")
  }

  /** Precision–recall curve over distinct score thresholds (descending)
    * plus step-wise average precision (the sklearn definition
    * AP = Σ_k (R_k − R_{k−1})·P_k — NOT the interpolated 11-point
    * variant): the ranking gauge that, unlike [[auc]], collapses under
    * class imbalance exactly when retrieval/curation does. Same scale
    * shape as auc: per-distinct-score counts in one shuffle, the
    * cumulative-from-the-top TP/FP via the two-level prefix sum
    * (range-bucketed per-bucket windows + broadcast bucket offsets —
    * no single-partition WindowExec), and ΔR·P is row-local once TP/FP
    * exist, so AP rides one final aggregate.
    *
    * Output: one row per distinct score (threshold, tp, fp, precision,
    * recall — exact-integer ratios, 6dp) with `ap` repeated.
    */
  def prCurve(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      buckets: Int = 256): DataFrame = {
    val counts = df
      .groupBy(col(scoreCol).cast("double").as("s"))
      .agg(
        sum(col(labelCol).cast("int")).cast("long").as("pos"),
        sum(lit(1) - col(labelCol).cast("int")).cast("long").as("neg"))
      .persist()
    val mm = counts.agg(min("s"), max("s")).head()
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val width = if (hi > lo) (hi - lo) / buckets else 1.0
    val bucketed = counts.withColumn(
      "b", least(floor((col("s") - lit(lo)) / lit(width)), lit(buckets - 1)).cast("int"))
    val spark = df.sparkSession
    import spark.implicits._
    // descending prefix: bucket totals prefix-summed from the TOP
    val bt = bucketed.groupBy("b")
      .agg(sum("pos").as("bp"), sum("neg").as("bn")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(-_._1)
    val offs = bt.map(_._1)
      .zip(bt.map(t => (t._2, t._3)).scanLeft((0L, 0L)) {
        case ((ap0, an0), (p0, n0)) => (ap0 + p0, an0 + n0)
      }.dropRight(1))
      .map { case (b, (op, on)) => (b, op, on) }
    val offsDf = offs.toSeq.toDF("b", "offp", "offn")
    val wb = Window.partitionBy("b").orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val withCum = bucketed
      .withColumn("cp", sum(col("pos")).over(wb))
      .withColumn("cn", sum(col("neg")).over(wb))
      .join(broadcast(offsDf), Seq("b"))
      .withColumn("tp", col("cp") + col("offp"))
      .withColumn("fp", col("cn") + col("offn"))
    val totP = counts.agg(sum("pos")).head().getLong(0)
    require(totP > 0, "Eval.prCurve: no positive labels")
    val ap = withCum
      .agg(sum(
        col("pos").cast("double") / lit(totP.toDouble) *
          (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))))
      .head().getDouble(0)
    val out = withCum
      .select(
        col("s").as("threshold"), col("tp"), col("fp"),
        q6(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")).as("precision"),
        q6(col("tp").cast("double") / lit(totP.toDouble)).as("recall"))
      .withColumn("ap", lit(math.floor(ap * 1e6 + 0.5) / 1e6))
      .orderBy(col("threshold").desc)
    counts.unpersist(false)
    out
  }

  /** NDCG@k per query group (Järvelin & Kekäläinen 2002) — the graded
    * retrieval gauge for the [[graft.text.Bm25]]/[[graft.text.Hybrid]]
    * stack: DCG = Σ_{i≤k} (2^relᵢ − 1)/log2(i+1) over results ranked by
    * `scoreCol` (ties broken by `tieCol` — a deterministic total
    * order), IDCG the same sum over relevance re-sorted descending,
    * NDCG their ratio (groups with zero relevant results report 0).
    * Every window is query-keyed; 2^rel is exact for small integer
    * relevance; one row per query out.
    */
  def ndcg(
      df: DataFrame,
      queryCol: String,
      scoreCol: String,
      relCol: String,
      tieCol: String,
      k: Int = 10): DataFrame = {
    val g = Window.partitionBy(col(queryCol))
    val byScore = row_number().over(g.orderBy(col(scoreCol).desc, col(tieCol)))
    val byRel = row_number().over(g.orderBy(col(relCol).desc, col(tieCol)))
    val gain = pow(lit(2.0), col(relCol).cast("double")) - lit(1.0)
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    df.withColumn("__rs", byScore)
      .withColumn("__rr", byRel)
      .groupBy(col(queryCol))
      .agg(
        count(lit(1)).as("n_results"),
        sum(when(col("__rs") <= k, gain / (log(col("__rs").cast("double") + 1.0) / log(lit(2.0)))))
          .as("__dcg"),
        sum(when(col("__rr") <= k, gain / (log(col("__rr").cast("double") + 1.0) / log(lit(2.0)))))
          .as("__idcg"))
      .select(
        col(queryCol), col("n_results"),
        q6(coalesce(col("__dcg"), lit(0.0))).as("dcg"),
        q6(coalesce(col("__idcg"), lit(0.0))).as("idcg"),
        q6(when(col("__idcg") > 0, col("__dcg") / col("__idcg")).otherwise(lit(0.0)))
          .as("ndcg"))
  }

  /** MAP@k + MRR@k per query — the binary-relevance ranking metrics
    * beside [[ndcg]]'s graded one (MRR is THE first-relevant-result
    * metric for QA-style retrieval; AP integrates precision over the
    * relevant hits). Per query, with results ranked by
    * (score DESC, tie): AP@k = Σ_{i≤k, rel_i} P@i / min(R, k) where R
    * is the query's total relevant count (the TREC convention — an
    * unreachable denominator would cap AP below 1 even for a perfect
    * ranking), and RR@k = 1/rank of the first relevant result (0 if
    * none in the top k). Rank arithmetic is exact integers; the only
    * float work is the final rationals — fully SQL-replayable.
    *
    * Scale shape: one query-keyed rank window (hash-partitioned by
    * query — never single-partition), one groupBy. Inputs are top-k
    * shortlists (#queries × k), the [[graft.text.Hybrid]] convention.
    */
  def mapMrr(
      df: DataFrame,
      queryCol: String,
      scoreCol: String,
      relCol: String,
      tieCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "Eval.mapMrr: k must be >= 1")
    val g = Window.partitionBy(col(queryCol))
    val byScore = row_number().over(g.orderBy(col(scoreCol).desc, col(tieCol)))
    val rel = (col(relCol).cast("double") > 0).cast("long")
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val ranked = df
      .withColumn("__rs", byScore)
      .withColumn("__rel", rel)
      // precision@i numerator: relevant count at or above this rank —
      // the same keyed window, cumulative over the rank order
      .withColumn("__relcum",
        sum(col("__rel")).over(
          g.orderBy(col(scoreCol).desc, col(tieCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked
      .groupBy(col(queryCol))
      .agg(
        count(lit(1)).as("n_results"),
        sum(col("__rel")).as("__nrel"),
        sum(when(col("__rs") <= k && col("__rel") === 1L,
          col("__relcum").cast("double") / col("__rs").cast("double"))).as("__apnum"),
        min(when(col("__rs") <= k && col("__rel") === 1L, col("__rs"))).as("__first"))
      .select(
        col(queryCol), col("n_results"), col("__nrel").as("n_relevant"),
        q6(when(col("__nrel") > 0,
          coalesce(col("__apnum"), lit(0.0)) /
            least(col("__nrel"), lit(k.toLong)).cast("double"))
          .otherwise(lit(0.0))).as("ap"),
        q6(coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0))).as("rr"))
  }

  /** Multi-class confusion counts + per-class precision/recall/F1 and
    * the macro/micro summary — the label-model QA table behind
    * [[graft.text.NaiveBayes]]/[[graft.text.LangId]] evaluations. One
    * (truth, predicted) count aggregate (label-space-sized), per-class
    * margins from TWO tiny re-aggregations of it, closed forms last.
    * Micro-F1 over a complete frame equals accuracy; macro averages
    * classes equally (absent-class convention: a class never predicted
    * gets precision 0, never true gets recall 0 — flagged by the zero
    * margins, not dropped: dropping silently inflates macro scores).
    *
    * Output: one row per class in the union of truth/predicted labels
    * (class, n_true, n_pred, tp, precision, recall, f1) with accuracy,
    * macro_f1, micro_f1 repeated (class-cardinality window — free).
    */
  def confusion(df: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val cells = df
      .groupBy(col(truthCol).cast("string").as("t"), col(predCol).cast("string").as("p"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val trues = cells.groupBy(col("t").as("class")).agg(sum("n").as("n_true"))
    val preds = cells.groupBy(col("p").as("class")).agg(sum("n").as("n_pred"))
    val tps = cells.where(col("t") === col("p"))
      .select(col("t").as("class"), col("n").as("tp"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val per = trues
      .join(preds, Seq("class"), "full_outer")
      .join(tps, Seq("class"), "left")
      .na.fill(0L, Seq("n_true", "n_pred", "tp"))
      .withColumn("precision",
        when(col("n_pred") > 0, col("tp").cast("double") / col("n_pred").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("n_true") > 0, col("tp").cast("double") / col("n_true").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
    val w = Window.partitionBy()
    val out = per
      .withColumn("accuracy",
        q6(sum(col("tp")).over(w).cast("double") / sum(col("n_true")).over(w).cast("double")))
      .withColumn("macro_f1", q6(avg(col("f1")).over(w)))
      .withColumn("micro_f1",
        q6(sum(col("tp")).over(w).cast("double") / sum(col("n_true")).over(w).cast("double")))
      .select(
        col("class"), col("n_true"), col("n_pred"), col("tp"),
        q6(col("precision")).as("precision"), q6(col("recall")).as("recall"),
        q6(col("f1")).as("f1"), col("accuracy"), col("macro_f1"), col("micro_f1"))
      .orderBy("class")
    cells.unpersist(false)
    out
  }

  /** Murphy (1973) decomposition of the Brier score over probability
    * bins: REL − RES + UNC with reliability Σ n_b(p̄_b − ō_b)²/N,
    * resolution Σ n_b(ō_b − ō)²/N, uncertainty ō(1 − ō) — "how much of
    * my Brier score is miscalibration (fixable by [[graft.ops
    * .Calibrate]]) vs missing discrimination vs irreducible base
    * rate". Same binned sums as [[calibration]] + the 1-row broadcast
    * totals; one row out. (The identity is exact for the BINNED
    * forecast — the within-bin variance term is the usual binning
    * residue, reported as `brier_residue`.)
    */
  def brierDecomposition(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    val p = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val per = df
      .select(
        least(floor(p * bins), lit(bins - 1)).cast("int").as("bin"),
        p.as("p"), y.cast("double").as("y"))
      .groupBy("bin")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum("p").as("sp"),
        sum("y").as("sy"),
        sum(pow(col("p") - col("y"), 2)).as("sq"))
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    val obar = col("syt") / col("nt")
    per
      .agg(
        sum("n").as("nt"), sum("sy").as("syt"), sum("sq").as("sqt"),
        sum(col("n") * pow(col("sp") / col("n") - col("sy") / col("n"), 2)).as("reln"),
        sum(col("n") * pow(col("sy") / col("n"), 2)).as("resn"))
      .select(
        col("nt").cast("long").as("n"),
        q6(col("sqt") / col("nt")).as("brier"),
        q6(col("reln") / col("nt")).as("reliability"),
        // Σ n(ō_b − ō)²/N = Σ n·ō_b²/N − ō²  (König–Huygens)
        q6(col("resn") / col("nt") - obar * obar).as("resolution"),
        q6(obar * (lit(1.0) - obar)).as("uncertainty"),
        q6(col("sqt") / col("nt") -
          (col("reln") / col("nt") - (col("resn") / col("nt") - obar * obar) +
            obar * (lit(1.0) - obar))).as("brier_residue"))
  }

  /** Decile lift table — the business-facing companion to [[auc]]:
    * rank by score descending (`tieBreak` columns complete a TOTAL
    * order so the decile cut is deterministic and cross-engine
    * replayable — plain `ntile` over tied scores is not), bucket into
    * `buckets` equal slices, report per-bucket response rate, lift vs
    * the base rate, and cumulative lift. Integer counts throughout.
    *
    * Exact equal-count deciles REQUIRE a global rank; it runs through
    * [[graft.ops.Rank.withGlobalNtile]] (range partition + broadcast
    * offsets — identical ntile values, NO single-partition WindowExec),
    * so the scored frame may be corpus-sized. The 10-row cumulative
    * window below is bucket-cardinality, free.
    */
  def liftTable(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      tieBreak: Seq[String],
      buckets: Int = 10
  ): DataFrame = {
    val base = graft.ops.Rank
      .withGlobalNtile(df, "__bkt", buckets,
        col(scoreCol).desc +: tieBreak.map(col(_).asc))
      .groupBy(col("__bkt").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("n_pos"))
    val tot = base.agg(sum("n").as("nt"), sum("n_pos").as("pt"))
    val wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .withColumn("cum_n", sum(col("n")).over(wc))
      .select(
        col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6).as("resp_rate"),
        round((col("n_pos").cast("double") / col("n").cast("double")) /
          (col("pt").cast("double") / col("nt").cast("double")), 4).as("lift"),
        round((col("cum_pos").cast("double") / col("cum_n").cast("double")) /
          (col("pt").cast("double") / col("nt").cast("double")), 4).as("cum_lift"))
      .orderBy("bucket")
  }
}
