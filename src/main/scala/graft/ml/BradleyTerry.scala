package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Bradley–Terry pairwise-preference model (Bradley & Terry 1952) via
  * Hunter's MM algorithm (Hunter 2004) — strength scores from win/loss
  * duels: P(i beats j) = π_i/(π_i + π_j). THE model behind preference-
  * data curation (RLHF/DPO pair quality, annotator-agreement ranking,
  * "which response won" leaderboards) — it turns raw pairwise labels
  * into a consistent global ranking and flags upsets.
  *
  * MM update: π_i ← W_i / Σ_{j≠i} n_ij/(π_i + π_j), with W_i = total
  * wins of i and n_ij = games between i and j; each iteration is one
  * join of the item-strength frame onto the games table + one groupBy —
  * pairs-sized shuffle, items-sized state, nothing driver-side except
  * the convergence scalar. Comparability (one connected component)
  * is the caller's contract — a never-beaten item drives its π to 0,
  * reported, not hidden.
  */
object BradleyTerry {

  /** Fit from a duel table: one row per game, (winnerCol, loserCol).
    * Returns (item, pi, wins, games, rank) with π normalized to sum 1,
    * rank 1 = strongest (ties broken by item for determinism).
    *
    * Runs a FIXED `iters` synchronous MM sweeps (the PageRank
    * convention — deterministic job count, no per-iteration driver
    * round-trips); the MM map is scale-EQUIVARIANT, so normalizing
    * once at the end is exactly the per-iteration-normalized sequence.
    * One eager checkpoint job per iteration.
    *
    * `omega` > 1 over-relaxes in LOG space from sweep 2 on:
    * π ← π·(MM(π)/π)^ω — geometric extrapolation along the MM step,
    * which keeps π positive by construction and stays scale-equivariant
    * (MM(cπ) = c·MM(π) ⇒ the relaxed map commutes with scaling too, so
    * the final normalize is still exact). A linear-rate-ρ MM tail
    * contracts at |1 − ω(1−ρ)| instead of ρ — ω = 1.5 roughly halves
    * the sweeps a slow spectrum needs. Sweep 1 stays plain (the uniform
    * init is far from the tail; extrapolating a transient overshoots —
    * the SQUAREM convention). Items whose MM update is 0 (never beaten
    * or no games) go to 0 exactly, as in the plain map. The recurrence
    * stays deterministic and unrolls in SQL (`pow`), so fixed-sweep
    * oracle replays hold (q205 runs 8 relaxed sweeps, was 12 plain).
    */
  def fit(
      duels: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 30,
      omega: Double = 1.0): DataFrame = {
    require(omega >= 1.0 && omega < 2.0, "BradleyTerry: omega in [1, 2)")
    import org.apache.spark.sql.expressions.Window
    // every checkpoint in the iteration loop goes through freshLeaf:
    // iteration i joins iteration i-1's checkpoints, and carried
    // originStats otherwise compound per iteration (the Lda lesson,
    // SURVEY §8g)
    def ck(df: DataFrame): DataFrame = Bridge.iterCheckpointKeyed(df)

    // n_ij games per unordered pair + per-item win totals; the pair
    // frame is exchanged + sorted ONCE on the first per-sweep join key
    // (opt guide §2.4) so the π(i) join below is co-partitioned with
    // the π frame (which ends every sweep hash-partitioned by item)
    val games = duels
      .select(col(winnerCol).cast("string").as("w"), col(loserCol).cast("string").as("l"))
      .groupBy(
        least(col("w"), col("l")).as("i"),
        greatest(col("w"), col("l")).as("j"))
      .agg(count(lit(1)).cast("double").as("n"))
      .repartition(col("i"))
      .sortWithinPartitions("i")
      .transform(Bridge.staticCheckpointKeyed(_))
    val wins = duels
      .groupBy(col(winnerCol).cast("string").as("item"))
      .agg(count(lit(1)).cast("double").as("wins"))
    val items = Bridge.staticCheckpointKeyed(
      games.select(col("i").as("item"))
        .union(games.select(col("j").as("item")))
        .distinct()
        .join(wins, Seq("item"), "left")
        .na.fill(0.0, Seq("wins")))

    // wins RIDES in the π frame: the per-sweep update then needs only
    // ONE items-sized join (π ⋈ denom) whether plain or relaxed —
    // carrying a constant column through the checkpoint is free, a
    // per-sweep join is not (measured on q205)
    var pi = ck(items.withColumn("pi", lit(1.0)).select("item", "wins", "pi"))
    for (sweep <- 1 to iters) {
      // i-join co-partitioned (zero exchange), j-join exchanges the
      // pair frame once; the two per-endpoint denominator sums replace
      // the former union+groupBy whose shuffle carried 2×|pairs| rows —
      // the j-side sum is free (gp is partitioned by j after the
      // second join), only the i-side sum re-exchanges pair rows.
      // denom_item = Σ_{i-side} d + Σ_{j-side} d: same addend multiset,
      // associativity regrouped — ~1e-16-level drift the contractive
      // MM map absorbs (q205's oracle replays DuckDB's own sum order
      // and compares at the 1e-6 quantizer).
      // lazy checkpoint: dI and dJ are separate subtrees of one action
      // and exchange-reuse does not dedup the shared join (measured
      // +40% sweep shuffle without it) — the leaf makes the pair join
      // compute once and the j-side sum read blocks with NO exchange
      val gp = games
        .join(pi.select(col("item").as("i"), col("pi").as("pi_i")), Seq("i"))
        .join(pi.select(col("item").as("j"), col("pi").as("pi_j")), Seq("j"))
        .withColumn("d", col("n") / (col("pi_i") + col("pi_j")))
        .transform(Bridge.iterCheckpointKeyed(_, eager = false))
      val dJ = gp.groupBy(col("j").as("item")).agg(sum("d").as("dj"))
      val dI = gp.groupBy(col("i").as("item")).agg(sum("d").as("di"))
      val denom = dI.join(dJ, Seq("item"), "full_outer")
        .select(
          col("item"),
          (coalesce(col("di"), lit(0.0)) + coalesce(col("dj"), lit(0.0))).as("denom"))
      val mm =
        when(col("denom").isNull || col("denom") === 0.0, lit(0.0))
          .otherwise(col("wins") / col("denom"))
      // ω = 1.5 (the shipped acceleration) avoids libm pow — r^1.5 is
      // computed as r·sqrt(r): IEEE sqrt and multiply are correctly
      // rounded on every engine, pow(x, 1.5) is not, and the q205
      // oracle hashes the trajectory bit-for-bit
      def relax(r: Column): Column =
        if (omega == 1.5) r * sqrt(r) else pow(r, lit(omega))
      val stepped =
        if (omega == 1.0 || sweep == 1) mm
        else
          when(mm === 0.0 || col("pi") === 0.0, mm)
            .otherwise(col("pi") * relax(mm / col("pi")))
      val next = ck(pi
        .join(denom, Seq("item"), "left")
        .withColumn("pi_new", stepped)
        .select(col("item"), col("wins"), col("pi_new").as("pi")))
      // the sweep's pair blocks and the superseded π are dead once the
      // next π is materialized
      Seq(gp, pi).foreach(Bridge.releaseCheckpoints)
      pi = next
    }
    val tot = pi.agg(sum("pi")).head().getDouble(0)
    // rank on the QUANTIZED strength (ties by item): sub-1e-6 strength
    // gaps are summation-order noise, not signal — ranking on them would
    // make the ordering engine-dependent
    val normed = pi.select(
      col("item"),
      (floor((col("pi") / tot) * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)).as("pi"))
    // item-cardinality can be corpus-scale (ranking documents/models):
    // exact global rank without the single-partition WindowExec
    val ranked = graft.ops.Rank
      .withGlobalRowNumber(items.join(normed, Seq("item")), "rank",
        Seq(col("pi").desc, col("item")))
      .withColumn("rank", col("rank").cast("int"))
    // the rank step's eager checkpoint holds every π and items row the
    // output reads
    Seq(items, pi).foreach(Bridge.releaseCheckpoints)
    val totalGames = games.select(col("i").as("item"), col("n"))
      .union(games.select(col("j").as("item"), col("n")))
      .groupBy("item").agg(sum("n").cast("long").as("games"))
    ranked.join(totalGames, Seq("item"))
      .select(
        col("item"),
        col("pi"),
        col("wins").cast("long").as("wins"),
        col("games"),
        col("rank"))
  }
}
