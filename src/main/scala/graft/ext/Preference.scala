package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preference- and agreement-analytics for labeled / pairwise-preference
  * data (extension tier, SURVEY.md §7.4) — the QC operators an RLHF /
  * eval pipeline runs over its human-label and preference tables:
  * inter-rater (or inter-filter) agreement, and Bradley–Terry strength
  * fitting over pairwise comparisons.
  *
  * All arithmetic is exact BIGINT fixed-point (ppm/micro with explicit
  * truncate-toward-zero division where values can be negative — Spark's
  * `div` truncates while DuckDB's `//` floors, so the sign is handled
  * explicitly on both sides), making every output oracle-replayable.
  */
object Preference {

  /** Cohen's kappa (Cohen 1960) between two categorical label columns —
    * chance-corrected agreement. In a curation pipeline the "raters" are
    * just as often two FILTERS (a rule-based quality bin vs an
    * entropy-threshold bin): kappa near 0 means the second filter adds
    * independent signal; kappa near 1 means it is redundant.
    *
    * κ = (p_o − p_e) / (1 − p_e) with p_o the observed agreement rate and
    * p_e = Σ_l p_A(l)·p_B(l) the chance rate from the marginals, both in
    * exact ppm; κ in milli with explicit truncate-toward-zero sign
    * handling (κ < 0 = worse than chance, a real outcome).
    *
    * Scale shape: one corpus-sized aggregate for (n, agreements), one
    * label-keyed aggregate for each marginal (|labels| rows — a config
    * constant), and 1-row broadcast attaches. No window, no wide join.
    *
    * Output: one row (n_items, p_o_ppm, p_e_ppm, kappa_milli).
    */
  def agreementStats(df: DataFrame, labelACol: String, labelBCol: String): DataFrame = {
    val base = df.select(col(labelACol).cast("string").as("__a"),
      col(labelBCol).cast("string").as("__b"))
    val tot = base.agg(count(lit(1)).as("n_items"),
      coalesce(sum(when(col("__a") === col("__b"), 1L).otherwise(0L)), lit(0L))
        .as("__agree"))
    val margA = base.groupBy(col("__a").as("__l")).agg(count(lit(1)).as("__na"))
    val margB = base.groupBy(col("__b").as("__l")).agg(count(lit(1)).as("__nb"))
    val pe = margA.join(margB, "__l")
      .crossJoin(broadcast(tot))
      .agg(coalesce(sum(expr("((__na * 1000000) div n_items) * __nb div n_items")),
        lit(0L)).as("p_e_ppm"))
    tot.crossJoin(broadcast(pe))
      .select(col("n_items"),
        expr("(__agree * 1000000) div n_items").as("p_o_ppm"),
        col("p_e_ppm"))
      .withColumn("kappa_milli",
        when(col("p_e_ppm") >= 1000000L, lit(1000L))
          .otherwise(expr("""CASE WHEN p_o_ppm >= p_e_ppm
            THEN ((p_o_ppm - p_e_ppm) * 1000) div (1000000 - p_e_ppm)
            ELSE -(((p_e_ppm - p_o_ppm) * 1000) div (1000000 - p_e_ppm)) END""")))
  }

  /** Paired Poisson-bootstrap comparison of two per-item scores — the
    * standard "is system A actually better than system B" significance
    * artifact (paired bootstrap over per-item deltas; Koehn 2004 for the
    * MT-eval form, Chamandy et al. 2012 for the Poisson-bootstrap
    * mechanics that run at corpus scale): every item draws a
    * deterministic Poisson(1) multiplicity per replicate from its key
    * hash ([[Sampling.poissonWeight]] — no resample is materialized),
    * each replicate's mean DELTA (a − b) is an exact-integer permille,
    * and the report is the point delta, the rank CI, and the share of
    * replicates where A wins.
    *
    * Deltas can be negative, so every division is explicit
    * truncate-toward-zero (Spark `div` truncates, DuckDB `//` floors —
    * the sign is handled on both sides).
    *
    * Scale shape: the replicate explode is a pure projection and the
    * per-replicate sums collapse map-side (B partial rows per partition
    * shuffle); the rank window runs on B rows. Identical to
    * [[Sampling.poissonBootstrapCI]]'s shape, with the pairing fused
    * into the delta before any aggregation.
    *
    * Output: one row (n_reps, delta_permille, lo_permille, hi_permille,
    * a_wins_bp).
    */
  def pairedBootstrap(df: DataFrame, keyCol: String,
                      scoreACol: String, scoreBCol: String,
                      reps: Int, alphaBp: Int = 250): DataFrame = {
    require(reps > 1, "reps must be > 1")
    require(alphaBp > 0 && alphaBp < 5000, "alphaBp in (0, 5000)")
    val loRank = (alphaBp * reps + 9999) / 10000
    val hiRank = ((10000 - alphaBp) * reps + 9999) / 10000
    val W = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_permille"), col("__b"))
    val base = df.select(col(keyCol).cast("string").as("__k"),
      (col(scoreACol).cast("long") - col(scoreBCol).cast("long")).as("__d"))
    val rep = base
      .withColumn("__b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("__w", Sampling.poissonWeight(Sampling.hashBucket16(
        concat(col("__b").cast("string"), lit("|"), col("__k")))))
    val means = rep.groupBy(col("__b"))
      .agg(sum(col("__w") * col("__d")).as("__wd"), sum(col("__w")).as("__ws"))
      .withColumn("mean_permille", expr("""CASE WHEN __ws = 0 THEN 0
        WHEN __wd >= 0 THEN (__wd * 1000) div __ws
        ELSE -((-__wd * 1000) div __ws) END"""))
    val ci = means
      .withColumn("__rnk", row_number().over(W))
      .agg(min(when(col("__rnk") === loRank, col("mean_permille"))).as("lo_permille"),
        min(when(col("__rnk") === hiRank, col("mean_permille"))).as("hi_permille"),
        expr("sum(CASE WHEN mean_permille > 0 THEN 1 ELSE 0 END) * 10000 div count(1)")
          .as("a_wins_bp"))
    val point = base.agg(sum(col("__d")).as("__sd"), count(lit(1)).as("__n"))
      .select(expr("""CASE WHEN __sd >= 0 THEN (__sd * 1000) div __n
        ELSE -((-__sd * 1000) div __n) END""").as("delta_permille"))
    point.crossJoin(broadcast(ci)).select(
      lit(reps.toLong).as("n_reps"), col("delta_permille"),
      col("lo_permille"), col("hi_permille"), col("a_wins_bp"))
  }

  /** Bradley–Terry strength fitting (Bradley & Terry 1952) by `iters`
    * rounds of the minorization–maximization update (Hunter 2004): from
    * pairwise comparisons `(winner, loser)`, each item's strength
    * w_i ← W_i / Σ_{j ~ i} n_ij / (w_i + w_j), the model behind
    * preference-data leaderboards and annotator-quality ranking. Fixed
    * small `iters` (the PageRank/BPE convention), strengths in micro
    * starting uniform at 1e6; no normalization (BT is scale-invariant,
    * and a normalization would add a global reduce per round for
    * nothing). All divisions are on positive operands, so floor and
    * truncate agree and the oracle replays bit-for-bit. Strengths floor
    * at 1 micro-unit: an item that lost every game would otherwise hit
    * exactly 0 and could zero a pair denominator.
    *
    * Scale shape per round: the comparison list joins the strength frame
    * twice on the item id (equi-joins; strengths are |items| rows), one
    * item-keyed hash-agg for the denominators, one projection for the
    * update. Every round but the last is filled and read through an anchor
    * ([[Lineage.iterate]]); the output is checkpointed and the internals
    * unpersisted.
    *
    * Items winning every game would drift toward ∞ in true BT; the
    * fixed iteration count keeps every strength finite — callers
    * needing regularization add virtual ties upstream.
    *
    * Output: (id, n_wins, n_games, bt_micro) for every item in the
    * comparison list.
    */
  def btStrengths(comparisons: DataFrame, winnerCol: String, loserCol: String,
                  iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    Lineage.checkpointed { lin =>
      // collapse raw games to per-unordered-pair counts once: n_ij and the
      // wins of the lexicographically smaller side
      val gamesChain = comparisons
        .select(col(winnerCol).cast("long").as("__w"), col(loserCol).cast("long").as("__l"))
        .select(least(col("__w"), col("__l")).as("__i"),
          greatest(col("__w"), col("__l")).as("__j"),
          when(col("__w") < col("__l"), 1L).otherwise(0L).as("__iw"))
        .groupBy(col("__i"), col("__j"))
        .agg(count(lit(1)).as("__n"), sum(col("__iw")).as("__wi"))
      lin.fill(gamesChain)
      val games = Lineage.anchor(gamesChain)
      val statsChain = games.select(col("__i").as("id"), col("__wi").as("w"), col("__n").as("n"))
        .unionByName(games.select(col("__j").as("id"),
          (col("__n") - col("__wi")).as("w"), col("__n").as("n")))
        .groupBy(col("id"))
        .agg(sum(col("w")).as("n_wins"), sum(col("n")).as("n_games"))
      // |items| gates the per-round join strategy below
      val nItems = lin.fill(statsChain).head
      val stats = Lineage.anchor(statsChain)
      // The strength frame is |items| rows but rides behind a short-lineage
      // anchor each round, which loses BOTH size stats and partitioning —
      // the planner assumed it huge, picked sort-merge, and re-shuffled the
      // pair list (the big side) TWICE PER ROUND for nothing. When the item
      // set is provably small (the just-counted |items|, the kCore frontier
      // guard), ride it into the pair list as a BROADCAST on both joins and
      // broadcast the items-sized denominator back onto stats: zero
      // exchanges of the pair list per round. Above the cap the joins stay
      // shuffled equi-joins (identical result, no driver-memory cliff).
      val broadcastItems = nItems <= Graphs.BroadcastFrontierMaxRows
      def itemSide(df: DataFrame): DataFrame = if (broadcastItems) broadcast(df) else df
      val w0 = stats.select(col("id"), lit(1000000L).as("bt_micro"))
      val w = lin.iterate(w0, iters, every = 1, rollover = false) { (w, _) =>
        // per pair: n_ij·1e12 div (w_i + w_j) is n_ij/(w_i+w_j) in micro
        val pairTerm = games
          .join(itemSide(w.select(col("id").as("__i"), col("bt_micro").as("__si"))), "__i")
          .join(itemSide(w.select(col("id").as("__j"), col("bt_micro").as("__sj"))), "__j")
          .select(col("__i"), col("__j"),
            expr("(__n * 1000000000000L) div (__si + __sj)").as("__c"))
        val denom = pairTerm.select(col("__i").as("id"), col("__c"))
          .unionByName(pairTerm.select(col("__j").as("id"), col("__c")))
          .groupBy(col("id")).agg(sum(col("__c")).as("__d"))
        stats.join(itemSide(denom), "id")
          .select(col("id"),
            expr("greatest(1L, (n_wins * 1000000000000L) div __d)").as("bt_micro"))
      }
      stats.join(itemSide(w), "id")
        .select(col("id"), col("n_wins"), col("n_games"), col("bt_micro"))
    }
  }

  /** One UNEXECUTED Bradley–Terry MM round from the uniform start — the
    * plan-audit frame ([[btStrengths]] returns a checkpoint scan): two
    * id-keyed equi-joins of the pair list onto the strength frame, one
    * item-keyed hash-agg, one projection.
    */
  private[graft] def btRoundPlanFrame(comparisons: DataFrame,
      winnerCol: String, loserCol: String): DataFrame = {
    val games = comparisons
      .select(col(winnerCol).cast("long").as("__w"), col(loserCol).cast("long").as("__l"))
      .select(least(col("__w"), col("__l")).as("__i"),
        greatest(col("__w"), col("__l")).as("__j"),
        when(col("__w") < col("__l"), 1L).otherwise(0L).as("__iw"))
      .groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).as("__n"), sum(col("__iw")).as("__wi"))
    val stats = games.select(col("__i").as("id"), col("__wi").as("w"), col("__n").as("n"))
      .unionByName(games.select(col("__j").as("id"),
        (col("__n") - col("__wi")).as("w"), col("__n").as("n")))
      .groupBy(col("id"))
      .agg(sum(col("w")).as("n_wins"), sum(col("n")).as("n_games"))
    val w = stats.select(col("id"), lit(1000000L).as("bt_micro"))
    val pairTerm = games
      .join(w.select(col("id").as("__i"), col("bt_micro").as("__si")), "__i")
      .join(w.select(col("id").as("__j"), col("bt_micro").as("__sj")), "__j")
      .select(col("__i"), col("__j"),
        expr("(__n * 1000000000000L) div (__si + __sj)").as("__c"))
    val denom = pairTerm.select(col("__i").as("id"), col("__c"))
      .unionByName(pairTerm.select(col("__j").as("id"), col("__c")))
      .groupBy(col("id")).agg(sum(col("__c")).as("__d"))
    stats.join(denom, "id")
      .select(col("id"),
        expr("greatest(1L, (n_wins * 1000000000000L) div __d)").as("bt_micro"))
  }
}
