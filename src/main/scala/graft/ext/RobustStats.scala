package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Robust / forensic statistics over value columns — the data-quality
  * audits that survive the heavy-tailed, occasionally-corrupt value
  * distributions a 100 TB ingest actually has (a trimmed mean exists at
  * q51; these are the breakdown-point-0.5 and digit-law members of the
  * family).
  *
  * House determinism: medians come from the linear-interpolation
  * `percentile` both engines define identically on integer inputs (any
  * interpolated value is k or k+½, so doubling yields an EXACT integer);
  * every derived comparison is integer arithmetic.
  */
object RobustStats {

  /** MAD-based robust outlier audit (Hampel's rule): per group, the
    * median m and the median absolute deviation MAD of `valueCol`, and
    * the count of rows with |x − m| > 3σ̂ where σ̂ = 1.4826·MAD (the
    * Gaussian-consistency constant). Unlike mean/stddev z-scores, both
    * estimators have breakdown point ½ — the outliers cannot mask
    * themselves. Exact-integer encoding: the median is emitted doubled
    * (`med_x2`, half-units), the MAD quadrupled (`mad_x4`,
    * quarter-units), and the cut is `4·|x−m| · 10000 > mad_x4 · 44478`
    * (44478 = 3·1.4826·10⁴). Degenerate groups (MAD = 0, over half the
    * values identical) flag every differing row — the documented Hampel
    * behavior.
    *
    * Shape: one per-group percentile aggregate, a group-key join back
    * (group-cardinality build side → broadcast under AQE), a second
    * percentile aggregate for the MAD, and one final conditional count.
    * The corpus shuffles twice on the group key; nothing global.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vals = df.select(col(groupCol), col(valueCol).cast("long").as("__x"))
    val med = vals.groupBy(col(groupCol))
      .agg(round(expr("percentile(__x, 0.5) * 2"), 0).cast("long").as("med_x2"))
    val diffs = vals.join(med, groupCol)
      .withColumn("__d2", abs(col("__x") * 2 - col("med_x2")))
    val mad = diffs.groupBy(col(groupCol))
      .agg(round(expr("percentile(__d2, 0.5) * 2"), 0).cast("long").as("mad_x4"))
    diffs.join(mad, groupCol)
      .groupBy(col(groupCol), col("med_x2"), col("mad_x4"))
      .agg(count(lit(1)).as("n"),
        sum(when(expr("__d2 * 2 * 10000 > mad_x4 * 44478"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("outlier_bp", expr("(n_outliers * 10000L) div n"))
  }

  /** Benford first-digit audit (Benford 1938; the fraud/synthetic-data
    * screen): per group, the observed first-significant-digit counts of
    * `valueCol` against the Benford expectation
    * P(d) = log₁₀(1 + 1/d), and the chi-square distance. The expected
    * per-digit probabilities are FIXED integer constants (basis points) —
    * no cross-engine transcendental math anywhere. Values ≤ 0 carry no
    * leading digit and are excluded; pass an already-integral column
    * (e.g. cents) — integral-from-double conversion is the CALLER's
    * responsibility because engines disagree on double→int cast rounding.
    *
    * Output per group: n, d1..d9 observed counts, chi2_centi =
    * Σ (obs·10⁴ − n·exp_bp)² div (n·exp_bp·10²) — the χ² statistic in
    * centi-units (10⁻² of the conventional value). The squared term
    * stays under 2^63 for groups to ~3·10⁵ rows; beyond that the same
    * formula moves to DECIMAL(38,0) unchanged. One hash-aggregate; the
    * digit extraction is a string projection.
    */
  def benfordAudit(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    // Benford probabilities in basis points: log10(1+1/d) · 10^4
    val expBp = Seq(3010L, 1761L, 1249L, 969L, 792L, 669L, 580L, 512L, 458L)
    val digit = substring(col(valueCol).cast("long").cast("string"), 1, 1)
    val aggs = count(lit(1)).as("n") +:
      (1 to 9).map(d => sum(when(col("__d") === d, 1L).otherwise(0L)).as(s"d$d"))
    val counted = df
      .filter(col(valueCol).cast("long") > 0)
      .withColumn("__d", digit.cast("int"))
      .groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
    val chi2 = (1 to 9).map { d =>
      val e = expBp(d - 1)
      expr(s"((d$d * 10000L - n * ${e}L) * (d$d * 10000L - n * ${e}L)) div (n * ${e}L * 100L)")
    }.reduce(_ + _)
    counted.withColumn("chi2_centi", chi2)
  }

  /** Spearman rank correlation between two integer metric columns,
    * WITHOUT a global sort — the monotone-association audit ("does doc
    * length track quality?") every metric dashboard wants, made
    * 100 TB-shaped: average ranks come from each metric's VALUE
    * HISTOGRAM (a value tied c times after p smaller rows has average
    * rank p + (c+1)/2, so DOUBLED ranks 2p + c + 1 are exact integers),
    * the prefix sums run on |distinct values| rows (bounded by the
    * metric's range, not the corpus), and the correlation is Pearson
    * over the doubled ranks (the tie-correct Spearman definition) with
    * exact BIGINT sums — one double sqrt at the very end, rounded to
    * milli (the zipfFit r² convention, signed).
    *
    * Scale shape: two histogram aggregates + two value-keyed lookup
    * joins (histogram build sides broadcast under AQE) + one 1-row sum
    * aggregate. The corpus never sorts and never self-joins.
    *
    * Output: one row (n_items, rho_milli) with rho in [−1000, 1000].
    */
  /** Lag-k autocorrelation of an integer time series (Box & Jenkins;
    * public): `r_k = Σ_{t≤N−k} (x_t−x̄)(x_{t+k}−x̄) / Σ_t (x_t−x̄)²` for
    * every lag 1..maxLag — the periodicity/burst diagnosis read off an
    * ingest-rate series before alerting on raw spikes. Gaps in the index
    * are FILLED WITH ZERO first (a missing minute is a zero-count minute,
    * and skipping it would silently splice distant points together).
    *
    * Exact integers until the last step: centered values are scaled by N
    * (`dx = x·N − Σx`, still BIGINT), numerator and denominator then carry
    * N² each so the ratio is unchanged, and the single final division is
    * one IEEE double `round(num·1000/den)` — the q240 signed-ratio
    * convention.
    *
    * Plan: one hash-agg for the span + totals (broadcast 1-row), a
    * sequence-explode span frame at |index| rows, one left join to fill
    * gaps, and one equi-join of the series onto itself shifted by the
    * broadcast lag spine — everything past the caller's aggregation is
    * |index|·maxLag-sized, never input-sized.
    *
    * Output: (lag, n_pairs, acf_milli), one row per lag.
    */
  def autocorrelation(series: DataFrame, tCol: String, vCol: String,
                      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val src = series.select(col(tCol).cast("long").as("__t"),
      col(vCol).cast("long").as("__v"))
    val span = src.agg(min(col("__t")).as("__mn"), max(col("__t")).as("__mx"))
    val filled = span
      .select(explode(expr("sequence(__mn, __mx)")).as("__t"))
      .join(src, Seq("__t"), "left")
      .select(col("__t"), coalesce(col("__v"), lit(0L)).as("__v"))
    val tot = broadcast(filled.agg(count(lit(1)).as("__n"),
      sum(col("__v")).as("__s")))
    val ctr = filled.crossJoin(tot)
      .select(col("__t"), expr("__v * __n - __s").as("__dx"))
    val lagSpine = broadcast(src.sparkSession.range(1)
      .select(explode(array((1 to maxLag).map(l => lit(l.toLong)): _*)).as("lag")))
    val pairs = ctr.crossJoin(lagSpine)
      .select(col("lag"), (col("__t") + col("lag")).as("__t"),
        col("__dx").as("__dxa"))
      .join(ctr.select(col("__t"), col("__dx").as("__dxb")), Seq("__t"))
    val den = broadcast(ctr.agg(sum(expr("__dx * __dx")).as("__den")))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("__dxa * __dxb")).as("__num"))
      .crossJoin(den)
      .select(col("lag"), col("n_pairs"),
        when(col("__den") <= 0L, lit(0L))
          .otherwise(expr(
            "cast(round(__num * 1000.0 / cast(__den as double)) as long)"))
          .as("acf_milli"))
  }

  /** Kaplan-Meier survival estimator (Kaplan & Meier 1958; public): from
    * per-subject (duration, event) observations — `eventCol` true = the
    * terminal event happened at `durationCol`, false = censored (still
    * alive when observation ended) — the survival curve
    * `S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)` at every distinct event time.
    * The churn-analysis backbone: censoring is what distinguishes "left
    * at day 30" from "observed only 30 days so far", and ignoring it
    * biases every retention number down.
    *
    * Determinism: the running product is carried as a SUM of per-step
    * `round(ln((n−d)/n)·1e6)` micro-nat terms (exact BIGINTs), and the
    * single `exp` at the end is the q241 fixed-point convention
    * (`survival_ppm = round(exp(cum/1e6)·1e6)`). A step that kills
    * everyone at risk (n = d, only possible at the last event time)
    * forces survival 0 from that step on.
    *
    * Plan: one subject-grain hash-agg to the |distinct durations|
    * histogram; at-risk counts come from a suffix sum and the product
    * from a prefix sum — two windows over the HISTOGRAM rows, never the
    * subject frame.
    *
    * Output: (t, n_at_risk, d_events, survival_ppm) per distinct event
    * time, ascending.
    */
  def kaplanMeier(subjects: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lnMicro = (c: Column) => round(log(c.cast("double")) * 1e6).cast("long")
    val hist = subjects.select(col(durationCol).cast("long").as("t"),
        col(eventCol).cast("boolean").as("__e"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("__all"),
        sum(when(col("__e"), 1L).otherwise(0L)).as("d_events"))
    val wSuffix = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wPrefix = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_at_risk", sum(col("__all")).over(wSuffix))
      .filter(col("d_events") > 0L)
      .withColumn("__term",
        when(col("n_at_risk") === col("d_events"), lit(0L))
          .otherwise(lnMicro(col("n_at_risk") - col("d_events")) -
            lnMicro(col("n_at_risk"))))
      .withColumn("__cum", sum(col("__term")).over(wPrefix))
      .withColumn("__dead",
        sum(when(col("n_at_risk") === col("d_events"), 1L).otherwise(0L))
          .over(wPrefix))
      .select(col("t"), col("n_at_risk"), col("d_events"),
        when(col("__dead") > 0L, lit(0L))
          .otherwise(expr(
            "cast(round(exp(cast(__cum as double) / 1e6) * 1e6) as long)"))
          .as("survival_ppm"))
  }

  /** Pairwise two-sample Kolmogorov-Smirnov distance (Smirnov 1939;
    * public): for every group pair, the maximum ECDF gap
    * `D = max_v |F_a(v) − F_b(v)|` over the shared value spine — the
    * classic distribution-shift test, sensitive to location AND shape
    * where a mean comparison sees nothing.
    *
    * Exact integers: the max runs over the CROSS-MULTIPLIED gap
    * `|cumA·n_b − cumB·n_a|` (BIGINT; fits while n_a·n_b < 2^63 — at
    * larger group sizes pre-aggregate counts to a coarser value grid),
    * and `ks_milli = D_scaled·1000 div (n_a·n_b)`.
    *
    * Plan: one (group, value) hash-agg; the ECDF fill is a
    * |groups|·|distinct values| spine (cross of two post-agg frames) with
    * one cum-sum window PER GROUP partition; the pair join runs on the
    * filled spine keyed by value. Nothing input-sized past the first agg.
    *
    * Output: (group_a, group_b, n_a, n_b, ks_milli) for a < b.
    */
  def ksPairwise(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val spine = h.select(col("v")).distinct()
    val groups = h.select(col("g")).distinct()
    val filled = groups.crossJoin(spine)
      .join(h, Seq("g", "v"), "left")
      .select(col("g"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ecdf = filled
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wTot))
      .select(col("g"), col("v"), col("cum"), col("n"))
    ecdf.as("a")
      .join(ecdf.as("b"),
        col("a.v") === col("b.v") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"))
      .agg(max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"),
        max(abs(col("a.cum") * col("b.n") - col("b.cum") * col("a.n")))
          .as("__d"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        expr("__d * 1000 div (n_a * n_b)").as("ks_milli"))
  }

  /** Chi-square test of independence for two categorical columns
    * (Pearson 1900; public): `χ² = Σ_cells (o − e)²/e` with
    * `e = rowTotal·colTotal/N` — "is the error rate independent of the
    * hour", the contingency-table sibling of [[benfordAudit]]'s
    * goodness-of-fit form.
    *
    * Exact integers: the per-cell term is computed on the
    * cross-multiplied form `100·(o·N − r·c)² div (N·r·c)` (χ² in
    * centi-units). The squared numerator stays under 2^63 while
    * `o·N < 3·10⁹` — per-cell counts times total rows; beyond that
    * pre-aggregate to coarser categories, as [[benfordAudit]] documents.
    * Cells are the FULL cross product (absent combinations count o = 0
    * via the margin spine), or χ² would be silently understated.
    *
    * Plan: one (a, b) hash-agg; margins are two post-agg roll-ups that
    * join back on their keys; the cell spine is the cross of the two
    * margin frames (|A|·|B| rows). One row out: (n, dof, chi2_centi).
    */
  def chiSquareIndependence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("o"))
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = broadcast(cells.agg(sum(col("o")).as("n")))
    ra.crossJoin(cb)
      .join(cells, Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("ra"), col("cb"),
        coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(tot)
      .select(expr(
        "100 * (o * n - ra * cb) * (o * n - ra * cb) div (n * ra * cb)")
        .as("__t"), col("n"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("__cells"),
        sum(col("__t")).as("chi2_centi"))
      .crossJoin(broadcast(ra.agg(count(lit(1)).as("__na"))))
      .crossJoin(broadcast(cb.agg(count(lit(1)).as("__nb"))))
      .select(col("n"), expr("(__na - 1) * (__nb - 1)").as("dof"),
        col("chi2_centi"))
  }

  /** Page-Hinkley change-point statistic (Page 1954; the sequential
    * mean-shift detector behind most stream-drift monitors): per index t,
    * `PH_t = max_{i≤t} M_i − M_t` with `M_t = Σ_{i≤t} (x_i·1000 − x̄ᵐ_i)`
    * and `x̄ᵐ_i` the running prefix mean in MILLI units (`S_i·1000 div i`
    * — fixed point, so a sub-1-per-tick rate still resolves instead of
    * flooring to zero) — a sustained DOWNWARD shift makes
    * M fall away from its high-water mark and PH grow; the top rows are
    * the change-point candidates a rate monitor alerts on.
    *
    * Exact integers: the milli mean is the floor `S_i·1000 div i` (both
    * operands non-negative, so floor and truncate agree across engines)
    * and everything after is addition — no rounding anywhere else. Gaps
    * are zero-filled first (the q250 convention).
    *
    * Plan: the caller's aggregation produces the |index|-row series; the
    * prefix sums and the running max are windows over that frame (the
    * histogram-window precedent), and the cut is a TakeOrdered.
    *
    * Output: top-k (t, v, ph_milli) by the statistic, ties on earlier t.
    */
  def pageHinkley(series: DataFrame, tCol: String, vCol: String,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val src = series.select(col(tCol).cast("long").as("t"),
      col(vCol).cast("long").as("v"))
    val span = src.agg(min(col("t")).as("__mn"), max(col("t")).as("__mx"))
    val filled = span
      .select(explode(expr("sequence(__mn, __mx)")).as("t"))
      .join(src, Seq("t"), "left")
      .select(col("t"), coalesce(col("v"), lit(0L)).as("v"))
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    filled
      .withColumn("__i", row_number().over(Window.orderBy(col("t"))).cast("long"))
      .withColumn("__s", sum(col("v")).over(wCum))
      .withColumn("__term", col("v") * 1000L - expr("(__s * 1000) div __i"))
      .withColumn("__m", sum(col("__term")).over(wCum))
      .withColumn("__hwm", max(col("__m")).over(wCum))
      .select(col("t"), col("v"), (col("__hwm") - col("__m")).as("ph_milli"))
      .orderBy(col("ph_milli").desc, col("t"))
      .limit(k)
  }

  def spearmanRank(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.select(col(xCol).cast("long").as("__x"),
      col(yCol).cast("long").as("__y"))
    def ranks(c: String): DataFrame = {
      val W = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
      base.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__c"))
        .withColumn("__p", coalesce(
          sum(col("__c")).over(W.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("__v").as(c), (col("__p") * 2L + col("__c") + 1L).as(s"${c}_r2"))
    }
    // center on the doubled mean rank (n+1): deviations are ≤ n in
    // magnitude, so every sum stays under n³ — exact in BIGINT to
    // corpora of ~2M rows per call (beyond that, sample or bucket ranks)
    val nFrame = base.agg(count(lit(1)).as("n_items"))
    val ranked = base.join(ranks("__x"), "__x").join(ranks("__y"), "__y")
      .crossJoin(broadcast(nFrame))
      .withColumn("__dx", col("__x_r2") - (col("n_items") + 1L))
      .withColumn("__dy", col("__y_r2") - (col("n_items") + 1L))
    val sums = ranked.agg(
      max(col("n_items")).as("n_items"),
      sum(col("__dx") * col("__dx")).as("__sxx"),
      sum(col("__dy") * col("__dy")).as("__syy"),
      sum(col("__dx") * col("__dy")).as("__sxy"))
    sums.select(col("n_items"),
      when(col("__sxx") <= 0L || col("__syy") <= 0L, lit(0L))
      .otherwise(round(
        col("__sxy").cast("double") * 1000.0 /
          sqrt(col("__sxx").cast("double") * col("__syy").cast("double")))
        .cast("long"))
      .as("rho_milli"))
  }

  /** Seasonal-naive forecast backtest with MASE (Hyndman & Koehler 2006,
    * the scale-free forecast-accuracy standard): per key, the day-t
    * forecast is the value at t − `season`, and the summed absolute
    * error over the evaluable tail is scaled by the in-sample naive
    * (lag-1) mean absolute error —
    * `mase_milli = Σ|v_t − v_{t−s}| · n_scale · 1000 div
    * (Σ|v_t − v_{t−1}| · n_eval)`, exact BIGINT throughout. MASE < 1000
    * means the seasonal forecast beats the naive one; a zero naive
    * error (constant series) reports 0 with the counts left to tell.
    *
    * The series is zero-filled on the per-key day spine (a gap is a
    * real zero for count series — same contract as [[pageHinkley]]).
    * Scale shape: one hash-aggregate to the (key, day) grain, a
    * date-bounded spine explode, and per-key windows — everything after
    * the first aggregate is calendar-sized, not event-sized.
    */
  /** Classical additive seasonal decomposition (the moving-average
    * decomposition behind every "decompose" button; STL swaps the
    * averages for loess — this is the deterministic integer form): on
    * the zero-filled per-key day spine,
    *
    *   trend    = centered `period`-day moving average (odd period;
    *              defined only where the full window exists), in milli
    *   seasonal = per (key, t mod period) mean of the detrended series,
    *              re-centered so the period indexes sum to ~zero
    *   remainder = v·1000 − trend − seasonal
    *
    * and a row is flagged anomalous when |remainder| · n > 3 · Σ|remainder|
    * within its key (3× the mean absolute remainder — integer-exact, no
    * float σ). Output: rows where the trend is defined, with all three
    * components in milli. Everything after the (key, day) aggregate is
    * calendar-sized: bounded windows on the spine, one period-sized
    * seasonal frame joined back on (key, t mod period).
    */
  def seasonalDecompose(series: DataFrame, keyCol: String, tCol: String,
                        vCol: String, period: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(period >= 3 && period % 2 == 1, "period must be odd and >= 3")
    val half = period / 2
    val src = series.select(col(keyCol).as("key"),
      col(tCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
    val spine = src.groupBy("key")
      .agg(min(col("t")).as("__mn"), max(col("t")).as("__mx"))
      .select(col("key"), explode(expr("sequence(__mn, __mx)")).as("t"))
    val w = Window.partitionBy("key").orderBy("t").rowsBetween(-half, half)
    val withTrend = spine.join(src, Seq("key", "t"), "left")
      .select(col("key"), col("t"), coalesce(col("v"), lit(0L)).as("v"))
      .withColumn("__wn", count(lit(1)).over(w))
      .withColumn("__ws", sum(col("v")).over(w))
      .filter(col("__wn") === period.toLong)
      .withColumn("trend_milli", expr(s"(__ws * 1000) div $period"))
      .withColumn("__det", col("v") * 1000L - col("trend_milli"))
      .withColumn("__dow", expr(s"t % $period"))
    // sign-safe truncating division (the Classifier.sgnDiv convention):
    // Spark div and DuckDB // agree on non-negatives, so negatives go
    // through -((-a) div b) explicitly
    def sgnDivSql(a: String, b: String): String =
      s"CAST(CASE WHEN $a >= 0 THEN ($a) div ($b) ELSE -((-($a)) div ($b)) END AS BIGINT)"
    val seasonalRaw = withTrend.groupBy("key", "__dow")
      .agg(sum(col("__det")).as("__sd"), count(lit(1)).as("__sc"))
      .withColumn("__s", expr(sgnDivSql("__sd", "__sc")))
    val seasonal = seasonalRaw
      .withColumn("__st", expr("sum(__s) OVER (PARTITION BY key)"))
      .withColumn("__sn", expr("count(*) OVER (PARTITION BY key)"))
      .withColumn("__smean", expr(sgnDivSql("__st", "__sn")))
      .select(col("key"), col("__dow"),
        (col("__s") - col("__smean")).as("seasonal_milli"))
    val decomposed = withTrend
      .join(broadcast(seasonal), Seq("key", "__dow"))
      .withColumn("remainder_milli",
        col("v") * 1000L - col("trend_milli") - col("seasonal_milli"))
    val spread = decomposed.groupBy("key")
      .agg(count(lit(1)).as("__n"), sum(abs(col("remainder_milli"))).as("__sar"))
    decomposed.join(broadcast(spread), "key")
      .select(col("key"), col("t"), col("v"), col("trend_milli"),
        col("seasonal_milli"), col("remainder_milli"),
        (abs(col("remainder_milli")) * col("__n") > col("__sar") * 3L)
          .as("is_anomaly"))
  }

  def seasonalNaiveMase(series: DataFrame, keyCol: String, tCol: String,
                        vCol: String, season: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(season >= 1, "season must be >= 1")
    val src = series.select(col(keyCol).as("key"),
      col(tCol).cast("long").as("t"), col(vCol).cast("long").as("v"))
    val spine = src.groupBy("key")
      .agg(min(col("t")).as("__mn"), max(col("t")).as("__mx"))
      .select(col("key"), explode(expr("sequence(__mn, __mx)")).as("t"))
    val w = Window.partitionBy("key").orderBy("t")
    spine.join(src, Seq("key", "t"), "left")
      .select(col("key"), col("t"), coalesce(col("v"), lit(0L)).as("v"))
      .withColumn("__vs", lag(col("v"), season).over(w))
      .withColumn("__v1", lag(col("v"), 1).over(w))
      .groupBy("key")
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("__vs").isNotNull, 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("__v1").isNotNull, 1L).otherwise(0L)).as("n_scale"),
        sum(when(col("__vs").isNotNull, abs(col("v") - col("__vs")))
          .otherwise(0L)).as("sae_seasonal"),
        sum(when(col("__v1").isNotNull, abs(col("v") - col("__v1")))
          .otherwise(0L)).as("sae_naive"))
      .withColumn("mase_milli", expr(
        """CAST(CASE WHEN sae_naive > 0 AND n_eval > 0
          |  THEN (sae_seasonal * n_scale * 1000) div (sae_naive * n_eval)
          |  ELSE 0 END AS BIGINT)""".stripMargin))
  }
  /** Subject-count bound under which the chi-square numerator
    * `100·N·(ad−bc)²` (≤ 6.25·N⁵) provably fits DECIMAL(38,0): at
    * N = 2·10⁷ the numerator tops out near 2·10³⁷ < 10³⁸.
    */
  private[graft] val Chi2ExactMaxN: Long = 20000000L

  /** The 2×2 chi-square statistic in centi-units from BIGINT cell-count
    * columns named a/b/c/d. Two regimes, branch-selected on
    * N = a+b+c+d:
    *
    *  - N ≤ [[Chi2ExactMaxN]]: EXACT — staged in DECIMAL(38,0) so the
    *    numerator never wraps (the naive all-BIGINT form silently
    *    overflowed signed 64-bit at N ≈ 4,300 worst case, flipping the
    *    verdict; Spark wraps where DuckDB errors).
    *  - N > [[Chi2ExactMaxN]]: the single-rounded-double convention —
    *    every operand cast to DOUBLE up front, a fixed association
    *    order, ONE terminal round — so Spark and DuckDB replay the
    *    identical IEEE-754 value.
    *
    * The zero-margin guard tests each margin separately (the old
    * `product > 0` guard itself overflowed at N ≈ 1.1·10⁵). The
    * DuckDB mirror (HUGEINT staging in the exact branch) lives beside
    * the q299 oracle.
    */
  private[graft] def chi2CentiCol: Column = expr(
    s"""CAST(CASE
      |  WHEN a+b <= 0 OR c+d <= 0 OR a+c <= 0 OR b+d <= 0 THEN 0
      |  WHEN a+b+c+d <= ${Chi2ExactMaxN}L THEN
      |    (CAST(a+b+c+d AS DECIMAL(38,0)) * (a*d - b*c) * (a*d - b*c) * 100)
      |      div (CAST(a+b AS DECIMAL(38,0)) * (c+d) * (a+c) * (b+d))
      |  ELSE CAST(round(((((CAST(a AS DOUBLE)*d - CAST(b AS DOUBLE)*c)
      |          * (CAST(a AS DOUBLE)*d - CAST(b AS DOUBLE)*c))
      |          * (CAST(a AS DOUBLE)+b+c+d)) * 100.0)
      |      / (((CAST(a+b AS DOUBLE) * (c+d)) * (a+c)) * (b+d))) AS BIGINT)
      |END AS BIGINT)""".stripMargin)

  /** Two-proportion A/B significance gate as the 2×2 chi-square test
    * (Pearson 1900) — the product-analytics question behind every
    * launch review: is the treatment's conversion rate distinguishable
    * from control's? `chi2_centi = N·(ad−bc)²·100 div
    * ((a+b)(c+d)(a+c)(b+d))` via [[chi2CentiCol]] — exact-integer for
    * subject populations to 2·10⁷ (DECIMAL(38,0) staging), the
    * single-rounded-double convention beyond — with the χ²(0.95, 1) =
    * 3.84 cut at 384 centi-units. One conditional-count aggregate over
    * the subject frame — nothing else.
    *
    * Output (one row): a/b/c/d cell counts (treatment×converted),
    * per-arm rates in bp, chi2_centi, significant.
    */
  def abTestChi2(df: DataFrame, treatCol: String, convCol: String): DataFrame =
    df.agg(
        sum(when(col(treatCol) && col(convCol), 1L).otherwise(0L)).as("a"),
        sum(when(col(treatCol) && !col(convCol), 1L).otherwise(0L)).as("b"),
        sum(when(!col(treatCol) && col(convCol), 1L).otherwise(0L)).as("c"),
        sum(when(!col(treatCol) && !col(convCol), 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        expr("CAST(CASE WHEN a + b > 0 THEN (a * 10000) div (a + b) ELSE 0 END AS BIGINT)")
          .as("rate_treat_bp"),
        expr("CAST(CASE WHEN c + d > 0 THEN (c * 10000) div (c + d) ELSE 0 END AS BIGINT)")
          .as("rate_ctrl_bp"),
        chi2CentiCol.as("chi2_centi"))
      .withColumn("significant", col("chi2_centi") > 384L)
}
