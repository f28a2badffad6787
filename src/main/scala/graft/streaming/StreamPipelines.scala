package graft.streaming

import graft.ops.LatestWins
import graft.table.SnapshotLog
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming assembly of the reference's three pipelines
  * (SURVEY.md §2.9 T1-T10; reference src/spark/streaming_job.py,
  * stream_content.py, stream_dims.py) — re-expressed engine-natively:
  * file/memory sources instead of Kafka (same `readStream` surface),
  * [[graft.table.SnapshotLog]] tables instead of Iceberg, `foreachBatch`
  * + merge-on-read deltas instead of MERGE INTO. Every sink commits one
  * tagged SnapshotLog version per micro-batch and skips a batch whose tag
  * is already in the log.
  *
  * Scale notes: every stage is bounded-state. The windowed aggregate keeps
  * state only until the watermark passes (T9 late-data policy); the upsert
  * sink dedups each micro-batch to one row per key BEFORE touching the
  * target (the reference's "minimize MERGE overhead" rewrite, W1); nothing
  * collects to the driver.
  */
object StreamPipelines {

  /** S1-S3 — the Kafka ingest option surface (reference
    * streaming_job.py:190-196, stream_content.py:93-98,
    * stream_dims.py:162-185): bootstrap servers, subscribed topic, starting
    * offsets (`earliest` for replayable pipelines, `latest` for tail-only,
    * or a per-partition JSON offset map), and the per-trigger rate limit
    * (T5 — `maxOffsetsPerTrigger` bounds a micro-batch so recovery after
    * downtime doesn't produce one giant batch). Pure map → unit-testable
    * without a broker.
    */
  def kafkaOptions(
      brokers: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true
  ): Map[String, String] = {
    require(brokers.nonEmpty && topic.nonEmpty, "brokers and topic are required")
    require(
      startingOffsets == "earliest" || startingOffsets == "latest" ||
        startingOffsets.trim.startsWith("{"),
      s"startingOffsets must be 'earliest', 'latest', or a JSON offset map; got '$startingOffsets'")
    maxOffsetsPerTrigger.foreach(n => require(n > 0, s"maxOffsetsPerTrigger must be > 0, got $n"))
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe"               -> topic,
      "startingOffsets"         -> startingOffsets,
      "failOnDataLoss"          -> failOnDataLoss.toString
    ) ++ maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString)
  }

  /** The `format("kafka")` reader carrying [[kafkaOptions]] — the entry
    * point a user with a real cluster calls; `.load()` yields the standard
    * wire frame (key, value, topic, partition, offset, timestamp) that
    * [[parseJsonEnvelope]] consumes. This sandbox ships no Kafka connector
    * or broker, so tests exercise the option plumbing and keep the
    * file/MemoryStream twin (identical wire shape) as the executable path.
    */
  def kafkaReader(
      spark: SparkSession,
      brokers: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true
  ): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format("kafka")
      .options(kafkaOptions(brokers, topic, startingOffsets, maxOffsetsPerTrigger, failOnDataLoss))

  /** [[kafkaReader]].load(): the raw Kafka envelope frame (S1 earliest /
    * S2 latest by `startingOffsets`). Requires the spark-sql-kafka
    * connector on the classpath.
    */
  def kafkaSource(
      spark: SparkSession,
      brokers: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None
  ): DataFrame =
    kafkaReader(spark, brokers, topic, startingOffsets, maxOffsetsPerTrigger).load()

  /** P1/P2 envelope parse: a raw `value` string column (Kafka-shaped) into
    * typed columns via an explicit schema — no inference, PERMISSIVE nulls
    * (reference streaming_job.py:200-202).
    */
  def parseJsonEnvelope(raw: DataFrame, schema: StructType, valueCol: String = "value"): DataFrame =
    raw
      .select(from_json(col(valueCol).cast("string"), schema).as("data"))
      .select(col("data.*"))

  /** "Header + Body" bronze projection (reference stream_content.py:106-114,
    * design_doc/MockEventGenerator.md:28-52): strict typed header columns
    * stay top-level, everything else is folded back into a JSON-string
    * `payload` body (schema-drift tolerant), plus an `ingested_at`
    * processing-time stamp.
    */
  def headerBody(df: DataFrame, headerCols: Seq[String]): DataFrame = {
    val bodyCols = df.columns.toIndexedSeq.filterNot(headerCols.contains)
    df.select(
      headerCols.map(col) ++ Seq(
        to_json(struct(bodyCols.map(col): _*)).as("payload"),
        current_timestamp().as("ingested_at")): _*)
  }

  /** T1/T2/A3 — the Gold 1-minute metrics pipeline: watermarked tumbling
    * window × one conditional count per event type
    * (reference stream_content.py:123-138). Append-mode-ready: a window row
    * emits exactly once, after the watermark passes its end.
    */
  def minuteMetrics(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      eventTypeCol: String,
      eventTypes: Seq[String],
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    val counts = eventTypes.map(t =>
      count(when(col(eventTypeCol) === t, 1)).as(s"n_$t"))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(counts.head, counts.tail: _*)
      .select(col("window.start").as("window_start") +: col(keyCol) +:
        eventTypes.map(t => col(s"n_$t")): _*)
  }

  /** T8 — built-in session windows (the streaming upgrade of the batch LAG
    * sessionization the reference defers to T+1).
    */
  def sessionMetrics(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      gap: String = "30 minutes",
      watermark: String = "10 seconds"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Windowed sketch telemetry: per tumbling window, an approximate
    * distinct count (KMV) and the Misra-Gries heavy-hitter candidates
    * beside the exact row count. The scale point: both sketches are
    * mergeable `TypedImperativeAggregate`s, so the streaming state store
    * holds ONE bounded buffer per window (k hashes + m counters), partial
    * states merge across micro-batches and shuffle partitions exactly as
    * they merge across executors in batch, and the append-mode row emits
    * once when the watermark closes the window. An exact streaming
    * `countDistinct` over unbounded keys would hold every key in state;
    * this holds O(k + m) per window regardless of cardinality.
    *
    * When the window's true cardinality is ≤ k (resp. ≤ m distinct
    * items), both sketches are exact — the envelope semantics match the
    * batch q36/q54 oracles.
    *
    * Requires [[graft.functions.GraftExtensions]] on the session (the
    * sketch aggregates are extension-registered expressions).
    */
  def windowedSketchStats(
      events: DataFrame,
      tsCol: String,
      valCol: String,
      k: Int = 256,
      m: Int = 8,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    require(graft.functions.GraftFunctions.installed(events.sparkSession),
      "windowedSketchStats needs the graft extension (sketch aggregates)")
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength))
      .agg(
        graft.functions.GraftFunctions.kmvDistinct(col(valCol), k).as("approx_distinct"),
        // heavy-hitter keys surface as the MG map's string keys, so any
        // atomic value column is accepted here via a cast
        graft.functions.GraftFunctions.freqItems(col(valCol).cast("string"), m).as("heavy_hitters"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("window_start"),
        col("approx_distinct"), col("heavy_hitters"), col("n_rows"))
  }

  /** Windowed HDR-histogram telemetry — the streaming twin of the q292
    * quantile sketch: per tumbling window, the value column folds into
    * the deterministic log-bucket histogram
    * ([[graft.ext.HdrSketch.bucketCol]] — exact bit arithmetic, no
    * float log), so every closed window emits its ~16·64-row bucket
    * frame and any percentile is answerable downstream without having
    * stored a single raw value. State is one counter per (window,
    * bucket) — bounded regardless of event volume; append mode emits
    * each bucket row once on watermark close, and windows merge
    * by-addition across re-partitions exactly as the batch sketch does.
    */
  def hdrTelemetry(
      events: DataFrame,
      tsCol: String,
      valCol: String,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .withColumn("__bucket",
        graft.ext.HdrSketch.bucketCol(col(valCol).cast("long")))
      .groupBy(window(col(tsCol), windowLength), col("__bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("bucket"), col("cnt"))

  /** Windowed A/B telemetry — the streaming twin of the q299 gate: per
    * tumbling window, the four 2×2 cells (treatment × converted) fold as
    * conditional counts and the chi-square statistic computes in the
    * window-close projection, exactly as
    * [[graft.ext.RobustStats.abTestChi2]] defines it (centi-units,
    * 3.84 cut). State is ONE counter row per window; append mode emits
    * each window's verdict once — the live launch-dashboard gauge
    * (with the usual peeking caveat documented at the batch gate).
    */
  def abTestTelemetry(
      events: DataFrame,
      tsCol: String,
      treatCol: String,
      convCol: String,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength))
      .agg(
        sum(when(col(treatCol) && col(convCol), 1L).otherwise(0L)).as("a"),
        sum(when(col(treatCol) && !col(convCol), 1L).otherwise(0L)).as("b"),
        sum(when(!col(treatCol) && col(convCol), 1L).otherwise(0L)).as("c"),
        sum(when(!col(treatCol) && !col(convCol), 1L).otherwise(0L)).as("d"))
      .select(col("window.start").as("window_start"),
        col("a"), col("b"), col("c"), col("d"),
        graft.ext.RobustStats.chi2CentiCol.as("chi2_centi"))
      .withColumn("significant", col("chi2_centi") > 384L)

  /** Windowed ingest-funnel telemetry — the streaming twin of the q150
    * batch funnel: per tumbling window, documents counted by the FIRST
    * [[curateIngest]] gate they fail (too_short → repetitive → pii →
    * pass), with the same thresholds, so the `pass` row is exactly what
    * curateIngest would emit before its watermark dedup (digest-dedup
    * drops are stateful and surface as the difference against the curated
    * output count). One windowed hash-agg; state is one counter row per
    * (window, stage) — bounded at 4 stages per window — and append mode
    * emits each row once when the watermark closes the window.
    */
  def ingestFunnelStats(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute",
      minTokens: Int = 5,
      maxRepBp: Long = 6000L
  ): DataFrame = {
    val toks = graft.ext.TextDedup.tokens(col(textCol))
    val sh   = graft.ext.TextDedup.wordShingles(toks, 2)
    val pii  = Seq(graft.ext.TextStats.EmailPattern, graft.ext.TextStats.UrlPattern,
        graft.ext.TextStats.DigitRunPattern)
      .map(p => size(regexp_extract_all(col(textCol), lit(p), lit(0))))
      .reduce(_ + _)
    docs
      .withColumn("__nt", size(toks).cast("long"))
      .withColumn("__nsh", size(sh).cast("long"))
      .withColumn("__nd", size(array_distinct(sh)).cast("long"))
      .withColumn("__rep", when(col("__nsh") > 0,
        expr("((__nsh - __nd) * 10000L) div __nsh")).otherwise(0L))
      .withColumn("stage",
        when(col("__nt") < minTokens, "too_short")
          .when(col("__rep") > maxRepBp, "repetitive")
          .when(pii > 0, "pii")
          .otherwise("pass"))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
      .select(col("window.start").as("window_start"), col("stage"),
        col("n_docs"), col("n_tokens"))
  }

  /** Windowed Poisson-bootstrap CI telemetry — the streaming twin of the
    * q174 batch operator: per tumbling window, the mean event value (in
    * exact cents) plus a rank-statistic CI over `reps` deterministic
    * Poisson(1) resampling replicates. The replicates are 2·reps
    * CONDITIONAL-SUM COLUMNS inside the one windowed aggregate (no
    * explode, no second stateful operator — append-mode-safe with a
    * single state store); the CI is a row-local sort of the reps replicate
    * means at window close. Weights replay from the event key hash, so a
    * replayed window emits the identical CI.
    *
    * Output per window: (window_start, n, mean_cents, lo_cents, hi_cents).
    */
  def windowedBootstrapCI(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      valueCol: String,
      reps: Int = 16,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    require(reps > 1, "reps must be > 1")
    val cents = round(col(valueCol) * 100, 0).cast("long")
    val repAggs = (0 until reps).flatMap { b =>
      val h = graft.ext.Sampling.hashBucket16(
        concat(lit(s"$b|"), col(keyCol).cast("string")))
      val w = graft.ext.Sampling.poissonWeight(h)
      Seq(sum(w * cents).as(s"__wx$b"), sum(w).as(s"__ws$b"))
    }
    val means = array((0 until reps).map(b =>
      expr(s"CASE WHEN __ws$b > 0 THEN __wx$b div __ws$b END")): _*)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength))
      .agg(count(lit(1)).as("n"), (sum(cents).as("__sc") +: repAggs): _*)
      .withColumn("__sorted", array_sort(array_compact(means)))
      .select(col("window.start").as("window_start"), col("n"),
        expr("__sc div n").as("mean_cents"),
        element_at(col("__sorted"), 1).as("lo_cents"),
        element_at(col("__sorted"), size(col("__sorted"))).as("hi_cents"))
  }

  /** Streaming twin of q189 — ε-DP noisy counts per tumbling window: one
    * windowed aggregate, then the seeded Laplace draw attaches as a
    * PROJECTION keyed by (window_start, group) — so a REPLAYED window
    * re-emits the identical release (the determinism that prevents
    * noise-averaging across retries is exactly what makes the sink
    * idempotent), and the small-cell suppression floor applies per
    * window. Append-mode-safe: a single stateful operator, noise added
    * after the aggregate closes.
    *
    * Output per window row: (window_start, group, true_n, noise_micro,
    * released_micro) — `true_n` kept for the calibration audit, as in
    * the batch operator.
    */
  def windowedDpRelease(
      events: DataFrame,
      tsCol: String,
      groupCol: String,
      salt: String,
      bMicro: Long = 1000000L,
      suppressBelow: Long = 1L,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    val key = concat_ws("/",
      unix_micros(col("window.start")).cast("string"),
      col(groupCol).cast("string"))
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(groupCol))
      .agg(count(lit(1)).as("true_n"))
      .filter(col("true_n") >= suppressBelow)
      .withColumn("noise_micro",
        graft.ext.Privacy.laplaceNoiseMicro(key, salt, bMicro))
      .select(col("window.start").as("window_start"), col(groupCol),
        col("true_n"), col("noise_micro"),
        (col("true_n") * lit(1000000L) + col("noise_micro")).as("released_micro"))
  }

  /** Streaming ingest dedup: drop redelivered events by key with
    * watermark-bounded state (`dropDuplicatesWithinWatermark`). The state
    * store keeps one entry per key only until the watermark passes — the
    * bounded-memory form of at-least-once → effectively-once ingest (a
    * plain `dropDuplicates` on a stream would grow state forever; the
    * reference gets the same effect transactionally via MERGE-on-key,
    * J1/T6 — this is the stateless-sink alternative).
    *
    * Keys re-delivered within the watermark horizon are suppressed;
    * duplicates arriving later than the watermark are the same late rows
    * the pipeline already drops (T9) — state and correctness share one
    * event-time bound.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String = "10 seconds"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming twin of [[graft.ext.ParagraphDedup.paragraphDedup]]: explode
    * arriving documents into fixed-width token paragraphs (a stateless
    * projection — the same [[graft.ext.ParagraphDedup.paragraphs]] tiling
    * as batch) and keep ONE occurrence per paragraph digest within the
    * watermark horizon. State is one digest per distinct paragraph until
    * the watermark passes — the bounded form of CCNet line dedup at ingest.
    *
    * Emits surviving `(idCol, tsCol, idx, para)` rows — a deduplicated
    * paragraph stream for an append sink. Unlike batch, "first occurrence"
    * among rows of the SAME micro-batch is whichever the state store sees
    * first, not the min (doc, idx) — cross-batch suppression is exact.
    */
  def paragraphDedupStream(
      docs: DataFrame,
      tsCol: String,
      idCol: String,
      textCol: String,
      paraTokens: Int = 10,
      watermark: String = "10 seconds"
  ): DataFrame =
    graft.ext.ParagraphDedup.paragraphs(docs, idCol, textCol, paraTokens, keep = Seq(tsCol))
      .withColumn("__h", md5(col("para").cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__h"))
      .drop("__h")

  /** Streaming twin of [[graft.ext.TextStats.bigramFluency]]: score arriving
    * documents against a PRE-TRAINED bigram model (built from yesterday's
    * corpus with [[graft.ext.TextStats.bigramModel]]) — the deployment shape
    * of the CCNet fluency filter, where the LM is frozen and only the ingest
    * moves. The model join is stream-static (stateless, re-broadcast per
    * micro-batch); the per-document roll-up is a watermarked aggregate that
    * closes when the document's event time expires, so state is bounded by
    * in-flight documents, not corpus history.
    *
    * Bigrams absent from the model are skipped by the inner join exactly as
    * in batch; documents whose bigrams ALL miss the model emit nothing.
    */
  def fluencyScoreStream(
      docs: DataFrame,
      model: DataFrame,
      tsCol: String,
      idCol: String,
      textCol: String,
      watermark: String = "10 seconds"
  ): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(graft.ext.TextDedup.wordShingles(
          graft.ext.TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .join(model, "bigram")
      .groupBy(window(col(tsCol), "1 minute"), col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_permille")).as("sum_p_permille"))
      .select(col(idCol), col("n_bigrams"), col("sum_p_permille"),
        expr("sum_p_permille div n_bigrams").as("fluency_permille"))

  /** Streaming DSIR scoring against a frozen bucket model
    * ([[graft.ext.Sampling.importanceModel]]) — the deployment shape of
    * target-aware selection: train the likelihood-ratio model once on a
    * static target/raw corpus, then score arriving documents with a
    * stream-static broadcast join + a watermarked per-doc roll-up.
    * Tokens hashing to buckets absent from the model are skipped (the
    * [[fluencyScoreStream]] unknown-ngram convention) and `n_tokens`
    * counts only the SCORED tokens — so
    * `Σ tokens lr(bucket(token)) div n` equals the batch
    * [[graft.ext.Sampling.importanceWeights]] score exactly when every
    * token's bucket exists in the model (always true when the model was
    * trained on a corpus containing the document; approximate for novel
    * vocabulary). A document with no known tokens emits nothing.
    */
  def dsirScoreStream(
      docs: DataFrame,
      model: DataFrame,
      tsCol: String,
      idCol: String,
      textCol: String,
      buckets: Int = 128,
      watermark: String = "10 seconds"
  ): DataFrame =
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol),
        explode(graft.ext.TextDedup.tokens(col(textCol))).as("__tok"))
      .withColumn("__b", graft.ext.Sampling.tokenBucket(col("__tok"), buckets))
      .join(model, "__b")
      .groupBy(window(col(tsCol), "1 minute"), col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lr")).as("__sum_lr"))
      .select(col(idCol), col("n_tokens"),
        expr("__sum_lr div n_tokens").as("dsir_permille"))

  /** Streaming quality-classifier gate: frozen [[graft.ext.Classifier]]
    * ppm weights applied to arriving documents — the deployment shape of
    * the trained quality filter (train once in batch (q124), pick the
    * threshold from the calibration curve (q125), gate the ingest stream
    * with the frozen weights). The whole operator is a STATELESS codegen
    * projection: features are per-row arithmetic, the weights are
    * literals in the sigmoid expression — no state store, no shuffle, no
    * watermark, so throughput scales with input partitions alone (at
    * d ≫ 10³ features the weights would ride a broadcast frame instead
    * of literals; at d = 6 literals keep the stage whole-codegen).
    *
    * Emits documents with `p_ppm >= thresholdPpm` as
    * `(idCol, keep..., p_ppm)`.
    */
  def qualityGateStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Long],
      thresholdPpm: Long,
      keep: Seq[String] = Nil
  ): DataFrame =
    graft.ext.Classifier.lrFeatures(docs, idCol, textCol, lit(false), keep)
      .withColumn("p_ppm", graft.ext.Classifier.scoreColumn(weights))
      .filter(col("p_ppm") >= thresholdPpm)
      .select((col(idCol) +: keep.map(col)) :+ col("p_ppm"): _*)

  /** Streaming CONFORMAL gate — [[qualityGateStream]]'s selective-
    * classification deployment shape (the
    * [[graft.ext.Classifier.splitConformal]] loop closed on the live
    * path): the frozen conformal quantile `qhatPpm` (calibrated offline
    * at the operator's 1−α) turns each arriving document's score into a
    * PREDICTION SET over {keep, drop}, and the gate routes on the set:
    *
    *   - {keep} alone (10⁶ − p ≤ q̂ < p)  → `keep` — confidently admit;
    *   - {drop} alone (p ≤ q̂ < 10⁶ − p)  → `drop` — confidently reject;
    *   - both labels in the set            → `review` — the scorer cannot
    *     separate this document at the calibrated error rate; routing
    *     ambiguity to a human/stronger model is exactly what conformal
    *     selective classification buys (Angelopoulos & Bates 2021 §4);
    *   - neither (q̂ below both scores)    → `review` as well — an
    *     empty set is the miscoverage signal, never silently dropped.
    *
    * Stateless codegen projection like the plain gate: the features are
    * per-row arithmetic, weights and q̂ ride as literals — no state
    * store, no shuffle, no watermark. Emits
    * `(idCol, keep..., p_ppm, verdict)`.
    */
  def conformalGateStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Long],
      qhatPpm: Long,
      keep: Seq[String] = Nil
  ): DataFrame =
    conformalGateVerdicts(docs, idCol, textCol, weights, lit(qhatPpm), keep)

  /** The conformal set-routing projection shared by the frozen-q̂
    * [[conformalGateStream]] and the live-q̂ [[conformalGateRefreshingSink]].
    */
  private def conformalGateVerdicts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Long],
      qhat: Column,
      keep: Seq[String]
  ): DataFrame =
    graft.ext.Classifier.lrFeatures(docs, idCol, textCol, lit(false), keep)
      .withColumn("p_ppm", graft.ext.Classifier.scoreColumn(weights))
      .withColumn("verdict",
        when(lit(1000000L) - col("p_ppm") <= qhat &&
            col("p_ppm") > qhat, "keep")
          .when(col("p_ppm") <= qhat &&
            lit(1000000L) - col("p_ppm") > qhat, "drop")
          .otherwise("review"))
      .select((col(idCol) +: keep.map(col)) :+ col("p_ppm") :+ col("verdict"): _*)

  /** Versioned conformal-calibration refresh — the q324 loop closed on
    * the conformal gate (the [[mixtureWeightsRefreshIngestBatch]]
    * contract): each micro-batch of CLOSED labeled calibration rows
    * (`y`, `p_ppm` — the held-out slice a deployment both scores and
    * labels, e.g. review outcomes flowing back) folds its per-score
    * nonconformity counts (s = 10⁶ − p_true, the
    * [[graft.ext.Classifier.splitConformal]] score) into the persisted
    * DISTINCT-SCORE spine as a new version ([[refreshFold]] — tagged
    * with the incarnation-bound batch tag, so a re-delivered batch is an
    * exact no-op) and commits the per-α quantile table to the SnapshotLog
    * table `<statePath>/qhat`: q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest
    * score via the cumulative count over the folded spine. Counts are
    * sums, so the fold across k batches equals the batch order statistic
    * over their union EXACTLY (spec-pinned); state is spine-bounded (≤ the
    * 10⁶+1-value ppm domain), never calibration-volume-sized. When
    * k > n_cal the emitted q̂ is conformal infinity (1000001) — the gate
    * then routes everything to review, the safe cold-start regime.
    */
  def conformalRefreshIngestBatch(
      batch: DataFrame,
      statePath: String,
      batchId: Long,
      alphaPcts: Seq[Long] = Seq(5L, 10L, 20L),
      incarnation: Option[String] = None): Unit = {
    require(alphaPcts.nonEmpty && alphaPcts.forall(a => a >= 1 && a <= 50),
      "alphaPcts must be in [1, 50]")
    refreshFold(batch, statePath, batchId, incarnation, Seq("s"), Seq("c"), "qhat")(
      _.select((lit(1000000L) - when(col("y") === 1L, col("p_ppm"))
        .otherwise(lit(1000000L) - col("p_ppm"))).as("s"), lit(1L).as("c"))) { spine =>
      val W = org.apache.spark.sql.expressions.Window
      // post-aggregation ppm-domain-bounded frame — the splitConformal
      // spine discipline, never calibration-volume-sized
      val cum = spine.withColumn("__cum", sum(col("c")).over(
        W.orderBy(col("s")).rowsBetween(W.unboundedPreceding, 0)))
      broadcast(spine.sparkSession.createDataset(alphaPcts)(Encoders.scalaLong).toDF("alpha_pct")
          .crossJoin(broadcast(spine.agg(sum(col("c")).as("n_cal"))))
          .select(col("alpha_pct"), col("n_cal"),
            expr("((n_cal + 1) * (100 - alpha_pct) + 99) div 100").as("k")))
        .join(cum, col("__cum") >= col("k"), "left")
        .groupBy(col("alpha_pct"), col("n_cal"), col("k"))
        .agg(coalesce(min(col("s")), lit(1000001L)).as("qhat_ppm"))
    }
  }

  /** One micro-batch of the LIVE conformal gate: resolve q̂ for
    * `alphaPct` from the latest committed quantile table of a
    * [[conformalRefreshIngestBatch]] state root (`<statePath>/qhat`,
    * falling back to `fallbackQhatPpm` — conformal infinity by default,
    * so an uncalibrated gate routes everything to review rather than
    * guessing), route the batch on its prediction sets, and append the
    * verdicts to the SnapshotLog table at `outPath`, tagged with the
    * incarnation-bound batch tag — a replayed batch is an exact no-op
    * even if q̂ has moved since, so reprocessing can never rewrite
    * history; a torn write is an unpublished segment no reader sees.
    * Rows carry `qhat_ppm_used`, so an audit attributes every verdict to
    * the calibration state that produced it.
    */
  def conformalGateIngestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Long],
      statePath: String,
      outPath: String,
      batchId: Long,
      alphaPct: Long = 10L,
      fallbackQhatPpm: Long = 1000001L,
      keep: Seq[String] = Nil,
      incarnation: Option[String] = None): Unit =
    onceTagged(batch, outPath, batchId, incarnation) { tag =>
      val qhat = latestOf(batch.sparkSession, s"$statePath/qhat")
        .flatMap(_.filter(col("alpha_pct") === alphaPct)
          .select(col("qhat_ppm")).collect().headOption.map(_.getLong(0)))
        .getOrElse(fallbackQhatPpm)
      SnapshotLog.commitAppend(
        conformalGateVerdicts(batch, idCol, textCol, weights, lit(qhat), keep)
          .withColumn("qhat_ppm_used", lit(qhat)),
        outPath, Some(tag))
      ()
    }

  /** [[conformalGateIngestBatch]] as a foreachBatch sink — the refresh
    * loop's consumer half: [[conformalRefreshIngestBatch]] (driven by a
    * separate calibration stream) advances q̂; each of this gate's
    * micro-batches folds from the LATEST committed version, so a
    * recalibration changes routing mid-stream without restarting the
    * gate. Read the verdicts with [[graft.table.SnapshotLog.read]].
    */
  def conformalGateRefreshingSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: Seq[Long],
      statePath: String,
      outPath: String,
      checkpointDir: String,
      alphaPct: Long = 10L,
      fallbackQhatPpm: Long = 1000001L,
      keep: Seq[String] = Nil,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        conformalGateIngestBatch(batch, idCol, textCol, weights, statePath,
          outPath, batchId, alphaPct, fallbackQhatPpm, keep,
          incarnation = streamIncarnation(batch.sparkSession))
      }

  /** [[conformalRefreshIngestBatch]] as a foreachBatch sink over the
    * labeled calibration stream.
    */
  def conformalRefreshSink(
      labeled: DataFrame,
      statePath: String,
      checkpointDir: String,
      alphaPcts: Seq[Long] = Seq(5L, 10L, 20L),
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    labeled.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        conformalRefreshIngestBatch(batch, statePath, batchId, alphaPcts,
          incarnation = streamIncarnation(batch.sparkSession))
      }

  /** Streaming ingest curation: the filter-at-ingest half of the batch
    * curation pipeline (q69) applied to a document stream — junk is
    * cheaper to drop before it is stored than to scrub after. Every
    * quality signal is a pure projection (tokens / duplicate-shingle
    * share / PII regexes — the [[graft.ext.TextStats]] formulas inlined on
    * the stream), so the only state is the watermarked content-hash dedup,
    * bounded by the same event-time horizon as everything else (T9).
    *
    * Emits admitted documents with their quality columns; drops exact
    * re-deliveries (content digest within the watermark), documents under
    * `minTokens`, documents whose duplicate-bigram share exceeds
    * `maxRepBp`, and documents with detected PII.
    */
  def curateIngest(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      watermark: String = "10 seconds",
      minTokens: Int = 5,
      maxRepBp: Long = 6000L
  ): DataFrame = {
    val toks = graft.ext.TextDedup.tokens(col(textCol))
    val sh   = graft.ext.TextDedup.wordShingles(toks, 2)
    val pii  = Seq(graft.ext.TextStats.EmailPattern, graft.ext.TextStats.UrlPattern,
        graft.ext.TextStats.DigitRunPattern)
      .map(p => size(regexp_extract_all(col(textCol), lit(p), lit(0))))
      .reduce(_ + _)
    docs
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("__nsh", size(sh).cast("long"))
      .withColumn("__nd", size(array_distinct(sh)).cast("long"))
      .withColumn("rep_bp", when(col("__nsh") > 0,
        expr("((__nsh - __nd) * 10000L) div __nsh")).otherwise(0L))
      .withColumn("__pii", pii)
      .filter(col("n_tokens") >= minTokens && col("rep_bp") <= maxRepBp &&
        col("__pii") === 0)
      .withColumn("__digest", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__digest"))
      .drop("__nsh", "__nd", "__pii", "__digest")
  }

  /** Watermarked stream-stream interval join: left events matched to right
    * events with the same key whose event time falls in
    * [left.ts, left.ts + within]. Beyond the reference's surface (it
    * defers ALL enrichment to read time, SURVEY.md §2.3) — but the
    * canonical streaming attribution shape (click ⋈ purchase-within-24h),
    * and the streaming twin of the batch `RangeJoin`.
    *
    * State stays bounded by construction: both sides carry a watermark and
    * the join condition bounds event time in both directions, which is
    * exactly what Spark requires to evict join state — rows older than
    * (watermark - within) are dropped from the state store. Column names
    * must be disjoint across the two sides (standard stream-stream join
    * requirement).
    */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      within: String,
      watermark: String = "10 seconds"
  ): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"streamIntervalJoin: column names must be disjoint across sides, both have: ${overlap.mkString(", ")}")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"))
  }

  /** Streaming twin of the v2 curation pipeline's semantic tier (q112) —
    * [[graft.ext.VectorSearch.semanticDedupIncremental]] run per
    * micro-batch against a PERSISTED cluster index: arriving embeddings
    * are routed by the frozen centroids (trained offline, broadcast),
    * compared only within their cluster against the batch and the index,
    * and the admitted ones are appended to the index. The paragraph-dedup
    * q108 asymmetry holds one tier up: the batch is the build side, the
    * corpus-sized index streams, so per-batch latency is bounded by batch
    * size times cluster occupancy, not corpus history.
    *
    * Replay-safe twice over: a re-delivered batch finds its tag in the
    * index's log and commits nothing, and an id already indexed is
    * dropped by the anti join (the index's dedup rule).
    */
  def semanticDedupSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      indexPath: String,
      checkpointDir: String,
      threshold: Double,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semanticDedupIngestBatch(batch, idCol, vecCol, centroids, indexPath,
          batchId, threshold, incarnation = streamIncarnation(batch.sparkSession))
      }

  /** The batch body of [[semanticDedupSink]], callable directly (and from
    * tests): admit against the latest SnapshotLog index at `indexPath`
    * (none yet = empty) and append the admitted (id, cluster, vec) rows
    * as one segment tagged with the incarnation-bound batch tag.
    */
  def semanticDedupIngestBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      indexPath: String,
      batchId: Long,
      threshold: Double,
      incarnation: Option[String] = None
  ): Unit =
    onceTagged(batch, indexPath, batchId, incarnation) { tag =>
      val index = latestOf(batch.sparkSession, indexPath).getOrElse(
        batch.select(col(idCol), lit(0L).as("cluster"),
          graft.ext.VectorSearch.asDouble(col(vecCol)).as("vec")).limit(0))
      SnapshotLog.commitAppend(graft.ext.VectorSearch.semanticDedupIncremental(
        batch, index, idCol, vecCol, centroids, threshold), indexPath, Some(tag))
      ()
    }

  /** Streaming twin of q136 — [[graft.ext.VectorSearch.knnGraphIncremental]]
    * run per micro-batch against a PERSISTED bucket-keyed vector index:
    * arriving embeddings emit their top-k adjacency ('out' rows across
    * index ∪ batch, 'in' candidate updates for indexed neighbors) to an
    * append-only edge log, and the fresh vectors join the index. The
    * q108/q136 ingest asymmetry: the batch is the probe side, the
    * corpus-sized index streams — per-batch latency is bounded by batch
    * size × bucket occupancy, not index history.
    *
    * Replay-safe: both artifacts are SnapshotLog tables committed under
    * the incarnation-bound batch tag (see [[knnGraphIngestBatch]]), and an
    * id already indexed emits no edges (the id anti join).
    */
  def knnGraphSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      indexPath: String,
      edgesPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        knnGraphIngestBatch(batch, idCol, vecCol, k, bits, indexPath,
          edgesPath, batchId, incarnation = streamIncarnation(batch.sparkSession))
      }

  /** The batch body of [[knnGraphSink]], callable directly (and from
    * tests): emit the batch's adjacency updates against the latest index
    * at `indexPath` (none yet = empty), append them to the edge log at
    * `edgesPath` with a `batch_id` column, then append the fresh vectors
    * to the index. Both are SnapshotLog appends tagged with the
    * incarnation-bound batch tag, committed in the order of
    * [[knnGraphAdjacencyIngestBatch]].
    */
  def knnGraphIngestBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      indexPath: String,
      edgesPath: String,
      batchId: Long,
      incarnation: Option[String] = None
  ): Unit =
    knnGraphCommit(batch, idCol, vecCol, k, bits, indexPath, edgesPath, None,
      batchId, incarnation)

  /** [[knnGraphSink]] extended with a MAINTAINED adjacency snapshot —
    * the streaming form of the q287 composition: besides the append-only
    * edge log and index, each micro-batch folds its incremental edges
    * into the stored `(id, nbr_id, sim_bp)` adjacency via the monotone
    * top-k merge ([[graft.ext.VectorSearch.mergeAdjacency]]) and commits
    * the result as a new SnapshotLog version. A beam search
    * ([[graft.ext.VectorSearch.graphSearchCurve]]) can walk the latest
    * version at any time — the index-maintenance → search loop stays
    * closed while the stream runs.
    */
  def knnGraphAdjacencySink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      indexPath: String,
      edgesPath: String,
      adjacencyPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        knnGraphAdjacencyIngestBatch(batch, idCol, vecCol, k, bits,
          indexPath, edgesPath, adjacencyPath, batchId,
          incarnation = streamIncarnation(batch.sparkSession))
      }

  /** The batch body of [[knnGraphAdjacencySink]], callable directly (and
    * from tests).
    *
    * Three SnapshotLog commits, each tagged with the incarnation-bound
    * batch tag: the edge log append (`(id, nbr_id, sim_bp, batch_id)`),
    * the adjacency replace, then the index append. The index commits last,
    * so its tag marks the batch done and a replay finding it is a no-op. A
    * replay after a crash part-way finds the index unchanged, recomputes
    * the same fresh set and edges, and commits only the tables that lack
    * the tag (the [[refreshFold]] rule).
    */
  def knnGraphAdjacencyIngestBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int,
      indexPath: String,
      edgesPath: String,
      adjacencyPath: String,
      batchId: Long,
      incarnation: Option[String] = None
  ): Unit =
    knnGraphCommit(batch, idCol, vecCol, k, bits, indexPath, edgesPath,
      Some(adjacencyPath), batchId, incarnation)

  /** The shared body of [[knnGraphIngestBatch]] and
    * [[knnGraphAdjacencyIngestBatch]]: with an adjacency table the edge
    * log keeps only `(id, nbr_id, sim_bp)`, as the adjacency does.
    */
  private def knnGraphCommit(batch: DataFrame, idCol: String, vecCol: String,
                             k: Int, bits: Int, indexPath: String, edgesPath: String,
                             adjacencyPath: Option[String], batchId: Long,
                             incarnation: Option[String]): Unit =
    onceTagged(batch, indexPath, batchId, incarnation) { tag =>
      val spark = batch.sparkSession
      val keyed = graft.ext.VectorSearch.knnGraphIndex(batch, idCol, vecCol, bits)
      val index = latestOf(spark, indexPath).getOrElse(keyed.limit(0))
      // the fresh set is computed once and persisted: the edge emit reads
      // it up to three times (out probe, in build, union) and the index
      // append once more
      val fresh = keyed.join(index.select(col(idCol)), Seq(idCol), "left_anti")
        .persist()
      try {
        if (!fresh.isEmpty) {
          val all = graft.ext.VectorSearch.knnGraphIncrementalFromFresh(
            fresh, index, idCol, k)
          val edges = adjacencyPath.fold(all)(_ =>
            all.select(col("id"), col("nbr_id"), col("sim_bp"))).persist()
          try {
            def lacksTag(path: String) = !SnapshotLog.tags(spark, path).contains(tag)
            if (lacksTag(edgesPath))
              SnapshotLog.commitAppend(edges.withColumn("batch_id", lit(batchId)),
                edgesPath, Some(tag))
            adjacencyPath.filter(lacksTag).foreach { p =>
              SnapshotLog.commitReplace(graft.ext.VectorSearch.mergeAdjacency(
                latestOf(spark, p).getOrElse(edges.limit(0)), edges, k), p, Some(tag))
            }
            SnapshotLog.commitAppend(fresh, indexPath, Some(tag))
          } finally {
            edges.unpersist()
            ()
          }
        }
      } finally {
        fresh.unpersist()
        ()
      }
    }

  /** Maintained per-key audience sketch — the streaming form of the q289
    * theta set-op surface: each micro-batch's (key, member) rows fold
    * into the latest KMV sketch version
    * ([[graft.ext.ThetaSketch.mergeSketches]]: union-then-truncate, the
    * exactly-mergeable bottom-k), committed with
    * [[graft.table.SnapshotLog.commitReplace]] under the incarnation-bound
    * batch tag. An overlap matrix
    * ([[graft.ext.ThetaSketch.overlapEstimates]]) is computable from the
    * snapshot at any time without touching the member history — which is
    * the point: the raw per-key member sets are never stored or shuffled,
    * only O(k) rows per key.
    *
    * A replayed batch finds its tag and commits nothing; a re-delivered
    * member under a new batch hashes to a value already in (or above) the
    * sketch, so the merge is the identity, and
    * `mergeSketches(kmin(A), kmin(B)) = kmin(A ∪ B)` makes the snapshot
    * equal the batch sketch over all data ever seen regardless of batch
    * boundaries.
    */
  def audienceSketchSink(
      stream: DataFrame,
      keyCol: String,
      memberCol: String,
      k: Int,
      sketchPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        audienceSketchIngestBatch(batch, keyCol, memberCol, k, sketchPath,
          batchId, incarnation = streamIncarnation(batch.sparkSession))
      }

  /** The batch body of [[audienceSketchSink]], callable directly (and
    * from tests).
    */
  def audienceSketchIngestBatch(
      batch: DataFrame,
      keyCol: String,
      memberCol: String,
      k: Int,
      sketchPath: String,
      batchId: Long,
      incarnation: Option[String] = None
  ): Unit =
    onceTagged(batch, sketchPath, batchId, incarnation) { tag =>
      val fresh = graft.ext.ThetaSketch.kminSketch(batch, keyCol, memberCol, k)
      SnapshotLog.commitReplace(
        latestOf(batch.sparkSession, sketchPath)
          .fold(fresh)(graft.ext.ThetaSketch.mergeSketches(_, fresh, k)),
        sketchPath, Some(tag))
      ()
    }

  /** Seed the versioned quantizer state behind [[kmeansUpdateSink]]:
    * commits `(label, dim, c_bp, n)` as the first version of the
    * SnapshotLog table at `statePath`, tagged `seed`. Call once, before
    * the stream starts, with offline-trained centroids and their
    * assignment counts.
    */
  def seedKmeansState(centroids: DataFrame, counts: DataFrame,
                      statePath: String): Unit = {
    require(SnapshotLog.latestVersion(centroids.sparkSession, statePath).isEmpty,
      s"$statePath is already seeded")
    SnapshotLog.commitReplace(
      centroids.join(counts.select(col("label"), col("n")), Seq("label"), "left")
        .select(col("label"), col("dim"), col("c_bp"),
          coalesce(col("n"), lit(0L)).as("n")),
      statePath, Some("seed"))
    ()
  }

  /** Streaming twin of q137 — mini-batch k-means centroid maintenance as
    * a foreachBatch sink over versioned state: each micro-batch reads the
    * latest `(label, dim, c_bp, n)` version, applies
    * [[graft.ext.VectorSearch.kmeansUpdateBatch]], and commits the result
    * as the next SnapshotLog version tagged with the micro-batch.
    *
    * Unlike the dedup indexes' id anti join, a running-mean update has
    * no dedup rule of its own — re-applying a batch double-counts it — so
    * the batch tag alone makes it exactly-once: a replayed batch id finds
    * its own version tag already present and skips. Versions are tiny (k × dims rows), so the log is
    * the quantizer's time-travel history for free.
    */
  def kmeansUpdateSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      statePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        kmeansUpdateIngestBatch(batch, idCol, vecCol, statePath, batchId,
          incarnation = streamIncarnation(batch.sparkSession))
      }

  /** The batch body of [[kmeansUpdateSink]], callable directly (and from
    * tests). `statePath` must have been seeded via [[seedKmeansState]].
    * Replay keys on (incarnation, batchId) like every versioned sink
    * (r14): a fresh-checkpoint restart whose batch ids restart at 0 can
    * never mistake a prior incarnation's version for its own replay and
    * silently skip folding the batch.
    */
  def kmeansUpdateIngestBatch(batch: DataFrame, idCol: String, vecCol: String,
                              statePath: String, batchId: Long,
                              incarnation: Option[String] = None): Unit =
    onceTagged(batch, statePath, batchId, incarnation) { tag =>
      val state = latestOf(batch.sparkSession, statePath).getOrElse(
        throw new IllegalArgumentException(
          s"$statePath has no seeded state — call seedKmeansState first"))
      SnapshotLog.commitReplace(
        graft.ext.VectorSearch.kmeansUpdateBatch(
          batch, idCol, vecCol,
          state.select(col("label"), col("dim"), col("c_bp")),
          state.select(col("label"), col("n")).distinct()),
        statePath, Some(tag))
      ()
    }

  /** T6/J1 — the foreachBatch upsert sink committing through
    * [[graft.table.SnapshotLog]]: every micro-batch's merge becomes a
    * table VERSION, so the gold state has history (time travel to any
    * batch boundary), `$snapshots` metadata, and expire/GC maintenance —
    * the shape the reference gets from Iceberg's merge-on-read commits
    * (streaming_job.py:92-155 + compact_cold_data.py:66-92). See
    * [[upsertBatch]].
    */
  def upsertSinkVersioned(
      stream: DataFrame,
      targetPath: String,
      checkpointDir: String,
      key: Seq[String],
      orderCol: String,
      tieBreak: Seq[String],
      denseCols: Seq[String],
      sparseCols: Seq[String],
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, targetPath, key, orderCol, tieBreak, denseCols,
          sparseCols, batchId, streamIncarnation(batch.sparkSession))
      }

  /** The batch body of [[upsertSinkVersioned]], callable directly (and
    * from tests): the batch is reduced to latest-state-per-key (the
    * reference's "minimize MERGE overhead" rewrite, W1) and committed as
    * the table's first version or as a merge-on-read delta with per-column
    * coalesce carry-forward of `sparseCols`.
    *
    * Replay-idempotent via the manifest tag: each version is tagged with
    * the incarnation-bound batch tag, and a re-delivered batch (crash after
    * commit, before the checkpoint offset write) is detected and skipped —
    * one version per batch boundary, exactly once.
    */
  def upsertBatch(
      batch: DataFrame,
      targetPath: String,
      key: Seq[String],
      orderCol: String,
      tieBreak: Seq[String],
      denseCols: Seq[String],
      sparseCols: Seq[String],
      batchId: Long,
      incarnation: Option[String] = None
  ): Unit = {
    val spark = batch.sparkSession
    val tag   = versionedBatchTag(incarnation, batchId)
    // replayed batch (restart between commit and checkpoint) → no-op.
    // Scans ALL retained tags, not just the latest: a compaction commit
    // landing inside that window would otherwise mask the batch's tag
    // and let the replay re-merge as a spurious extra version.
    if (!SnapshotLog.tags(spark, targetPath).contains(tag)) {
      // cache: the batch is consumed by two actions (emptiness gate +
      // delta write) — same reason the reference caches around its dual
      // writes (streaming_job.py:75, SURVEY.md S11)
      batch.persist()
      try {
        if (!batch.isEmpty) {
          val reduced = LatestWins.latestState(
            batch, key, orderCol, tieBreak, denseCols, sparseCols, maxOrderAlias = "last_seen")
          // merge-on-read (reference streaming_job.py:55-60): after the
          // first base version, each micro-batch commits ONLY its own
          // reduced rows as a delta segment — O(batch) write cost, not
          // O(table); SnapshotLog.read folds latest-wins by
          // (last_seen, batch) with the sparse-column coalesce carry,
          // and compactLatest folds deltas back into a base.
          SnapshotLog.latestVersion(spark, targetPath) match {
            case Some(_) =>
              SnapshotLog.commitDelta(reduced, targetPath,
                SnapshotLog.MergeSpec(
                  key, carryCols = sparseCols, orderCol = Some("last_seen")),
                Some(tag))
            case None =>
              SnapshotLog.commitReplace(reduced, targetPath, Some(tag))
          }
          ()
        }
      } finally { batch.unpersist(); () }
    }
  }

  /** The dims pipeline (reference stream_dims.py:171-191) committing
    * through [[graft.table.SnapshotLog]]: every CDC micro-batch
    * application becomes a dimension-table VERSION (time-travelable SCD1 —
    * "what did dim_users look like at batch N"), tagged for replay
    * idempotence like [[upsertSinkVersioned]]. See [[applyCdcBatch]].
    */
  def cdcSinkVersioned(
      stream: DataFrame,
      targetPath: String,
      checkpointDir: String,
      key: Seq[String],
      tsCol: String = "ts_ms",
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, targetPath, key, batchId, tsCol,
          streamIncarnation(batch.sparkSession))
      }

  /** T10 — CDC apply (Debezium-style envelope), the batch body of
    * [[cdcSinkVersioned]]: keep creates/updates, latest per key by
    * `tsCol` ACROSS batches. After the base version each batch commits
    * only its own latest-per-key envelopes with a delete marker as a
    * merge-on-read delta, and the read-time fold ranks by (`tsCol`,
    * batch): an envelope older than the stored state is a no-op
    * (replayed/backfilled topics deliver out of order; batch-local dedup
    * alone would let stale envelopes overwrite newer state), and deletes
    * ('d') remove the key, also ts-ordered — an old delete does not beat
    * a newer upsert. Equal `tsCol` resolves to the later batch. A batch
    * whose incarnation-bound tag is committed already is skipped.
    * Reference stream_dims.py:65-141.
    */
  def applyCdcBatch(
      batch: DataFrame,
      targetPath: String,
      key: Seq[String],
      batchId: Long,
      tsCol: String = "ts_ms",
      incarnation: Option[String] = None
  ): Unit = {
    val spark = batch.sparkSession
    val tag   = versionedBatchTag(incarnation, batchId)
    if (!SnapshotLog.tags(spark, targetPath).contains(tag) &&
        !batch.isEmpty) {
      val latest = LatestWins.latestRow(batch, key, tsCol, Nil)
      // merge-on-read CDC apply (reference stream_dims.py:26-29): after
      // the base snapshot, each batch commits only its own envelopes
      // with a delete marker; the read-time fold ranks by (ts, batch)
      // so a stale delete never beats a newer upsert.
      SnapshotLog.latestVersion(spark, targetPath) match {
        case Some(_) =>
          SnapshotLog.commitDelta(
            latest.withColumn("is_delete", col("op") === "d").drop("op"),
            targetPath,
            SnapshotLog.MergeSpec(
              key, deleteCol = Some("is_delete"), orderCol = Some(tsCol)),
            Some(tag))
        case None =>
          SnapshotLog.commitReplace(
            latest.filter(col("op") =!= "d").drop("op"), targetPath, Some(tag))
      }
      ()
    }
  }

  /** Streaming twin of q283 — [[graft.ext.TextDedup.simhash64Incremental]]
    * run per micro-batch against a PERSISTED fingerprint index: the
    * Manku et al. (WWW 2007) use case IS crawl ingest. An arriving
    * document is DROPPED when its fingerprint near-dups an indexed
    * fingerprint or a smaller-id document of the same batch (first-wins,
    * the [[curateIngest]] rule one fingerprint family over); survivors
    * append their fingerprints to the SnapshotLog index at `indexPath`
    * ([[nearDupIngest]]: one segment tagged with the incarnation-bound
    * batch tag, so a replayed batch is an exact no-op, and a re-delivered
    * id drops by the anti join).
    *
    * Fingerprints are the 64-bit width with 16-bit bands — the
    * PRODUCTION default (SCALING.md: band occupancy n/2¹⁶ keeps the
    * fixed-batch probe flat as the index grows; the 32-bit operator
    * q232 exercises remains the documented cheap probe). Index layout:
    * (idCol, sh_hi, sh_lo).
    */
  def simhashDedupIngestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      batchId: Long,
      nBands: Int = 4,
      maxHamming: Int = 3,
      incarnation: Option[String] = None
  ): Unit =
    nearDupIngest(batch, idCol, indexPath, batchId, incarnation)(
      graft.ext.TextDedup.simhash64Index(_, idCol, textCol))(
      graft.ext.TextDedup.simhash64IncrementalFromFresh(_, _, idCol, nBands, maxHamming))

  /** [[simhashDedupIngestBatch]] as a foreachBatch sink. */
  def simhashDedupSink(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      checkpointDir: String,
      nBands: Int = 4,
      maxHamming: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        simhashDedupIngestBatch(batch, idCol, textCol, indexPath, batchId,
          nBands, maxHamming, incarnation = streamIncarnation(batch.sparkSession))
      }

  /** Streaming twin of q294 at the ingest tier — the [[simhashDedupIngestBatch]]
    * contract one modality over: each micro-batch's payloads fingerprint
    * with the perceptual dHash
    * ([[graft.ext.Multimodal.dhashFingerprints]]), re-delivered ids drop
    * by the anti-join against the PERSISTED fingerprint index, fresh
    * fingerprints probe index ∪ batch through the banded pigeonhole join
    * ([[graft.ext.Multimodal.dhashNearDupsFromFresh]] — per-batch cost is
    * batch × band occupancy, never index history), near-dup arrivals are
    * DROPPED (first-wins: an indexed partner, or a smaller-id batch
    * partner), and survivors append (id, fp_hi, fp_lo) to the SnapshotLog
    * index as one tagged segment ([[nearDupIngest]]).
    */
  def dhashDedupIngestBatch(
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      batchId: Long,
      maxHamming: Int = 3,
      maxBlockSize: Int = 64,
      incarnation: Option[String] = None
  ): Unit =
    nearDupIngest(batch, "id", indexPath, batchId, incarnation)(
      graft.ext.Multimodal.dhashFingerprints(_, idCol, payloadCol))(
      graft.ext.Multimodal.dhashNearDupsFromFresh(_, _, maxHamming, maxBlockSize))

  /** The near-dup ingest gate shared by the simhash, dHash, video-dHash
    * and audio-chroma indexes: `fingerprints` of the batch (one or more
    * rows per id, keyed by `idCol`) lose the ids already in the latest
    * index at `indexPath` (the anti join: a re-delivered id admits
    * nothing), `nearDups(fresh, index)` yields (id, nbr_id) partner
    * pairs, and a fresh id DROPS first-wins when a partner is indexed
    * (absent from the fresh set) or a smaller batch id. The survivors'
    * rows commit as one SnapshotLog segment tagged with the
    * incarnation-bound batch tag; a replayed batch finds the tag and is an
    * exact no-op, and a crash before the manifest claim leaves an
    * unpublished segment no reader sees, so an id never surfaces with only
    * some of its rows.
    */
  private def nearDupIngest(batch: DataFrame, idCol: String, indexPath: String,
                            batchId: Long, incarnation: Option[String])(
      fingerprints: DataFrame => DataFrame)(
      nearDups: (DataFrame, DataFrame) => DataFrame): Unit =
    onceTagged(batch, indexPath, batchId, incarnation) { tag =>
      val fps = fingerprints(batch)
      val index = latestOf(batch.sparkSession, indexPath).getOrElse(fps.limit(0))
      val fresh = fps.join(index.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
        .persist()
      try {
        // filled here, once: the near-dup probe and the first-wins join
        // below both read `fresh`, and left to the commit job they would
        // fingerprint the same partition in two tasks at once
        fresh.count()
        val dropIds = nearDups(fresh, index)
          .join(fresh.select(col(idCol).as("nbr_id")).distinct()
              .withColumn("__f", lit(1)),
            Seq("nbr_id"), "left")
          .filter(col("__f").isNull || col("nbr_id") < col("id"))
          .select(col("id").as(idCol))
          .distinct()
        SnapshotLog.commitAppend(
          fresh.join(dropIds, Seq(idCol), "left_anti"), indexPath, Some(tag))
        ()
      } finally {
        fresh.unpersist()
        ()
      }
    }

  /** Runs `commit` with the micro-batch's incarnation-bound replay tag,
    * unless the batch is empty or the SnapshotLog table at `anchor`
    * already carries the tag (a replay: the batch committed before a
    * restart). The batch stays persisted meanwhile, since the emptiness
    * probe and the commit both read it. Scans ALL retained tags, so a
    * maintenance commit landing after the batch's cannot mask it.
    */
  private def onceTagged(batch: DataFrame, anchor: String, batchId: Long,
                         incarnation: Option[String])(commit: String => Unit): Unit = {
    batch.persist()
    try {
      val tag = versionedBatchTag(incarnation, batchId)
      if (!batch.isEmpty && !SnapshotLog.tags(batch.sparkSession, anchor).contains(tag))
        commit(tag)
    } finally {
      batch.unpersist()
      ()
    }
  }

  /** A streaming sink's micro-batch: `rows(batch)` appended to the
    * SnapshotLog table at `path` under the live query's batch tag
    * ([[onceTagged]]).
    */
  private def appendOnce(batch: DataFrame, path: String, batchId: Long)(
      rows: DataFrame => DataFrame): Unit =
    onceTagged(batch, path, batchId, streamIncarnation(batch.sparkSession)) { tag =>
      SnapshotLog.commitAppend(rows(batch), path, Some(tag))
      ()
    }

  /** The incarnation token the streaming sinks bind their replay tags
    * to: the running query's checkpoint-persisted queryId (set as a local
    * property on the micro-batch thread by stream execution), sanitized
    * to the tag alphabet. None outside a streaming query — direct
    * batch-API callers own batch-id uniqueness themselves.
    */
  private def streamIncarnation(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .map(_.replaceAll("[^A-Za-z0-9\\-]", "-"))

  /** The SnapshotLog replay tag of a sink's micro-batch, bound to the
    * query incarnation (r14): under a live query the tag carries the
    * checkpoint-persisted queryId (stable across restarts of the SAME
    * checkpoint, fresh for a recreated one), so a fresh-checkpoint
    * restart's `batch-…-0` never collides with a prior incarnation's tag
    * and silently skips the batch. Unbound `batch-<id>` tags come from
    * direct batch-API calls, whose caller owns batch-id uniqueness.
    */
  private def versionedBatchTag(incarnation: Option[String], batchId: Long): String =
    incarnation match {
      case Some(tok) => s"batch-$tok-$batchId"
      case None      => s"batch-$batchId"
    }

  /** The latest state of the SnapshotLog table at `path`; None before its
    * first commit.
    */
  private def latestOf(spark: SparkSession, path: String): Option[DataFrame] =
    SnapshotLog.latestVersion(spark, path).map(v => SnapshotLog.read(spark, path, Some(v)))

  /** Streaming twin of q302 — the container-level (video) ingest gate:
    * each micro-batch's containers sample n aligned frames, fingerprint
    * each with the perceptual dHash
    * ([[graft.ext.Multimodal.videoFrameFingerprints]]), re-delivered
    * container ids drop by the anti-join against the PERSISTED per-frame
    * fingerprint index, fresh containers probe index ∪ batch through the
    * (frame_idx, band) pigeonhole blocks
    * ([[graft.ext.Multimodal.videoDhashNearDupsFromFresh]]), a container
    * pair is a near-dup when ≥ `minShared` of its n aligned frames match
    * within `maxHamming` bits (frame voting — q302's verdict rule,
    * live), near-dup arrivals DROP first-wins (an indexed partner, or a
    * smaller-id batch partner), and survivors append their n frame rows
    * to the SnapshotLog index at `indexPath` as one tagged segment
    * ([[nearDupIngest]]): a container never surfaces with only a subset
    * of its frame rows, and a replayed batch is an exact no-op.
    */
  def videoDhashDedupIngestBatch(
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      batchId: Long,
      n: Int = 4,
      frameBytes: Int = 96,
      maxHamming: Int = 3,
      minShared: Int = 3,
      maxBlockSize: Int = 64,
      incarnation: Option[String] = None
  ): Unit =
    nearDupIngest(batch, "id", indexPath, batchId, incarnation)(
      graft.ext.Multimodal.videoFrameFingerprints(_, idCol, payloadCol, n, frameBytes))(
      graft.ext.Multimodal.videoDhashNearDupsFromFresh(_, _, maxHamming, minShared, maxBlockSize))

  /** Streaming twin of q310 — the container-level AUDIO ingest gate
    * ([[videoDhashDedupIngestBatch]] transplanted to the second
    * perceptual modality): each micro-batch's containers fingerprint
    * their n−1 aligned overlapping windows with the chromaprint-shaped
    * spectral-gradient-delta word
    * ([[graft.ext.Multimodal.audioWindowFingerprints]]), re-delivered
    * container ids drop by the anti-join against the PERSISTED per-window
    * fingerprint index, fresh containers probe index ∪ batch through the
    * (window_idx, band) pigeonhole blocks
    * ([[graft.ext.Multimodal.audioChromaNearDupsFromFresh]]), a container
    * pair is a near-dup when ≥ `minShared` of its aligned windows match
    * within `maxHamming` bits (window voting — q310's verdict rule,
    * live), near-dup arrivals DROP first-wins (an indexed partner, or a
    * smaller-id batch partner), and survivors append their n−1 window
    * rows to the SnapshotLog index as one tagged segment, exactly as in
    * [[videoDhashDedupIngestBatch]].
    */
  def audioChromaDedupIngestBatch(
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      batchId: Long,
      n: Int = 6,
      windowChars: Int = 128,
      maxHamming: Int = 3,
      minShared: Int = 3,
      maxBlockSize: Int = 64,
      incarnation: Option[String] = None
  ): Unit =
    nearDupIngest(batch, "id", indexPath, batchId, incarnation)(
      graft.ext.Multimodal.audioWindowFingerprints(_, idCol, payloadCol, n, windowChars))(
      graft.ext.Multimodal.audioChromaNearDupsFromFresh(_, _, maxHamming, minShared, maxBlockSize))

  /** [[audioChromaDedupIngestBatch]] as a foreachBatch sink. */
  def audioChromaDedupSink(
      stream: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      checkpointDir: String,
      n: Int = 6,
      windowChars: Int = 128,
      maxHamming: Int = 3,
      minShared: Int = 3,
      maxBlockSize: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        audioChromaDedupIngestBatch(batch, idCol, payloadCol, indexPath,
          batchId, n, windowChars, maxHamming, minShared, maxBlockSize,
          incarnation = streamIncarnation(batch.sparkSession))
      }

  /** [[videoDhashDedupIngestBatch]] as a foreachBatch sink. */
  def videoDhashDedupSink(
      stream: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      checkpointDir: String,
      n: Int = 4,
      frameBytes: Int = 96,
      maxHamming: Int = 3,
      minShared: Int = 3,
      maxBlockSize: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        videoDhashDedupIngestBatch(batch, idCol, payloadCol, indexPath,
          batchId, n, frameBytes, maxHamming, minShared, maxBlockSize,
          incarnation = streamIncarnation(batch.sparkSession))
      }

  /** Per-window in-basket pair counts from CLOSED (window_start, items)
    * basket rows — the q306 pair roll-up as a window-close projection,
    * exposed so the spec can drive it directly. `items` must be sorted
    * (the aggregate below emits `sort_array(collect_set(...))`), so
    * pairs come out canonical a < b with no post-filter.
    */
  def affinityPairsBatch(closed: DataFrame, minBoth: Long): DataFrame =
    closed.select(col("window_start"),
        explode(graft.ext.Affinity.pairsOf("items")).as("__p"))
      .groupBy(col("window_start"), col("__p.a").as("item_a"),
        col("__p.b").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minBoth)

  /** Windowed co-interaction affinity telemetry — the q306/q308 basket
    * tier live: per tumbling window each user's DISTINCT interacted-item
    * set is a basket; the (window, user) aggregate closes once at the
    * watermark, and the close projection explodes in-basket pairs
    * (the shared [[graft.ext.Affinity.pairsOf]] generators) into
    * per-window co-occurrence counts — the trending-pair feed a
    * recommender tier reads between model refreshes.
    *
    * State: one row per (window, user) holding the distinct item set —
    * catalog-bounded per user-window; baskets outside [2, maxBasket]
    * drop at close (the q306 oversize hub guard — one crawler touching
    * the whole catalog would otherwise pay |basket|² in the close
    * projection). All (window, user) rows of a window close in the same
    * micro-batch, so each batch's per-window counts are complete; they
    * append to the SnapshotLog table at `outPath`, tagged with the
    * incarnation-bound batch tag, so a redelivered batch commits nothing
    * and a fresh checkpoint's batch 0 adds to, never replaces, the prior
    * incarnation's output (the [[annServeSink]] replay rule).
    */
  def affinityTelemetrySink(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      itemCol: String,
      outPath: String,
      checkpointDir: String,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute",
      maxBasket: Int = 64,
      minBoth: Long = 2L,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    val closed = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(userCol).as("user"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
      .filter(size(col("items")).between(2, maxBasket))
      .select(col("window.start").as("window_start"), col("items"))
    closed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendOnce(batch, outPath, batchId)(affinityPairsBatch(_, minBoth))
      }
  }

  /** Windowed journey-transition telemetry — the q317 attribution
    * model's LIVE input: per tumbling window each user's events sort at
    * close (by event time, then id) into a within-window journey, and
    * the close projection emits (src → dst) transition counts with the
    * batch operator's exact conventions — `start` opens each journey,
    * the first `convType` event absorbs to `conv` and truncates, a
    * journey without one falls to `null`. One (window, user) state row
    * holding the event list (window-bounded); output appends to the
    * SnapshotLog table at `outPath` (the [[annServeSink]] replay rule).
    * Journeys are WINDOW-SCOPED by construction — the cross-window stitch is the
    * batch model's job; this is the counter feed it folds.
    */
  def attributionTelemetrySink(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      idCol: String,
      typeCol: String,
      outPath: String,
      checkpointDir: String,
      convType: String = "purchase",
      watermark: String = "10 seconds",
      windowLength: String = "1 minute",
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] = {
    val closed = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(userCol).as("user"))
      .agg(sort_array(collect_list(struct(
        col(tsCol).as("ts"), col(idCol).as("id"), col(typeCol).as("t")))).as("evs"))
      .select(col("window.start").as("window_start"), col("evs"))
    closed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendOnce(batch, outPath, batchId)(attributionTransitionsBatch(_, convType))
      }
  }

  /** The q317 transition extraction over CLOSED (window_start, evs)
    * journey rows — exposed so the spec can drive it directly. Replays
    * [[graft.ext.Attribution]]'s conventions on the sorted event list:
    * truncate at the first `convType` (absorbing to 'conv'), prepend
    * 'start', append 'null' for unconverted journeys.
    */
  def attributionTransitionsBatch(closed: DataFrame, convType: String): DataFrame =
    closed
      .withColumn("__stop", expr(
        s"array_position(transform(evs, e -> e.t), '$convType')"))
      .withColumn("__kept", expr(
        s"""transform(
           |  CASE WHEN __stop > 0 THEN slice(evs, 1, CAST(__stop AS INT))
           |       ELSE evs END,
           |  e -> CASE WHEN e.t = '$convType' THEN 'conv' ELSE e.t END)""".stripMargin))
      .select(col("window_start"), explode(expr(
        """concat(
          |  transform(sequence(1, size(__kept)),
          |    i -> named_struct(
          |      'src', CASE WHEN i = 1 THEN 'start' ELSE __kept[i-2] END,
          |      'dst', __kept[i-1])),
          |  CASE WHEN element_at(__kept, -1) <> 'conv'
          |    THEN array(named_struct('src', element_at(__kept, -1),
          |                            'dst', 'null'))
          |    ELSE CAST(array() AS array<struct<src:string,dst:string>>) END)"""
          .stripMargin)).as("__tr"))
      .groupBy(col("window_start"), col("__tr.src").as("src"),
        col("__tr.dst").as("dst"))
      .agg(count(lit(1)).as("n"))

  /** The versioned-refresh fold shared by [[conformalRefreshIngestBatch]],
    * [[attributionModelRefreshIngestBatch]] and
    * [[mixtureWeightsRefreshIngestBatch]]: the batch's `rows` (key
    * columns `keys`, additive columns `sums`) fold into the latest state
    * of the SnapshotLog table at `statePath` — latest ∪ rows, grouped by
    * key, summed — committed as a replace tagged with the incarnation-
    * bound batch tag; then `derive` of that state is committed to the
    * table `<statePath>/<derivedName>` under the same tag. The two commits
    * are not atomic, so a replay whose state tag is present re-derives a
    * missing derived commit from the state version carrying the tag, and
    * otherwise no-ops. Sums make the fold across batches equal the batch
    * operator over their union exactly.
    */
  private def refreshFold(batch: DataFrame, statePath: String, batchId: Long,
                          incarnation: Option[String], keys: Seq[String],
                          sums: Seq[String], derivedName: String)(
      rows: DataFrame => DataFrame)(derive: DataFrame => DataFrame): Unit = {
    batch.persist()
    try {
      if (batch.isEmpty) return
      val spark = batch.sparkSession
      val tag = versionedBatchTag(incarnation, batchId)
      val version = SnapshotLog.taggedVersion(spark, statePath, tag).getOrElse {
        val fresh = rows(batch).select((keys ++ sums).map(col): _*)
        val sumCols = sums.map(c => sum(col(c)).as(c))
        SnapshotLog.commitReplace(
          latestOf(spark, statePath).fold(fresh)(_.unionByName(fresh))
            .groupBy(keys.map(col): _*).agg(sumCols.head, sumCols.tail: _*),
          statePath, Some(tag))
      }
      val derivedPath = s"$statePath/$derivedName"
      if (!SnapshotLog.tags(spark, derivedPath).contains(tag))
        SnapshotLog.commitReplace(
          derive(SnapshotLog.read(spark, statePath, Some(version))), derivedPath, Some(tag))
      ()
    } finally {
      batch.unpersist()
      ()
    }
  }

  /** The attribution model-refresh fold — the live twin of
    * [[graft.ext.Attribution.markovRemovalEffects]] closing the q317
    * loop: each micro-batch of CLOSED (window_start, evs) journey rows
    * (the [[attributionTelemetrySink]] close shape) extracts its
    * window-scoped transitions ([[attributionTransitionsBatch]]), folds
    * them into the persisted transition matrix as a NEW VERSION
    * ([[refreshFold]] — the [[kmeansUpdateIngestBatch]] versioned-upsert
    * rule: a re-delivered batch is detected by its tag and skipped, so
    * the fold is exactly-once), and commits the removal-effect table of
    * the folded matrix to `<statePath>/effects` — the model a serving
    * tier reads between batch retrains.
    *
    * Journeys are window-scoped by construction (the telemetry contract);
    * when every user's journey closes inside one window, the folded
    * matrix equals the batch model's transition counts EXACTLY, so the
    * emitted effects match [[graft.ext.Attribution.markovRemovalEffects]]
    * row for row (spec-pinned). State is matrix-sized (≤ distinct
    * (src, dst) pairs of the bounded vocabulary after the effects guard;
    * the persisted matrix itself carries raw types but folds by key, so
    * it tracks the type vocabulary, never event volume).
    */
  def attributionModelRefreshIngestBatch(
      batch: DataFrame,
      statePath: String,
      batchId: Long,
      channels: Seq[String],
      convType: String = "purchase",
      steps: Int = 12,
      incarnation: Option[String] = None): Unit =
    refreshFold(batch, statePath, batchId, incarnation, Seq("src", "dst"), Seq("n"), "effects")(
      attributionTransitionsBatch(_, convType))(
      graft.ext.Attribution.removalEffectsFromCounts(_, channels, steps))

  /** The mixture-weights model refresh — the q324 loop live (the
    * [[attributionModelRefreshIngestBatch]] contract on the sampling
    * tier): each micro-batch of CLOSED (window_start, domain, n_docs,
    * loss_sum) rows folds its per-domain loss MOMENTS into the persisted
    * matrix as a new version (batch-tagged — a re-delivered batch is an
    * exact no-op) and commits the multiplicative-weights table of the
    * folded moments to `<statePath>/weights`. Moments are sums, so the
    * fold across window closes equals the batch operator over the union
    * EXACTLY (spec-pinned); state is |domains|-bounded.
    */
  def mixtureWeightsRefreshIngestBatch(
      batch: DataFrame,
      statePath: String,
      batchId: Long,
      rounds: Int = 8,
      etaMilli: Long = 400L,
      incarnation: Option[String] = None): Unit =
    refreshFold(batch, statePath, batchId, incarnation, Seq("domain"),
      Seq("n_docs", "loss_sum"), "weights")(identity)(
      graft.ext.Sampling.mwDomainWeightsFromMoments(_, rounds, etaMilli))

  /** [[dhashDedupIngestBatch]] as a foreachBatch sink. */
  def dhashDedupSink(
      stream: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      checkpointDir: String,
      maxHamming: Int = 3,
      maxBlockSize: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dhashDedupIngestBatch(batch, idCol, payloadCol, indexPath, batchId,
          maxHamming, maxBlockSize, incarnation = streamIncarnation(batch.sparkSession))
      }

  /** Streaming ANN serving — the deployment shape of the graph-ANN tier
    * (q223-q225): query vectors arrive on a stream, and each micro-batch
    * runs [[graft.ext.VectorSearch.graphSearchCurve]]'s beam walk against
    * PERSISTED index state (the symmetrized adjacency + per-bucket entry
    * points the batch queries memoize) via foreachBatch — the walk is an
    * iterative job with its own materialization barriers, so it cannot be
    * a continuous stream transform; per-batch invocation is exactly how a
    * serving layer drives an index (q108's batch-vs-index asymmetry, one
    * tier up).
    *
    * Replay idempotence: each batch's answers append to the SnapshotLog
    * table at `outPath`, tagged with the incarnation-bound batch tag, so a
    * redelivered batch commits nothing — the q81/q108 redelivery rule in
    * sink form — and a fresh checkpoint, whose batch ids restart at 0,
    * adds its answers beside the prior incarnation's.
    *
    * Per-batch cost tracks batch size × rounds·beam·degree (the
    * graph_ann_walk probe's flat curve), never index size.
    */
  def annServeSink(
      queryStream: DataFrame,
      corpus: DataFrame,
      adjacency: DataFrame,
      entryIds: DataFrame,
      outPath: String,
      checkpointDir: String,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int, beam: Int, rounds: Int,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")
  ): DataStreamWriter[org.apache.spark.sql.Row] =
    queryStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendOnce(batch, outPath, batchId)(
          graft.ext.VectorSearch.graphSearchCurve(
              _, corpus, adjacency, qIdCol, qVecCol, idCol, vecCol,
              k, beam, rounds, entryIds, roundDigits = 4,
              graphIsAdjacency = true)
            .filter(col("round_tier") === rounds.toLong)
            .drop("round_tier"))
      }

  /** S8 — block until any of THESE queries terminates (unlike
    * `spark.streams.awaitAnyTermination()`, which watches every query on
    * the session, including unrelated ones).
    */
  def awaitAny(spark: SparkSession, queries: Seq[StreamingQuery], pollMs: Long = 100L): Unit = {
    require(queries.nonEmpty, "awaitAny: no queries")
    while (queries.forall(_.isActive)) Thread.sleep(pollMs)
    // surface a failure like awaitTermination would
    queries.find(q => !q.isActive).foreach(q => q.exception.foreach(throw _))
  }

  /** Windowed phrase-hit telemetry — the streaming twin of q198: per
    * tumbling window, how many documents contain each watch phrase and
    * the total occurrence count. The phrase gate is
    * [[graft.ext.Retrieval.phraseMatches]]'s HOF projection running
    * BEFORE the aggregate, so the stateful operator only ever sees
    * (phrase, n_matches) rows for matching docs — the
    * filter-then-aggregate discipline that keeps window state at
    * |phrases| cells, not |docs|.
    *
    * Output per closed window: (window_start, phrase, n_docs, n_hits).
    *
    * Watermark subtlety: a `n_matches > 0` PRE-aggregate filter would be
    * pushed below the EventTimeWatermark node, so windows whose tail
    * events match no phrase would never close. The gate therefore runs
    * with `minMatches = 0` (every doc contributes a row per phrase —
    * the aggregate state is still |phrases| cells per window) and
    * match-less (window, phrase) cells drop AFTER the aggregate.
    */
  def phraseTelemetry(
      docs: DataFrame,
      tsCol: String,
      idCol: String,
      textCol: String,
      phrases: Seq[Seq[String]],
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    val matched = graft.ext.Retrieval.phraseMatches(
      docs.withWatermark(tsCol, watermark), idCol, textCol, phrases,
      carryCols = Seq(tsCol), minMatches = 0L)
    matched
      .groupBy(window(col(tsCol), windowLength), col("phrase"))
      .agg(sum(when(col("n_matches") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("n_matches")).as("n_hits"))
      .filter(col("n_docs") > 0)
      .select(col("window.start").as("window_start"), col("phrase"),
        col("n_docs"), col("n_hits"))
  }

  /** Windowed Count-Min telemetry: per tumbling window, the
    * [[graft.ext.TextStats.cmsCounters]] grid over the window's token
    * stream — the bounded-state frequency summary as stream telemetry
    * beside the KMV/Misra-Gries window aggregates. State per window is
    * ≤ depth·width counter cells regardless of token volume (the grid's
    * cell-wise-addition merge IS the streaming partial aggregation), and
    * the append-mode rows emit once when the watermark closes the window;
    * downstream, grids from adjacent windows (or days) merge by the same
    * cell-wise addition.
    */
  def cmsTelemetry(
      events: DataFrame,
      tsCol: String,
      textCol: String,
      depth: Int,
      width: Int,
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(graft.ext.TextDedup.tokens(col(textCol))).as("__tok"))
      .select(col(tsCol), col("__tok"),
        explode(array((0 until depth).map(s => lit(s.toLong)): _*)).as("seed"))
      .select(col(tsCol), col("seed"),
        graft.ext.TextStats.cmsBucket(col("seed"), col("__tok"), width).as("bucket"))
      .groupBy(window(col(tsCol), windowLength), col("seed"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("seed"), col("bucket"), col("cnt"))
  }

  /** Streaming twin of q142 — per-window token-distribution drift against
    * a FROZEN reference distribution (ppm shares over the DSIR hash
    * buckets, trained offline from a healthy corpus slice via
    * [[graft.ext.TextStats.tokenDrift]]'s bucket rule): each closed
    * tumbling window emits its token count and its L1 drift from the
    * reference — the alarm row a monitor pages on when a crawl source
    * shifts mid-stream.
    *
    * State per window is ONE row of `buckets` conditional counters (the
    * counters ARE the partial aggregation — the cmsTelemetry posture one
    * level denser), and the drift arithmetic runs in the window-close
    * projection against the literal reference array, so there is no
    * second stateful operator and no join. Append mode: a window row
    * emits once, when the watermark passes.
    *
    * `refSharesPpm` must have exactly `buckets` entries (bucket b's
    * reference share in ppm, floor-division normalized like the batch
    * monitor).
    */
  def driftTelemetry(
      events: DataFrame,
      tsCol: String,
      textCol: String,
      refSharesPpm: Seq[Long],
      watermark: String = "10 seconds",
      windowLength: String = "1 minute"
  ): DataFrame = {
    val buckets = refSharesPpm.length
    require(buckets > 0 && buckets <= 4096, "refSharesPpm must have 1..4096 entries")
    require(refSharesPpm.forall(p => p >= 0L && p <= 1000000L),
      "reference shares are ppm in [0, 1e6]")
    val counters = (0 until buckets).map(b =>
      sum(when(col("__b") === b.toLong, 1L).otherwise(0L)).as(s"__c$b"))
    val total = (0 until buckets).map(b => col(s"__c$b")).reduce(_ + _)
    val drift = (0 until buckets).map { b =>
      abs(when(col("__n") > 0, expr(s"__c$b * 1000000 div __n")).otherwise(0L) -
        lit(refSharesPpm(b)))
    }.reduce(_ + _)
    events
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(graft.ext.TextDedup.tokens(col(textCol))).as("__tok"))
      .withColumn("__b", graft.ext.Sampling.tokenBucket(col("__tok"), buckets))
      .groupBy(window(col(tsCol), windowLength))
      .agg(counters.head, counters.tail: _*)
      .withColumn("__n", total)
      .select(col("window.start").as("window_start"),
        col("__n").as("n_tokens"), drift.as("drift_ppm"))
  }

  // ---------------------------------------------------------------------
  // Streaming priority sampling (the incremental form of
  // graft.ext.Sampling.prioritySample): per-stratum top-k priorities as
  // flatMapGroupsWithState state. Priority sampling is uniquely suited to
  // streams — q_i = w_i/u_i depends only on the row itself, so "the k
  // largest priorities seen so far" is an exact, order-insensitive,
  // replay-idempotent sample of everything that has arrived (Duffield,
  // Lund & Thorup 2007 §2 notes exactly this reservoir property). State
  // per stratum is k items, never the stream.

  final case class PrioEvent(stratum: String, key: Long, weight: Long, priority: Long)
  final case class PrioItem(priority: Long, key: Long, weight: Long)
  final case class PrioState(seq: Long, items: List[PrioItem])
  final case class PrioOut(stratum: String, seq: Long, rnk: Long, key: Long,
                           weight: Long, priority: Long)

  implicit private val prioEventEnc: Encoder[PrioEvent] = Encoders.product[PrioEvent]
  implicit private val prioStateEnc: Encoder[PrioState] = Encoders.product[PrioState]
  implicit private val prioOutEnc: Encoder[PrioOut]     = Encoders.product[PrioOut]
  implicit private val stratumEnc: Encoder[String]      = Encoders.STRING

  /** Pure fold shared with the spec: merge a batch of events into the
    * prior top-k (rank by priority desc, key asc). Same-key occurrences
    * collapse deterministically to the MAX (priority, weight) — for exact
    * re-deliveries the occurrences are identical anyway (same key ⇒ same
    * hash ⇒ same priority), and for an upstream weight correction the
    * retained item no longer depends on partition arrival order.
    */
  def prioFold(prior: List[PrioItem], events: Seq[PrioItem], k: Int): List[PrioItem] =
    (prior ++ events)
      .groupBy(_.key).map(_._2.maxBy(i => (i.priority, i.weight)))
      .toList.sortBy(i => (-i.priority, i.key)).take(k)

  /** Streaming weighted sample: maintains each stratum's current
    * priority-sample of the whole stream history and emits it (with a
    * per-stratum `seq` so a sink can keep the newest generation) every
    * micro-batch that touches the stratum. Long keys (the typed state
    * needs a concrete encoder); the batch operator stays generic.
    */
  // ---------------------------------------------------------------------
  // Streaming transition extraction (the incremental form of q252's
  // Markov matrix): per-user last-event state, each arriving event emits
  // the (prev → next) transition row. In-order per-user delivery is the
  // contract (the Kafka-partition-by-user deployment); the sink
  // aggregates counts, exactly as the batch matrix does after LAG.

  final case class TransEvent(user: Long, tsMs: Long, eventId: Long, typ: String)
  final case class TransState(tsMs: Long, eventId: Long, typ: String)
  final case class TransOut(user: Long, prev_type: String, next_type: String)

  implicit private val transEventEnc: Encoder[TransEvent] = Encoders.product[TransEvent]
  implicit private val transStateEnc: Encoder[TransState] = Encoders.product[TransState]
  implicit private val transOutEnc: Encoder[TransOut]     = Encoders.product[TransOut]
  implicit private val userKeyEnc: Encoder[Long]          = Encoders.scalaLong

  /** Streaming twin of the q252 transition matrix: state is ONE row per
    * user (the last event seen); each micro-batch sorts ITS OWN rows per
    * user by (ts, event_id) — the same tie-break as the batch LAG — folds
    * from the prior state, and emits one transition row per arrival.
    * Late rows older than the retained state are DROPPED, not spliced out
    * of order (counted upstream by the watermark metrics); the union of
    * emitted transitions over in-order batches equals the batch LAG
    * extraction exactly.
    */
  def transitionStream(events: DataFrame, userCol: String, tsCol: String,
                       idCol: String, typeCol: String): Dataset[TransOut] = {
    val typed = events.select(
        col(userCol).cast("long").as("user"),
        (col(tsCol).cast("double") * 1000).cast("long").as("tsMs"),
        col(idCol).cast("long").as("eventId"),
        col(typeCol).cast("string").as("typ"))
      .as[TransEvent]
    typed.groupByKey(_.user)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[TransEvent], state: GroupState[TransState]) =>
          val batch = it.toSeq.sortBy(e => (e.tsMs, e.eventId))
          var prior = state.getOption
          val out   = Seq.newBuilder[TransOut]
          batch.foreach { e =>
            prior match {
              case Some(p) if e.tsMs < p.tsMs ||
                  (e.tsMs == p.tsMs && e.eventId <= p.eventId) =>
              // late duplicate/out-of-order arrival: state already ahead
              case _ =>
                prior.foreach(p => out += TransOut(user, p.typ, e.typ))
                prior = Some(TransState(e.tsMs, e.eventId, e.typ))
            }
          }
          prior.foreach(state.update)
          out.result().iterator
      }
  }

  // ---------------------------------------------------------------------
  // Streaming change-point detection (the incremental form of q281's
  // Page-Hinkley scan): per-key detector state carries the running count,
  // sum, cumulative milli deviation, and its high-water mark — EXACTLY
  // the batch operator's window arithmetic
  // (graft.ext.RobustStats.pageHinkley), folded one minute at a time.
  // Gaps fill with zero-valued minutes (the batch detector's filled
  // frame), late/duplicate minutes drop against the retained clock (the
  // transitionStream in-order contract), so the emitted series over
  // in-order batches equals the batch filled frame bit for bit and a
  // re-delivered batch emits nothing.

  final case class PhEvent(key: String, t: Long, v: Long)
  final case class PhState(lastT: Long, i: Long, s: Long, m: Long, hwm: Long)
  final case class PhOut(key: String, t: Long, v: Long, ph_milli: Long)

  implicit private val phEventEnc: Encoder[PhEvent] = Encoders.product[PhEvent]
  implicit private val phStateEnc: Encoder[PhState] = Encoders.product[PhState]
  implicit private val phOutEnc: Encoder[PhOut]     = Encoders.product[PhOut]

  /** Pure per-key fold shared with the spec: advance the detector over a
    * batch of (t, v) observations, filling interior gaps with zeros.
    * Returns the new state and the emitted rows (one per minute
    * advanced, gap minutes included). Exact integers throughout:
    * term = v·1000 − (s·1000) div i, m += term, ph = hwm − m — the
    * q281 milli fixed-point arithmetic.
    */
  def phFold(prior: Option[PhState], rows: Seq[(Long, Long)], key: String)
      : (Option[PhState], Seq[PhOut]) = {
    var st = prior
    val out = Seq.newBuilder[PhOut]
    def step(t: Long, v: Long): Unit = {
      val p = st.getOrElse(PhState(t - 1, 0L, 0L, 0L, 0L))
      val i = p.i + 1
      val s = p.s + v
      val m = p.m + (v * 1000L - (s * 1000L) / i)
      val hwm = math.max(p.hwm, m)
      st = Some(PhState(t, i, s, m, hwm))
      out += PhOut(key, t, v, hwm - m)
    }
    rows.sortBy(_._1).foreach { case (t, v) =>
      st match {
        case Some(p) if t <= p.lastT => // late/duplicate: state is ahead
        case Some(p) =>
          ((p.lastT + 1) until t).foreach(g => step(g, 0L)) // zero-fill gap
          step(t, v)
        case None => step(t, v)
      }
    }
    (st, out.result())
  }

  /** Streaming twin of q281: per-key Page-Hinkley over a minute series.
    * Emits one row per minute advanced — the monitor sink keeps the
    * max-ph_milli rows, which equals the batch top-k over the same
    * span. In-order per-key delivery is the contract; within a
    * micro-batch rows sort by t, and replays emit nothing.
    */
  def changePointStream(events: DataFrame, keyCol: String, tCol: String,
                        vCol: String): Dataset[PhOut] = {
    val typed = events.select(
        col(keyCol).cast("string").as("key"),
        col(tCol).cast("long").as("t"),
        col(vCol).cast("long").as("v"))
      .as[PhEvent]
    typed.groupByKey(_.key)
      .flatMapGroupsWithState[PhState, PhOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[PhEvent], state: GroupState[PhState]) =>
          val (st, out) = phFold(state.getOption,
            it.map(e => (e.t, e.v)).toSeq, key)
          st.foreach(state.update)
          out.iterator
      }
  }

  def prioritySampleStream(docs: DataFrame, strataCol: String, keyCol: String,
                           weightCol: String, k: Int): Dataset[PrioOut] = {
    require(k > 0, "k must be positive")
    val events = docs.select(
        col(strataCol).cast("string").as("stratum"),
        col(keyCol).cast("long").as("key"),
        col(weightCol).cast("long").as("weight"))
      .withColumn("__h", graft.ext.Sampling.hashBucket16(col("key")))
      .select(col("stratum"), col("key"), col("weight"),
        expr("(weight * 65536L) div (__h + 1L)").as("priority"))
      .as[PrioEvent]
    events.groupByKey(_.stratum)
      .flatMapGroupsWithState[PrioState, PrioOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (stratum: String, it: Iterator[PrioEvent], state: GroupState[PrioState]) =>
          val prior  = state.getOption.getOrElse(PrioState(0L, Nil))
          val merged = prioFold(prior.items,
            it.map(e => PrioItem(e.priority, e.key, e.weight)).toSeq, k)
          val st = PrioState(prior.seq + 1L, merged)
          state.update(st)
          merged.iterator.zipWithIndex.map { case (i, idx) =>
            PrioOut(stratum, st.seq, idx + 1L, i.key, i.weight, i.priority)
          }
      }
  }
}
