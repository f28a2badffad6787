package graft

import graft.streaming.StreamPipelines
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming-throughput benchmark for the three reference pipelines
  * (SURVEY.md §3.1-§3.2): windowed gold aggregation, latest-wins order
  * upsert, CDC dims apply — each driven from a MemoryStream in micro-batch
  * chunks and reported as events/second end to end (including the
  * foreachBatch SnapshotLog commit for the stateful sinks).
  *
  * Context (BASELINE.md): the reference configures 50 events/sec for the
  * content generator, designs for 1k-10k events/sec, and caps micro-batches
  * at 5,000 offsets — the numbers printed here are directly comparable.
  *
  * Usage: sbt "runMain graft.StreamBench"; prints one JSON line.
  */
object StreamBench {

  case class ContentEv(ts: Timestamp, video_id: Long, event_type: String)
  case class OrderEv(user_id: String, ts: Timestamp, event_id: Long,
                             event_type: String, amount: Option[Double])
  case class CdcEv(op: String, ts_ms: Long, user_id: String, segment: String)
  case class WeightedEv(ts: Timestamp, stratum: String, key: Long, w: Long)
  case class DocEv(ts: Timestamp, text: String)
  case class TransBenchEv(user_id: Long, ts: Timestamp, event_id: Long,
                          event_type: String)

  /** Scratch tables + checkpoints are the bench's, not the user's — swept
    * by a shutdown hook so a CRASHED run cannot strand them in /tmp (a
    * success-path-only sweep leaks three dirs per failed run).
    */
  private val scratch = scala.collection.mutable.ArrayBuffer[String]()
  private def scratchDir(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-streambench-$tag").toString
    scratch.synchronized { scratch += p }
    p
  }
  /** Deletes all registered scratch dirs now. Called on the success path
    * (so repeated in-process invocations, e.g. from tests, don't accumulate
    * dirs until JVM exit) and from the shutdown hook as the crash backstop.
    */
  private def sweepScratch(): Unit = {
    import scala.jdk.CollectionConverters._
    scratch.synchronized {
      scratch.foreach { d =>
        val root = java.nio.file.Paths.get(d)
        if (Files.exists(root))
          scala.util.Using.resource(Files.walk(root)) { st =>
            st.iterator().asScala.toSeq.reverseIterator
              .foreach(pp => Files.deleteIfExists(pp))
          }
      }
      scratch.clear()
    }
  }
  sys.addShutdownHook { sweepScratch() }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // sized past the query suite so repeated passes never recompile
      // generated classes (see Bench.scala)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sql = spark.sqlContext

    val types = Array("impression", "play_start", "like", "share", "play_finish")
    def contentWave(n: Int, tBase: Long, seed: Int): Seq[ContentEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        // Zipf-ish hot keys: low ids get most traffic (reference
        // mock_content_generator.py Zipf s=1.5)
        val vid = math.min(rnd.nextInt(1 + rnd.nextInt(1000)), rnd.nextInt(1000)).toLong
        ContentEv(new Timestamp(tBase + i % 60000), vid, types(rnd.nextInt(types.length)))
      }
    }

    // -------------------------------------------------------------------
    // Pipeline 1: watermarked 1-minute window agg (gold metrics), append
    val waves      = sys.env.getOrElse("SPARK_GRAFT_STREAM_WAVES", "10").toInt
    val waveSize   = sys.env.getOrElse("SPARK_GRAFT_STREAM_WAVE_SIZE", "50000").toInt
    val in1 = MemoryStream[ContentEv]
    val q1 = StreamPipelines.minuteMetrics(in1.toDF(), "ts", "video_id", "event_type", types.toIndexedSeq)
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    // warm the stateful plan before timing
    in1.addData(contentWave(1000, 0L, -1)); q1.processAllAvailable()
    val t1 = System.nanoTime()
    (0 until waves).foreach { w =>
      in1.addData(contentWave(waveSize, w * 60000L, w))
      q1.processAllAvailable()
    }
    val agg_eps = (waves.toLong * waveSize / ((System.nanoTime() - t1) / 1e9)).toLong
    q1.stop()

    // -------------------------------------------------------------------
    // Pipeline 2: orders upsert through the versioned merge-on-read sink
    // — each micro-batch commits an O(batch) delta segment to the
    // SnapshotLog (latest-wins reduce + tagged manifest commit).
    val statuses = Array("created", "paid", "shipped", "cancelled")
    def orderWave(n: Int, base: Long, seed: Int): Seq[OrderEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val uid = rnd.nextInt(5000)
        OrderEv(s"u$uid", new Timestamp(base + i), base + i,
          statuses(rnd.nextInt(statuses.length)),
          if (rnd.nextBoolean()) Some(rnd.nextInt(10000) / 100.0) else None)
      }
    }
    val upsertWaves = 5
    val upsertSize  = 5000 // the reference's maxOffsetsPerTrigger
    val dir2 = scratchDir("upsert-mor")
    val in2  = MemoryStream[OrderEv]
    val q2 = StreamPipelines.upsertSinkVersioned(in2.toDF(), s"$dir2/gold", s"$dir2/ckpt",
      Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"), Seq("amount"),
      Trigger.ProcessingTime(0)).start()
    in2.addData(orderWave(1000, 0L, -1)); q2.processAllAvailable()
    val t2 = System.nanoTime()
    (0 until upsertWaves).foreach { w =>
      in2.addData(orderWave(upsertSize, 100000L + w * upsertSize, w))
      q2.processAllAvailable()
    }
    val upsert_mor_eps = (upsertWaves.toLong * upsertSize / ((System.nanoTime() - t2) / 1e9)).toLong
    q2.stop()

    // -------------------------------------------------------------------
    // Pipeline 3: CDC dims apply (80/20 create/update + deletes)
    val dir3 = scratchDir("cdc")
    val in3  = MemoryStream[CdcEv]
    val q3 = StreamPipelines.cdcSinkVersioned(in3.toDF(), s"$dir3/dim", s"$dir3/ckpt",
      Seq("user_id"), trigger = Trigger.ProcessingTime(0)).start()
    def cdcWave(n: Int, base: Long, seed: Int): Seq[CdcEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val op = rnd.nextInt(100) match { case x if x < 78 => "c"; case x if x < 98 => "u"; case _ => "d" }
        CdcEv(op, base + i, s"u${rnd.nextInt(2000)}", s"seg${rnd.nextInt(5)}")
      }
    }
    in3.addData(cdcWave(1000, 0L, -1)); q3.processAllAvailable()
    val cdcWaves = 5
    val cdcSize  = 5000
    val t3 = System.nanoTime()
    (0 until cdcWaves).foreach { w =>
      in3.addData(cdcWave(cdcSize, 100000L + w * cdcSize, w))
      q3.processAllAvailable()
    }
    val cdc_eps = (cdcWaves.toLong * cdcSize / ((System.nanoTime() - t3) / 1e9)).toLong
    q3.stop()

    // -------------------------------------------------------------------
    // Pipeline 4: windowed sketch telemetry (KMV distinct + Misra-Gries
    // heavy hitters per 1-minute window) — the O(k+m)-state alternative to
    // exact streaming countDistinct, timed at the same wave shape as the
    // gold window agg so the sketch overhead per event is directly visible
    val in4 = MemoryStream[ContentEv]
    val q4 = StreamPipelines.windowedSketchStats(in4.toDF(), "ts", "video_id",
        k = 256, m = 8)
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    in4.addData(contentWave(1000, 0L, -1)); q4.processAllAvailable()
    val t4 = System.nanoTime()
    (0 until waves).foreach { w =>
      in4.addData(contentWave(waveSize, w * 60000L, w))
      q4.processAllAvailable()
    }
    val sketch_eps = (waves.toLong * waveSize / ((System.nanoTime() - t4) / 1e9)).toLong
    q4.stop()

    // -------------------------------------------------------------------
    // Pipeline 5: k-bounded streaming priority sample — per-stratum top-k
    // state (k items each, 20 strata), timed at the gold-agg wave shape so
    // the cost of the weighted-reservoir fold per event is visible
    val in5 = MemoryStream[WeightedEv]
    def weightWave(n: Int, base: Long, seed: Int): Seq[WeightedEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        WeightedEv(new Timestamp(base + i % 60000), s"s${rnd.nextInt(20)}",
          base + i, 1L + rnd.nextInt(9))
      }
    }
    val q5 = StreamPipelines.prioritySampleStream(in5.toDF(), "stratum", "key", "w", k = 100)
      .writeStream.format("noop").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    in5.addData(weightWave(1000, 0L, -1)); q5.processAllAvailable()
    val t5 = System.nanoTime()
    (0 until waves).foreach { w =>
      in5.addData(weightWave(waveSize, 1000000L + w.toLong * waveSize, w))
      q5.processAllAvailable()
    }
    val prio_eps = (waves.toLong * waveSize / ((System.nanoTime() - t5) / 1e9)).toLong
    q5.stop()

    // -------------------------------------------------------------------
    // Pipeline 6: windowed Count-Min telemetry — depth×width grid state
    // per 1-minute window over an 8-token/doc stream; reported as
    // DOCUMENTS/sec (token throughput is 8×)
    val in6 = MemoryStream[DocEv]
    def docWave(n: Int, tBase: Long, seed: Int): Seq[DocEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val toks = (0 until 8).map(_ => s"tok${rnd.nextInt(1000)}")
        DocEv(new Timestamp(tBase + i % 60000), toks.mkString(" "))
      }
    }
    val docWaves   = math.max(1, waves / 2)
    val docWaveSz  = waveSize / 2 // 8 tokens/doc → comparable token volume
    val q6 = StreamPipelines.cmsTelemetry(in6.toDF(), "ts", "text", depth = 4, width = 256)
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    in6.addData(docWave(1000, 0L, -1)); q6.processAllAvailable()
    val t6 = System.nanoTime()
    (0 until docWaves).foreach { w =>
      in6.addData(docWave(docWaveSz, w * 60000L, w))
      q6.processAllAvailable()
    }
    val cms_eps = (docWaves.toLong * docWaveSz / ((System.nanoTime() - t6) / 1e9)).toLong
    q6.stop()

    // -------------------------------------------------------------------
    // Pipeline 6b: windowed drift telemetry — 64 conditional counters per
    // window (state = ONE row per window), drift computed in the
    // window-close projection; same doc stream as the CMS pipeline
    val in6b = MemoryStream[DocEv]
    val uniformRef = Seq.fill(64)(1000000L / 64)
    val q6b = StreamPipelines.driftTelemetry(in6b.toDF(), "ts", "text", uniformRef)
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    in6b.addData(docWave(1000, 0L, -1)); q6b.processAllAvailable()
    val t6b = System.nanoTime()
    (0 until docWaves).foreach { w =>
      in6b.addData(docWave(docWaveSz, w * 60000L, w))
      q6b.processAllAvailable()
    }
    val drift_eps = (docWaves.toLong * docWaveSz / ((System.nanoTime() - t6b) / 1e9)).toLong
    q6b.stop()

    // -------------------------------------------------------------------
    // Pipeline 6c: windowed ingest-funnel telemetry — per-window counts by
    // first failing curation gate (state = ≤ 4 counter rows per window);
    // same doc stream as the CMS pipeline
    val in6c = MemoryStream[DocEv]
    val q6c = StreamPipelines.ingestFunnelStats(in6c.toDF(), "ts", "text")
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    in6c.addData(docWave(1000, 0L, -1)); q6c.processAllAvailable()
    val t6c = System.nanoTime()
    (0 until docWaves).foreach { w =>
      in6c.addData(docWave(docWaveSz, w * 60000L, w))
      q6c.processAllAvailable()
    }
    val funnel_eps = (docWaves.toLong * docWaveSz / ((System.nanoTime() - t6c) / 1e9)).toLong
    q6c.stop()

    // -------------------------------------------------------------------
    // Pipeline 6d: watch-phrase telemetry — the HOF phrase gate runs
    // BEFORE the window aggregate (state = |phrases| cells per window);
    // same doc stream, two 2-token watch phrases
    val in6d = MemoryStream[DocEv]
    // doc ids must be a stream-safe projection (monotonically_increasing_id
    // is rejected on streaming frames): a content hash is deterministic
    // and collision-safe enough for a throughput wave
    val q6d = StreamPipelines.phraseTelemetry(
        in6d.toDF().withColumn("doc_id",
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("ts"),
            org.apache.spark.sql.functions.col("text"))),
        "ts", "doc_id", "text",
        Seq(Seq("tok1", "tok2"), Seq("tok3", "tok4")))
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    in6d.addData(docWave(1000, 0L, -1)); q6d.processAllAvailable()
    val t6d = System.nanoTime()
    (0 until docWaves).foreach { w =>
      in6d.addData(docWave(docWaveSz, w * 60000L, w))
      q6d.processAllAvailable()
    }
    val phrase_eps = (docWaves.toLong * docWaveSz / ((System.nanoTime() - t6d) / 1e9)).toLong
    q6d.stop()

    // -------------------------------------------------------------------
    // -------------------------------------------------------------------
    // Pipeline 7: kNN-graph ingest — each wave of 16-dim embeddings probes
    // the persisted bucket index (growing across waves), appends its
    // adjacency to the edge log and itself to the index. Reported as
    // VECTORS/sec; the per-wave cost includes both parquet appends, the
    // production artifact writes.
    val in7 = MemoryStream[(Long, Seq[Double])]
    def vecWave(n: Int, idBase: Long, seed: Int): Seq[(Long, Seq[Double])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i =>
        (idBase + i, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    }
    val knnWaves  = math.max(1, waves / 2)
    val knnWaveSz = math.max(1, waveSize / 8)
    var ann_qps   = 0L
    // index/edges are subpaths (not the created scratch dir itself): the
    // sink treats an absent path as an empty index, but an existing EMPTY
    // directory is not readable parquet
    val knnScratch = scratchDir("knn")
    val q7 = StreamPipelines.knnGraphSink(
        in7.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 5, bits = 6, s"$knnScratch/index", s"$knnScratch/edges",
        s"$knnScratch/ckpt", trigger = Trigger.ProcessingTime(0))
      .start()
    in7.addData(vecWave(1000, -1000000L, -1)); q7.processAllAvailable()
    val t7 = System.nanoTime()
    (0 until knnWaves).foreach { w =>
      in7.addData(vecWave(knnWaveSz, w.toLong * knnWaveSz, w))
      q7.processAllAvailable()
    }
    val knn_eps = (knnWaves.toLong * knnWaveSz / ((System.nanoTime() - t7) / 1e9)).toLong
    q7.stop()

    // -------------------------------------------------------------------
    // Pipeline 7b: simhash ingest dedup — each wave of documents is
    // near-dup-checked against the growing persisted fingerprint index
    // (first-wins in batch, index survivors appended). Reported as
    // DOCS/sec including the index append.
    var simdedup_eps = 0L
    locally {
      val in7b = MemoryStream[(Long, String)]
      val shScratch = scratchDir("simdedup")
      val q7b = StreamPipelines.simhashDedupSink(
          in7b.toDF().toDF("doc_id", "text"), "doc_id", "text",
          s"$shScratch/index", s"$shScratch/ckpt",
          trigger = Trigger.ProcessingTime(0))
        .start()
      def docWave2(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
        val rnd = new scala.util.Random(seed)
        (0 until n).map { i =>
          val toks = (0 until 20).map(_ => s"w${rnd.nextInt(5000)}")
          (idBase + i, toks.mkString(" "))
        }
      }
      in7b.addData(docWave2(500, -500000L, -3)); q7b.processAllAvailable()
      val sdWaves  = math.max(1, waves / 2)
      val sdWaveSz = math.max(1, waveSize / 8)
      val t7b = System.nanoTime()
      (0 until sdWaves).foreach { w =>
        in7b.addData(docWave2(sdWaveSz, w.toLong * sdWaveSz, 200 + w))
        q7b.processAllAvailable()
      }
      simdedup_eps = (sdWaves.toLong * sdWaveSz / ((System.nanoTime() - t7b) / 1e9)).toLong
      q7b.stop()
    }

    // -------------------------------------------------------------------
    // Pipeline 7c: dHash ingest dedup — the multimodal twin of 7b: each
    // wave of payloads fingerprints with the perceptual gradient hash,
    // near-dup-checks against the growing persisted index through the
    // banded pigeonhole join, and appends survivors. Reported as
    // PAYLOADS/sec including the index append.
    var dhdedup_eps = 0L
    locally {
      val in7c = MemoryStream[(Long, String)]
      val dhScratch = scratchDir("dhdedup")
      val q7c = StreamPipelines.dhashDedupSink(
          in7c.toDF().toDF("doc_id", "payload"), "doc_id", "payload",
          s"$dhScratch/index", s"$dhScratch/ckpt",
          trigger = Trigger.ProcessingTime(0))
        .start()
      def payloadWave(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
        val rnd = new scala.util.Random(seed)
        (0 until n).map { i =>
          val body = (0 until 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
          (idBase + i, body)
        }
      }
      in7c.addData(payloadWave(500, -500000L, -7)); q7c.processAllAvailable()
      val dhWaves  = math.max(1, waves / 2)
      val dhWaveSz = math.max(1, waveSize / 8)
      val t7c = System.nanoTime()
      (0 until dhWaves).foreach { w =>
        in7c.addData(payloadWave(dhWaveSz, w.toLong * dhWaveSz, 300 + w))
        q7c.processAllAvailable()
      }
      dhdedup_eps = (dhWaves.toLong * dhWaveSz / ((System.nanoTime() - t7c) / 1e9)).toLong
      q7c.stop()
    }

    // -------------------------------------------------------------------
    // Pipeline 7d: video-container ingest dedup — q302's frame-vote rule
    // live: each wave of containers samples 4 aligned frames, perceptual
    // fingerprints probe the growing per-frame index through the
    // (frame_idx, band) blocks, and >=3-of-4 frame votes drop the
    // container. Reported as CONTAINERS/sec including the index append.
    var vdhdedup_eps = 0L
    locally {
      val in7d = MemoryStream[(Long, String)]
      val vdhScratch = scratchDir("vdhdedup")
      val q7d = StreamPipelines.videoDhashDedupSink(
          in7d.toDF().toDF("doc_id", "payload"), "doc_id", "payload",
          s"$vdhScratch/index", s"$vdhScratch/ckpt",
          trigger = Trigger.ProcessingTime(0))
        .start()
      def containerWave(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
        val rnd = new scala.util.Random(seed)
        (0 until n).map { i =>
          val body = (0 until 800).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
          (idBase + i, body)
        }
      }
      in7d.addData(containerWave(500, -500000L, -9)); q7d.processAllAvailable()
      val vdWaves  = math.max(1, waves / 2)
      val vdWaveSz = math.max(1, waveSize / 8)
      val t7d = System.nanoTime()
      (0 until vdWaves).foreach { w =>
        in7d.addData(containerWave(vdWaveSz, w.toLong * vdWaveSz, 400 + w))
        q7d.processAllAvailable()
      }
      vdhdedup_eps = (vdWaves.toLong * vdWaveSz / ((System.nanoTime() - t7d) / 1e9)).toLong
      q7d.stop()
    }

    // -------------------------------------------------------------------
    // Pipeline 7e: audio-container ingest dedup — q310's window-vote rule
    // live: each wave of containers fingerprints 5 aligned overlapping
    // windows with the chromaprint-shaped spectral-gradient-delta word,
    // probes the growing per-window index through the (window_idx, band)
    // blocks, and >=3-of-5 window votes drop the container. Reported as
    // CONTAINERS/sec including the index append.
    var acdedup_eps = 0L
    locally {
      val in7e = MemoryStream[(Long, String)]
      val acScratch = scratchDir("acdedup")
      val q7e = StreamPipelines.audioChromaDedupSink(
          in7e.toDF().toDF("doc_id", "payload"), "doc_id", "payload",
          s"$acScratch/index", s"$acScratch/ckpt",
          trigger = Trigger.ProcessingTime(0))
        .start()
      def audioWave(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
        val rnd = new scala.util.Random(seed)
        (0 until n).map { i =>
          val body = (0 until 800).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
          (idBase + i, body)
        }
      }
      in7e.addData(audioWave(500, -500000L, -11)); q7e.processAllAvailable()
      val acWaves  = math.max(1, waves / 2)
      val acWaveSz = math.max(1, waveSize / 8)
      val t7e = System.nanoTime()
      (0 until acWaves).foreach { w =>
        in7e.addData(audioWave(acWaveSz, w.toLong * acWaveSz, 500 + w))
        q7e.processAllAvailable()
      }
      acdedup_eps = (acWaves.toLong * acWaveSz / ((System.nanoTime() - t7e) / 1e9)).toLong
      q7e.stop()
    }

    // -------------------------------------------------------------------
    // Pipeline 7f: LIVE conformal gate (r14) — docs route keep/drop/review
    // on prediction sets whose q̂ resolves from the latest committed
    // calibration version each micro-batch; a mid-run recalibration
    // exercises the refresh on the hot path. Reported as DOCS/sec
    // including the per-batch SnapshotLog verdict append.
    var cgate_eps = 0L
    locally {
      import org.apache.spark.sql.functions.{col, lit}
      val corpus = Seq(
        (1L, "the quick fox of the hill and the dale went to a town", 1L),
        (2L, "a cat and a dog sat on the mat of the house to rest", 1L),
        (3L, "xx1! yy2@ zz3# qq4$ ww5% vv6^ uu7& tt8* ss9( rr0)", 0L),
        (4L, "zzz9 yyy8 xxx7 www6 vvv5 uuu4 ttt3 sss2 rrr1 qqq0", 0L)
      ).toDF("doc_id", "text", "label")
      val feats = graft.ext.Classifier.lrFeatures(corpus, "doc_id", "text",
        col("label") === 1L).persist()
      val w = try graft.ext.Classifier.lrTrain(feats, iters = 6)
              finally feats.unpersist()
      val cgScratch = scratchDir("cgate")
      import spark.implicits._
      StreamPipelines.conformalRefreshIngestBatch(
        (22 to 30).map(i => (0L, i * 10000L)).toDF("y", "p_ppm"),
        s"$cgScratch/state", batchId = 0L)
      val in7f = MemoryStream[(Long, String)]
      val q7f = StreamPipelines.conformalGateRefreshingSink(
          in7f.toDF().toDF("doc_id", "text"), "doc_id", "text", w,
          s"$cgScratch/state", s"$cgScratch/out", s"$cgScratch/ckpt",
          trigger = Trigger.ProcessingTime(0))
        .start()
      def gateWave(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
        val rnd = new scala.util.Random(seed)
        (0 until n).map { i =>
          val toks = (0 until 20).map(_ => s"w${rnd.nextInt(5000)}")
          (idBase + i, toks.mkString(" "))
        }
      }
      in7f.addData(gateWave(500, -500000L, -13)); q7f.processAllAvailable()
      val cgWaves  = math.max(1, waves / 2)
      val cgWaveSz = math.max(1, waveSize / 4)
      val t7f = System.nanoTime()
      (0 until cgWaves).foreach { w2 =>
        if (w2 == cgWaves / 2) // recalibration on the hot path
          StreamPipelines.conformalRefreshIngestBatch(
            (40 to 45).map(i => (0L, i * 10000L)).toDF("y", "p_ppm"),
            s"$cgScratch/state", batchId = w2.toLong + 1L)
        in7f.addData(gateWave(cgWaveSz, w2.toLong * cgWaveSz, 600 + w2))
        q7f.processAllAvailable()
      }
      cgate_eps = (cgWaves.toLong * cgWaveSz / ((System.nanoTime() - t7f) / 1e9)).toLong
      q7f.stop()
    }

    // -------------------------------------------------------------------
    // Pipeline 8: graph-ANN serving — query vectors arrive on a stream and
    // each micro-batch runs the beam walk against a PERSISTED corpus
    // index (adjacency + per-bucket entries built once, outside the
    // timer). Reported as QUERIES/sec; per-batch cost is the walk's
    // rounds × beam × degree work, independent of index size (the
    // graph_ann_walk probe's flat curve).
    locally {
      import org.apache.spark.sql.functions.col
      val corpus = vecWave(2000, 0L, 42).toDF("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
      val g = graft.ext.VectorSearch.knnGraph(corpus, "vec_id", "embedding",
        k = 3, bits = 6, maxBucketSize = 64)
      val adj = g.select(col("id"), col("nbr_id"))
        .unionByName(g.select(col("nbr_id").as("id"), col("id").as("nbr_id")))
        .distinct().persist()
      adj.count()
      val entries = graft.ext.VectorSearch.bucketEntryPoints(
        corpus, "vec_id", "embedding", bits = 6).persist()
      entries.count()
      val in8 = MemoryStream[(Long, Seq[Double])]
      val annScratch = scratchDir("annserve")
      val q8 = StreamPipelines.annServeSink(
          in8.toDF().toDF("vec_id", "embedding"), corpus, adj, entries,
          s"$annScratch/res", s"$annScratch/ckpt",
          "vec_id", "embedding", "vec_id", "embedding",
          k = 5, beam = 8, rounds = 2, trigger = Trigger.ProcessingTime(0))
        .start()
      in8.addData(vecWave(8, 9000000L, -2)); q8.processAllAvailable()
      val annWaves  = math.max(1, waves / 4)
      val annWaveSz = math.max(1, waveSize / 32)
      val t8 = System.nanoTime()
      (0 until annWaves).foreach { w =>
        in8.addData(vecWave(annWaveSz, 9100000L + w.toLong * annWaveSz, 100 + w))
        q8.processAllAvailable()
      }
      ann_qps = (annWaves.toLong * annWaveSz / ((System.nanoTime() - t8) / 1e9)).toLong
      q8.stop(); adj.unpersist(); entries.unpersist()
    }

    // -------------------------------------------------------------------
    // Pipeline 9: per-user transition extraction (q252's streaming twin) —
    // one last-event state row per user, one emitted transition per
    // arrival; noop sink isolates the stateful operator itself
    val inT = MemoryStream[TransBenchEv]
    val qT = StreamPipelines.transitionStream(inT.toDF(),
        "user_id", "ts", "event_id", "event_type")
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    def transWave(n: Int, base: Long, seed: Int): Seq[TransBenchEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        TransBenchEv(rnd.nextInt(5000).toLong, new Timestamp(base + i),
          base + i, statuses(rnd.nextInt(statuses.length)))
      }
    }
    inT.addData(transWave(1000, 0L, -1)); qT.processAllAvailable()
    val transWaves = 5
    val tT = System.nanoTime()
    (0 until transWaves).foreach { w =>
      inT.addData(transWave(upsertSize, 10000000L + w.toLong * upsertSize, w))
      qT.processAllAvailable()
    }
    val trans_eps = (transWaves.toLong * upsertSize / ((System.nanoTime() - tT) / 1e9)).toLong
    qT.stop()

    // per-key Page-Hinkley change-point state: one detector row per
    // series key, one emitted row per minute advanced; noop sink
    // isolates the stateful fold (the q281 streaming twin)
    val inP = MemoryStream[(String, Long, Long)]
    val qP = StreamPipelines.changePointStream(
        inP.toDF().toDF("k", "t", "v"), "k", "t", "v")
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    def phWave(n: Int, base: Long): Seq[(String, Long, Long)] =
      (0 until n).map(i => (s"series${i % 200}", base + i / 200, (i % 97).toLong))
    inP.addData(phWave(1000, 0L): _*); qP.processAllAvailable()
    val phWaves = 5
    val tP = System.nanoTime()
    (0 until phWaves).foreach { w =>
      inP.addData(phWave(upsertSize, 100000L + w.toLong * (upsertSize / 200)): _*)
      qP.processAllAvailable()
    }
    val ph_eps = (phWaves.toLong * upsertSize / ((System.nanoTime() - tP) / 1e9)).toLong
    qP.stop()

    // windowed HDR value-distribution telemetry (q292's streaming twin):
    // state = one counter per (window, bucket), bounded by the bucket
    // space regardless of event volume
    val inH = MemoryStream[(java.sql.Timestamp, Long)]
    val qH = StreamPipelines.hdrTelemetry(inH.toDF().toDF("ts", "v"), "ts", "v")
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    def hdrWave(n: Int, minuteBase: Long): Seq[(java.sql.Timestamp, Long)] =
      (0 until n).map(i => (new java.sql.Timestamp(minuteBase * 60000L + i % 60000),
        ((i.toLong * 48271) % 1000000L)))
    inH.addData(hdrWave(1000, 0L): _*); qH.processAllAvailable()
    val hdrWaves = 5
    val tH = System.nanoTime()
    (0 until hdrWaves).foreach { w =>
      inH.addData(hdrWave(upsertSize, 1000L + w.toLong * 2): _*)
      qH.processAllAvailable()
    }
    val hdr_eps = (hdrWaves.toLong * upsertSize / ((System.nanoTime() - tH) / 1e9)).toLong
    qH.stop()

    // per-key audience KMV sketch maintenance (q289's streaming twin):
    // each wave folds into the stored O(k)-per-key snapshot via the
    // exactly-mergeable bottom-k union
    val audDir = scratchDir("audsketch")
    val audPath = audDir + "/aud_sketch"
    val inA = MemoryStream[(String, Long)]
    val qA = StreamPipelines.audienceSketchSink(
        inA.toDF().toDF("key", "member"), "key", "member", 256,
        audPath, audDir + "/aud_ckpt", Trigger.ProcessingTime(0)).start()
    def audWave(n: Int, base: Long): Seq[(String, Long)] =
      (0 until n).map(i => (s"seg${i % 8}", base + i))
    inA.addData(audWave(1000, 0L): _*); qA.processAllAvailable()
    val audWaves = 3
    val tA = System.nanoTime()
    (0 until audWaves).foreach { w =>
      inA.addData(audWave(upsertSize, 10000L + w.toLong * upsertSize): _*)
      qA.processAllAvailable()
    }
    val aud_eps = (audWaves.toLong * upsertSize / ((System.nanoTime() - tA) / 1e9)).toLong
    qA.stop()

    // windowed A/B chi-square telemetry (q299's streaming twin): one
    // counter row of state per window
    val inB = MemoryStream[(java.sql.Timestamp, Boolean, Boolean)]
    val qB = StreamPipelines.abTestTelemetry(
        inB.toDF().toDF("ts", "treat", "conv"), "ts", "treat", "conv")
      .writeStream.format("noop").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    def abWave(n: Int, minuteBase: Long): Seq[(java.sql.Timestamp, Boolean, Boolean)] =
      (0 until n).map(i => (new java.sql.Timestamp(minuteBase * 60000L + i % 60000),
        i % 2 == 0, i % 3 == 0))
    inB.addData(abWave(1000, 0L): _*); qB.processAllAvailable()
    val abWaves = 5
    val tB = System.nanoTime()
    (0 until abWaves).foreach { w =>
      inB.addData(abWave(upsertSize, 2000L + w.toLong * 2): _*)
      qB.processAllAvailable()
    }
    val ab_eps = (abWaves.toLong * upsertSize / ((System.nanoTime() - tB) / 1e9)).toLong
    qB.stop()

    // windowed co-interaction affinity telemetry (q306's streaming twin):
    // (ts, user, item) events fold into per-(window, user) baskets; the
    // close projection explodes in-basket pairs into per-window counts
    val inAff = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Long)]
    val affOut = scratchDir("aff")
    val qAff = StreamPipelines.affinityTelemetrySink(
        inAff.toDF().toDF("ts", "user", "item"), "ts", "user", "item",
        s"$affOut/pairs", s"$affOut/ckpt",
        trigger = Trigger.ProcessingTime(0))
      .start()
    def affWave(n: Int, minuteBase: Long): Seq[(java.sql.Timestamp, Long, Long)] =
      (0 until n).map(i => (new java.sql.Timestamp(minuteBase * 60000L + i % 60000),
        (i % 500).toLong, (i % 37).toLong))
    inAff.addData(affWave(1000, 0L): _*); qAff.processAllAvailable()
    val affWaves = 5
    val tAff = System.nanoTime()
    (0 until affWaves).foreach { w =>
      // each wave lands in its own minute window and the next wave's
      // timestamps close it, so every wave pays a real close projection
      inAff.addData(affWave(upsertSize, 2000L + w.toLong * 2): _*)
      qAff.processAllAvailable()
    }
    val aff_eps = (affWaves.toLong * upsertSize / ((System.nanoTime() - tAff) / 1e9)).toLong
    qAff.stop()

    // windowed journey-transition telemetry (q317's streaming input):
    // per-(window, user) journeys sort at close into transition counts
    val inAtt = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Long, String)]
    val attOut = scratchDir("attr")
    val qAtt = StreamPipelines.attributionTelemetrySink(
        inAtt.toDF().toDF("ts", "user", "id", "t"), "ts", "user", "id", "t",
        s"$attOut/tr", s"$attOut/ckpt",
        trigger = Trigger.ProcessingTime(0))
      .start()
    val attTypes = Array("view", "click", "signup", "purchase", "error")
    def attWave(n: Int, minuteBase: Long): Seq[(java.sql.Timestamp, Long, Long, String)] =
      (0 until n).map(i => (new java.sql.Timestamp(minuteBase * 60000L + i % 60000),
        (i % 500).toLong, (minuteBase * 1000000L + i).toLong, attTypes(i % 5)))
    inAtt.addData(attWave(1000, 0L): _*); qAtt.processAllAvailable()
    val attWaves = 5
    val tAtt = System.nanoTime()
    (0 until attWaves).foreach { w =>
      inAtt.addData(attWave(upsertSize, 4000L + w.toLong * 2): _*)
      qAtt.processAllAvailable()
    }
    val att_eps = (attWaves.toLong * upsertSize / ((System.nanoTime() - tAtt) / 1e9)).toLong
    qAtt.stop()

    println(s"""{"metric":"stream_throughput","unit":"events/sec","pipelines":{"gold_window_agg":$agg_eps,"orders_upsert_versioned":$upsert_mor_eps,"cdc_dims":$cdc_eps,"window_sketch_telemetry":$sketch_eps,"priority_sample":$prio_eps,"cms_telemetry_docs":$cms_eps,"drift_telemetry_docs":$drift_eps,"ingest_funnel_docs":$funnel_eps,"phrase_telemetry_docs":$phrase_eps,"knn_graph_ingest_vecs":$knn_eps,"simhash_dedup_ingest_docs":$simdedup_eps,"dhash_dedup_ingest_payloads":$dhdedup_eps,"video_dhash_ingest_containers":$vdhdedup_eps,"audio_chroma_ingest_containers":$acdedup_eps,"conformal_gate_docs":$cgate_eps,"graph_ann_serve_queries":$ann_qps,"transition_extract_events":$trans_eps,"change_point_events":$ph_eps,"hdr_telemetry_events":$hdr_eps,"audience_sketch_members":$aud_eps,"ab_telemetry_events":$ab_eps,"affinity_telemetry_events":$aff_eps,"attribution_telemetry_events":$att_eps},"reference":{"configured":50,"design_target_max":10000,"max_offsets_per_trigger":5000}}""")
    spark.stop()
    sweepScratch()
  }
}
