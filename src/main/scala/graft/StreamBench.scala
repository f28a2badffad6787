package graft

import graft.streaming.StreamPipelines
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming-throughput benchmark for the three reference pipelines
  * (SURVEY.md §3.1-§3.2): windowed gold aggregation, latest-wins order
  * upsert, CDC dims apply — and the engine's other streaming pipelines,
  * 23 in all. Each is driven from a MemoryStream in micro-batch chunks
  * and reported as events/second end to end (including the foreachBatch
  * SnapshotLog commit for the stateful sinks).
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

  /** One benchmarked pipeline: its JSON key, `waves` timed waves of
    * `size` events, `wave(w, n)` — the n events of wave w, where w = -1
    * is the warm-up — and the streaming query it starts on its input.
    */
  private case class Pipeline[T](name: String, waves: Int, size: Int,
                                 wave: (Int, Int) => Seq[T],
                                 query: MemoryStream[T] => StreamingQuery)(
      implicit val enc: Encoder[T])

  /** Starts `p`, warms its stateful plan with 1,000 events, then times the
    * waves end to end (generation, micro-batch and sink commit) and
    * returns events/second.
    */
  private def run[T](spark: SparkSession, p: Pipeline[T]): Long = {
    val in = MemoryStream[T](spark)(p.enc)
    val q = p.query(in)
    try {
      in.addData(p.wave(-1, 1000)); q.processAllAvailable()
      val t0 = System.nanoTime()
      (0 until p.waves).foreach { w =>
        in.addData(p.wave(w, p.size))
        q.processAllAvailable()
      }
      (p.waves.toLong * p.size / ((System.nanoTime() - t0) / 1e9)).toLong
    } finally q.stop()
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    import spark.implicits._
    val waves    = sys.env.getOrElse("SPARK_GRAFT_STREAM_WAVES", "10").toInt
    val waveSize = sys.env.getOrElse("SPARK_GRAFT_STREAM_WAVE_SIZE", "50000").toInt
    val trigger  = Trigger.ProcessingTime(0)
    def noop(ds: Dataset[_], mode: String = "append"): StreamingQuery =
      ds.writeStream.format("noop").outputMode(mode).trigger(trigger).start()

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
    def cdcWave(n: Int, base: Long, seed: Int): Seq[CdcEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val op = rnd.nextInt(100) match { case x if x < 78 => "c"; case x if x < 98 => "u"; case _ => "d" }
        CdcEv(op, base + i, s"u${rnd.nextInt(2000)}", s"seg${rnd.nextInt(5)}")
      }
    }
    def weightWave(n: Int, base: Long, seed: Int): Seq[WeightedEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        WeightedEv(new Timestamp(base + i % 60000), s"s${rnd.nextInt(20)}",
          base + i, 1L + rnd.nextInt(9))
      }
    }
    def docWave(n: Int, tBase: Long, seed: Int): Seq[DocEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val toks = (0 until 8).map(_ => s"tok${rnd.nextInt(1000)}")
        DocEv(new Timestamp(tBase + i % 60000), toks.mkString(" "))
      }
    }
    def vecWave(n: Int, idBase: Long, seed: Int): Seq[(Long, Seq[Double])] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i =>
        (idBase + i, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    }
    // 20-token documents over a 5,000-word vocabulary
    def wordWave(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val toks = (0 until 20).map(_ => s"w${rnd.nextInt(5000)}")
        (idBase + i, toks.mkString(" "))
      }
    }
    // random lowercase payloads of `len` bytes
    def payloadWave(len: Int)(n: Int, idBase: Long, seed: Int): Seq[(Long, String)] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        val body = (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
        (idBase + i, body)
      }
    }
    def transWave(n: Int, base: Long, seed: Int): Seq[TransBenchEv] = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map { i =>
        TransBenchEv(rnd.nextInt(5000).toLong, new Timestamp(base + i),
          base + i, statuses(rnd.nextInt(statuses.length)))
      }
    }
    def minuteTs(minuteBase: Long, i: Int) = new Timestamp(minuteBase * 60000L + i % 60000)
    val attTypes = Array("view", "click", "signup", "purchase", "error")

    val docWaves = math.max(1, waves / 2)
    val docWaveSz = waveSize / 2 // 8 tokens/doc → comparable token volume
    val ingestWaves = math.max(1, waves / 2)
    val ingestWaveSz = math.max(1, waveSize / 8)
    val batchSize = 5000 // the reference's maxOffsetsPerTrigger
    val cgScratch = scratchDir("cgate")

    val pipelines: Seq[Pipeline[_]] = Seq(
      // watermarked 1-minute window agg (gold metrics), append
      Pipeline[ContentEv]("gold_window_agg", waves, waveSize,
        (w, n) => contentWave(n, w * 60000L, w),
        in => noop(StreamPipelines.minuteMetrics(in.toDF(), "ts", "video_id",
          "event_type", types.toIndexedSeq))),
      // orders upsert through the versioned merge-on-read sink — each
      // micro-batch commits an O(batch) delta segment to the SnapshotLog
      // (latest-wins reduce + tagged manifest commit)
      Pipeline[OrderEv]("orders_upsert_versioned", 5, batchSize,
        (w, n) => orderWave(n, 100000L + w.toLong * n, w),
        { in =>
          val dir = scratchDir("upsert-mor")
          StreamPipelines.upsertSinkVersioned(in.toDF(), s"$dir/gold", s"$dir/ckpt",
            Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"), Seq("amount"),
            trigger).start()
        }),
      // CDC dims apply (80/20 create/update + deletes)
      Pipeline[CdcEv]("cdc_dims", 5, batchSize,
        (w, n) => cdcWave(n, 100000L + w.toLong * n, w),
        { in =>
          val dir = scratchDir("cdc")
          StreamPipelines.cdcSinkVersioned(in.toDF(), s"$dir/dim", s"$dir/ckpt",
            Seq("user_id"), trigger = trigger).start()
        }),
      // windowed sketch telemetry (KMV distinct + Misra-Gries heavy hitters
      // per 1-minute window) — the O(k+m)-state alternative to exact
      // streaming countDistinct, timed at the same wave shape as the gold
      // window agg so the sketch overhead per event is directly visible
      Pipeline[ContentEv]("window_sketch_telemetry", waves, waveSize,
        (w, n) => contentWave(n, w * 60000L, w),
        in => noop(StreamPipelines.windowedSketchStats(in.toDF(), "ts", "video_id",
          k = 256, m = 8))),
      // k-bounded streaming priority sample — per-stratum top-k state
      // (k items each, 20 strata), timed at the gold-agg wave shape so the
      // cost of the weighted-reservoir fold per event is visible
      Pipeline[WeightedEv]("priority_sample", waves, waveSize,
        (w, n) => weightWave(n, 1000000L + w.toLong * n, w),
        in => noop(StreamPipelines.prioritySampleStream(in.toDF(), "stratum", "key",
          "w", k = 100), "update")),
      // windowed Count-Min telemetry — depth×width grid state per 1-minute
      // window over an 8-token/doc stream; reported as DOCUMENTS/sec
      // (token throughput is 8×)
      Pipeline[DocEv]("cms_telemetry_docs", docWaves, docWaveSz,
        (w, n) => docWave(n, w * 60000L, w),
        in => noop(StreamPipelines.cmsTelemetry(in.toDF(), "ts", "text",
          depth = 4, width = 256))),
      // windowed drift telemetry — 64 conditional counters per window
      // (state = ONE row per window), drift computed in the window-close
      // projection; same doc stream as the CMS pipeline
      Pipeline[DocEv]("drift_telemetry_docs", docWaves, docWaveSz,
        (w, n) => docWave(n, w * 60000L, w),
        in => noop(StreamPipelines.driftTelemetry(in.toDF(), "ts", "text",
          Seq.fill(64)(1000000L / 64)))),
      // windowed ingest-funnel telemetry — per-window counts by first
      // failing curation gate (state = ≤ 4 counter rows per window); same
      // doc stream as the CMS pipeline
      Pipeline[DocEv]("ingest_funnel_docs", docWaves, docWaveSz,
        (w, n) => docWave(n, w * 60000L, w),
        in => noop(StreamPipelines.ingestFunnelStats(in.toDF(), "ts", "text"))),
      // watch-phrase telemetry — the HOF phrase gate runs BEFORE the window
      // aggregate (state = |phrases| cells per window); same doc stream,
      // two 2-token watch phrases. Doc ids must be a stream-safe
      // projection (monotonically_increasing_id is rejected on streaming
      // frames): a content hash is deterministic and collision-safe enough
      // for a throughput wave
      Pipeline[DocEv]("phrase_telemetry_docs", docWaves, docWaveSz,
        (w, n) => docWave(n, w * 60000L, w),
        in => noop(StreamPipelines.phraseTelemetry(
          in.toDF().withColumn("doc_id", xxhash64(col("ts"), col("text"))),
          "ts", "doc_id", "text", Seq(Seq("tok1", "tok2"), Seq("tok3", "tok4"))))),
      // kNN-graph ingest — each wave of 16-dim embeddings probes the
      // persisted bucket index (growing across waves), appends its
      // adjacency to the edge log and itself to the index. Reported as
      // VECTORS/sec; the per-wave cost includes both appends, the
      // production artifact writes.
      Pipeline[(Long, Seq[Double])]("knn_graph_ingest_vecs", ingestWaves, ingestWaveSz,
        (w, n) => vecWave(n, w.toLong * n, w),
        { in =>
          // index/edges are subpaths (not the created scratch dir itself):
          // the sink treats an absent path as an empty index, but an
          // existing EMPTY directory is not readable parquet
          val dir = scratchDir("knn")
          StreamPipelines.knnGraphSink(in.toDF().toDF("vec_id", "embedding"),
            "vec_id", "embedding", k = 5, bits = 6, s"$dir/index", s"$dir/edges",
            s"$dir/ckpt", trigger = trigger).start()
        }),
      // simhash ingest dedup — each wave of documents is near-dup-checked
      // against the growing persisted fingerprint index (first-wins in
      // batch, index survivors appended). Reported as DOCS/sec including
      // the index append.
      Pipeline[(Long, String)]("simhash_dedup_ingest_docs", ingestWaves, ingestWaveSz,
        (w, n) => wordWave(n, w.toLong * n, 200 + w),
        { in =>
          val dir = scratchDir("simdedup")
          StreamPipelines.simhashDedupSink(in.toDF().toDF("doc_id", "text"),
            "doc_id", "text", s"$dir/index", s"$dir/ckpt", trigger = trigger).start()
        }),
      // dHash ingest dedup — the multimodal twin of the simhash sink: each
      // wave of payloads fingerprints with the perceptual gradient hash,
      // near-dup-checks against the growing persisted index through the
      // banded pigeonhole join, and appends survivors. Reported as
      // PAYLOADS/sec including the index append.
      Pipeline[(Long, String)]("dhash_dedup_ingest_payloads", ingestWaves, ingestWaveSz,
        (w, n) => payloadWave(400)(n, w.toLong * n, 300 + w),
        { in =>
          val dir = scratchDir("dhdedup")
          StreamPipelines.dhashDedupSink(in.toDF().toDF("doc_id", "payload"),
            "doc_id", "payload", s"$dir/index", s"$dir/ckpt", trigger = trigger).start()
        }),
      // video-container ingest dedup — q302's frame-vote rule live: each
      // wave of containers samples 4 aligned frames, perceptual
      // fingerprints probe the growing per-frame index through the
      // (frame_idx, band) blocks, and >=3-of-4 frame votes drop the
      // container. Reported as CONTAINERS/sec including the index append.
      Pipeline[(Long, String)]("video_dhash_ingest_containers", ingestWaves, ingestWaveSz,
        (w, n) => payloadWave(800)(n, w.toLong * n, 400 + w),
        { in =>
          val dir = scratchDir("vdhdedup")
          StreamPipelines.videoDhashDedupSink(in.toDF().toDF("doc_id", "payload"),
            "doc_id", "payload", s"$dir/index", s"$dir/ckpt", trigger = trigger).start()
        }),
      // audio-container ingest dedup — q310's window-vote rule live: each
      // wave of containers fingerprints 5 aligned overlapping windows with
      // the chromaprint-shaped spectral-gradient-delta word, probes the
      // growing per-window index through the (window_idx, band) blocks,
      // and >=3-of-5 window votes drop the container. Reported as
      // CONTAINERS/sec including the index append.
      Pipeline[(Long, String)]("audio_chroma_ingest_containers", ingestWaves, ingestWaveSz,
        (w, n) => payloadWave(800)(n, w.toLong * n, 500 + w),
        { in =>
          val dir = scratchDir("acdedup")
          StreamPipelines.audioChromaDedupSink(in.toDF().toDF("doc_id", "payload"),
            "doc_id", "payload", s"$dir/index", s"$dir/ckpt", trigger = trigger).start()
        }),
      // LIVE conformal gate — docs route keep/drop/review on prediction
      // sets whose q̂ resolves from the latest committed calibration
      // version each micro-batch; a mid-run recalibration exercises the
      // refresh on the hot path. Reported as DOCS/sec including the
      // per-batch SnapshotLog verdict append.
      Pipeline[(Long, String)]("conformal_gate_docs", ingestWaves, math.max(1, waveSize / 4),
        { (w, n) =>
          if (w == ingestWaves / 2) // recalibration on the hot path
            StreamPipelines.conformalRefreshIngestBatch(
              (40 to 45).map(i => (0L, i * 10000L)).toDF("y", "p_ppm"),
              s"$cgScratch/state", batchId = w.toLong + 1L)
          wordWave(n, w.toLong * n, 600 + w)
        },
        { in =>
          val corpus = Seq(
            (1L, "the quick fox of the hill and the dale went to a town", 1L),
            (2L, "a cat and a dog sat on the mat of the house to rest", 1L),
            (3L, "xx1! yy2@ zz3# qq4$ ww5% vv6^ uu7& tt8* ss9( rr0)", 0L),
            (4L, "zzz9 yyy8 xxx7 www6 vvv5 uuu4 ttt3 sss2 rrr1 qqq0", 0L)
          ).toDF("doc_id", "text", "label")
          val feats = graft.ext.Classifier.lrFeatures(corpus, "doc_id", "text",
            col("label") === 1L).persist()
          val weights = try graft.ext.Classifier.lrTrain(feats, iters = 6)
                        finally feats.unpersist()
          StreamPipelines.conformalRefreshIngestBatch(
            (22 to 30).map(i => (0L, i * 10000L)).toDF("y", "p_ppm"),
            s"$cgScratch/state", batchId = 0L)
          StreamPipelines.conformalGateRefreshingSink(in.toDF().toDF("doc_id", "text"),
            "doc_id", "text", weights, s"$cgScratch/state", s"$cgScratch/out",
            s"$cgScratch/ckpt", trigger = trigger).start()
        }),
      // graph-ANN serving — query vectors arrive on a stream and each
      // micro-batch runs the beam walk against a PERSISTED corpus index
      // (adjacency + per-bucket entries built once, outside the timer, and
      // held until the session stops). Reported as QUERIES/sec; per-batch
      // cost is the walk's rounds × beam × degree work, independent of
      // index size (the graph_ann_walk probe's flat curve).
      Pipeline[(Long, Seq[Double])]("graph_ann_serve_queries", math.max(1, waves / 4),
        math.max(1, waveSize / 32),
        (w, n) => vecWave(n, 9100000L + w.toLong * n, 100 + w),
        { in =>
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
          val dir = scratchDir("annserve")
          StreamPipelines.annServeSink(in.toDF().toDF("vec_id", "embedding"),
            corpus, adj, entries, s"$dir/res", s"$dir/ckpt",
            "vec_id", "embedding", "vec_id", "embedding",
            k = 5, beam = 8, rounds = 2, trigger = trigger).start()
        }),
      // per-user transition extraction (q252's streaming twin) — one
      // last-event state row per user, one emitted transition per arrival;
      // noop sink isolates the stateful operator itself
      Pipeline[TransBenchEv]("transition_extract_events", 5, batchSize,
        (w, n) => transWave(n, 10000000L + w.toLong * n, w),
        in => noop(StreamPipelines.transitionStream(in.toDF(),
          "user_id", "ts", "event_id", "event_type"))),
      // per-key Page-Hinkley change-point state: one detector row per
      // series key, one emitted row per minute advanced; noop sink
      // isolates the stateful fold (the q281 streaming twin)
      Pipeline[(String, Long, Long)]("change_point_events", 5, batchSize,
        (w, n) => (0 until n).map(i =>
          (s"series${i % 200}", 100000L + w.toLong * (n / 200) + i / 200, (i % 97).toLong)),
        in => noop(StreamPipelines.changePointStream(in.toDF().toDF("k", "t", "v"),
          "k", "t", "v"))),
      // windowed HDR value-distribution telemetry (q292's streaming twin):
      // state = one counter per (window, bucket), bounded by the bucket
      // space regardless of event volume
      Pipeline[(Timestamp, Long)]("hdr_telemetry_events", 5, batchSize,
        (w, n) => (0 until n).map(i =>
          (minuteTs(1000L + w.toLong * 2, i), (i.toLong * 48271) % 1000000L)),
        in => noop(StreamPipelines.hdrTelemetry(in.toDF().toDF("ts", "v"), "ts", "v"))),
      // per-key audience KMV sketch maintenance (q289's streaming twin):
      // each wave folds into the stored O(k)-per-key snapshot via the
      // exactly-mergeable bottom-k union
      Pipeline[(String, Long)]("audience_sketch_members", 3, batchSize,
        (w, n) => (0 until n).map(i => (s"seg${i % 8}", 10000L + w.toLong * n + i)),
        { in =>
          val dir = scratchDir("audsketch")
          StreamPipelines.audienceSketchSink(in.toDF().toDF("key", "member"),
            "key", "member", 256, s"$dir/aud_sketch", s"$dir/aud_ckpt", trigger).start()
        }),
      // windowed A/B chi-square telemetry (q299's streaming twin): one
      // counter row of state per window
      Pipeline[(Timestamp, Boolean, Boolean)]("ab_telemetry_events", 5, batchSize,
        (w, n) => (0 until n).map(i =>
          (minuteTs(2000L + w.toLong * 2, i), i % 2 == 0, i % 3 == 0)),
        in => noop(StreamPipelines.abTestTelemetry(in.toDF().toDF("ts", "treat", "conv"),
          "ts", "treat", "conv"))),
      // windowed co-interaction affinity telemetry (q306's streaming twin):
      // (ts, user, item) events fold into per-(window, user) baskets; the
      // close projection explodes in-basket pairs into per-window counts.
      // Each wave lands in its own minute window and the next wave's
      // timestamps close it, so every wave pays a real close projection.
      Pipeline[(Timestamp, Long, Long)]("affinity_telemetry_events", 5, batchSize,
        (w, n) => (0 until n).map(i =>
          (minuteTs(2000L + w.toLong * 2, i), (i % 500).toLong, (i % 37).toLong)),
        { in =>
          val dir = scratchDir("aff")
          StreamPipelines.affinityTelemetrySink(in.toDF().toDF("ts", "user", "item"),
            "ts", "user", "item", s"$dir/pairs", s"$dir/ckpt", trigger = trigger).start()
        }),
      // windowed journey-transition telemetry (q317's streaming input):
      // per-(window, user) journeys sort at close into transition counts
      Pipeline[(Timestamp, Long, Long, String)]("attribution_telemetry_events", 5, batchSize,
        { (w, n) =>
          val minute = 4000L + w.toLong * 2
          (0 until n).map(i => (minuteTs(minute, i), (i % 500).toLong,
            minute * 1000000L + i, attTypes(i % 5)))
        },
        { in =>
          val dir = scratchDir("attr")
          StreamPipelines.attributionTelemetrySink(in.toDF().toDF("ts", "user", "id", "t"),
            "ts", "user", "id", "t", s"$dir/tr", s"$dir/ckpt", trigger = trigger).start()
        })
    )

    val eps = pipelines.map(p => s"\"${p.name}\":${run(spark, p)}").mkString("{", ",", "}")
    println(s"""{"metric":"stream_throughput","unit":"events/sec","pipelines":$eps,"reference":{"configured":50,"design_target_max":10000,"max_offsets_per_trigger":5000}}""")
    spark.stop()
    sweepScratch()
  }
}
