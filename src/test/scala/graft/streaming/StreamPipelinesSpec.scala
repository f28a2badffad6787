package graft.streaming

import graft.SparkFunSuite
import graft.ops.LatestWins
import graft.table.SnapshotLog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

final case class Ev(ts: Timestamp, key: String, event_type: String)
final case class Click(c_user: String, c_ts: Timestamp, click_id: Long)
final case class Purchase(p_user: String, p_ts: Timestamp, amount: Double)
final case class Ord(user_id: String, ts: Timestamp, event_id: Long, event_type: String, amount: Option[Double])
final case class Cdc(op: String, ts_ms: Long, user_id: String, segment: String)
final case class Doc(doc_id: Long, ts: Timestamp, text: String)
final case class Vec(vec_id: Long, embedding: Seq[Double])
final case class Val(ts: Timestamp, key: String, value: Double)
final case class UEv(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)

/** One ingest function that commits through SnapshotLog, for the
  * table-driven crash matrix: `ingest(root, k, batchId, incarnation)`
  * feeds the case's k-th batch (k in 0..2), and `tables` are the
  * SnapshotLog tables it writes, relative to `root`.
  */
final case class SinkCase(
    name: String,
    tables: Seq[String],
    ingest: (String, Int, Long, Option[String]) => Unit,
    seed: String => Unit = _ => ())

class StreamPipelinesSpec extends SparkFunSuite {
  import spark.implicits._

  private def t(s: String): Timestamp = Timestamp.valueOf(s)
  private def tmpDir(tag: String): String =
    graft.TestTmp.dir(tag)

  /** A crash between a commit's segment write and its manifest claim: the
    * latest manifest of the SnapshotLog table at `path` goes, and its
    * segment stays behind unpublished.
    */
  private def unpublishLatest(path: String): Unit = {
    val v = SnapshotLog.latestVersion(spark, path).get
    Files.delete(java.nio.file.Paths.get(path, "_log", f"v$v%09d.json"))
  }

  test("kafkaOptions builds the reference's exact option surface") {
    val opts = StreamPipelines.kafkaOptions(
      "kafka:29092", "orders", "earliest", Some(5000L))
    assert(opts == Map(
      "kafka.bootstrap.servers" -> "kafka:29092",
      "subscribe"               -> "orders",
      "startingOffsets"         -> "earliest",
      "failOnDataLoss"          -> "true",
      "maxOffsetsPerTrigger"    -> "5000"))
    // tail-only (S2) drops the rate limit when unset
    val tail = StreamPipelines.kafkaOptions("kafka:29092", "content_events", "latest")
    assert(tail("startingOffsets") == "latest" && !tail.contains("maxOffsetsPerTrigger"))
    // per-partition JSON offsets accepted; junk rejected
    StreamPipelines.kafkaOptions("b", "t", """{"t":{"0":23}}""")
    intercept[IllegalArgumentException](StreamPipelines.kafkaOptions("b", "t", "oldest"))
    intercept[IllegalArgumentException](StreamPipelines.kafkaOptions("", "t"))
    intercept[IllegalArgumentException](StreamPipelines.kafkaOptions("b", "t", "earliest", Some(0L)))
  }

  test("kafkaSource wires format(\"kafka\"): load fails by MISSING CONNECTOR, not wiring") {
    // the sandbox ships no spark-sql-kafka jar — the precise failure mode
    // proves the reader is bound to the kafka data source (a wiring bug
    // would fail differently or not at all)
    val e = intercept[Exception](
      StreamPipelines.kafkaSource(spark, "kafka:29092", "orders", "earliest", Some(5000L)))
    assert(e.getMessage.toLowerCase.contains("kafka"))
    assert(e.getMessage.contains("Failed to find") || e.getMessage.contains("DATA_SOURCE_NOT_FOUND"))
  }

  test("minuteMetrics: append mode emits closed windows once, drops late rows") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamPipelines.minuteMetrics(
      input.toDF(), "ts", "key", "event_type", Seq("view", "click"))
    val q = agg.writeStream.format("memory").queryName("mm").outputMode("append").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:00:05"), "k1", "view"),
        Ev(t("2024-01-01 10:00:20"), "k1", "click"),
        Ev(t("2024-01-01 10:00:40"), "k2", "view"))
      q.processAllAvailable()
      // watermark still before 10:01 → nothing emitted yet
      assert(spark.table("mm").count() == 0)

      // event at 10:02:00 pushes watermark to 10:01:50 → 10:00 window closes
      input.addData(Ev(t("2024-01-01 10:02:00"), "k1", "view"))
      q.processAllAvailable()
      val closed = spark.table("mm").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(closed == Set(("k1", 1L, 1L), ("k2", 1L, 0L)))

      // a late row for the closed window (before watermark) is dropped
      input.addData(Ev(t("2024-01-01 10:00:30"), "k1", "view"))
      q.processAllAvailable()
      assert(spark.table("mm").count() == 2) // unchanged
    } finally q.stop()
  }

  test("windowedBootstrapCI: one windowed agg, md5-replayable CI, emits on close") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Val]
    val agg = StreamPipelines.windowedBootstrapCI(
      input.toDF(), "ts", "key", "value", reps = 16)
    val q = agg.writeStream.format("memory").queryName("wbc").outputMode("append").start()
    try {
      val evs = (1 to 30).map(i => Val(t(s"2024-01-01 10:00:${10 + i}"), s"e$i", i.toDouble))
      input.addData(evs: _*)
      q.processAllAvailable()
      assert(spark.table("wbc").count() == 0) // window open
      input.addData(Val(t("2024-01-01 10:02:00"), "z", 1.0))
      q.processAllAvailable()
      val rows = spark.table("wbc").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[Long]("n") == 30L)
      assert(r.getAs[Long]("mean_cents") == (1 to 30).map(_ * 100L).sum / 30L)
      // exact md5 replay of the 16 replicate means
      val md = java.security.MessageDigest.getInstance("MD5")
      def h16(s: String): Long = java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
      val cdf = Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L, 65530L)
      def pw(h: Long): Long = cdf.indexWhere(h < _) match { case -1 => 7L; case k => k.toLong }
      val means = (0 until 16).flatMap { b =>
        val ws = (1 to 30).map(i => pw(h16(s"$b|e$i")))
        val tot = ws.sum
        if (tot == 0) None
        else Some(ws.zipWithIndex.map { case (w, i) => w * (i + 1) * 100L }.sum / tot)
      }
      assert(r.getAs[Long]("lo_cents") == means.min)
      assert(r.getAs[Long]("hi_cents") == means.max)
    } finally q.stop()
  }

  test("windowedDpRelease: seeded per-window noise replays exactly; small cells suppressed") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamPipelines.windowedDpRelease(
      input.toDF(), "ts", "event_type", salt = "s9", suppressBelow = 3L)
    val q = agg.writeStream.format("memory").queryName("wdp").outputMode("append").start()
    try {
      val evs = (1 to 5).map(i => Ev(t(s"2024-01-01 10:00:0$i"), s"k$i", "view")) ++
        (1 to 2).map(i => Ev(t(s"2024-01-01 10:00:1$i"), s"c$i", "click"))
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:02:00"), "z", "view")) // close the window
      q.processAllAvailable()
      val rows = spark.table("wdp").collect()
      assert(rows.length == 1) // click cell (n=2) suppressed
      val r = rows.head
      assert(r.getAs[String]("event_type") == "view")
      assert(r.getAs[Long]("true_n") == 5L)
      // exact replay of the seeded draw: key = unix_micros(start)/group
      val startMicros = t("2024-01-01 10:00:00").getTime * 1000L
      val md = java.security.MessageDigest.getInstance("MD5")
      val v = java.lang.Long.parseLong(
        md.digest(s"s9|$startMicros/view".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
      val w = (v + 0.5) / 4294967296.0 - 0.5
      val expect = math.round(-1000000.0 * math.signum(w) * math.log(1 - 2 * math.abs(w)))
      assert(r.getAs[Long]("noise_micro") == expect)
      assert(r.getAs[Long]("released_micro") == 5000000L + expect)
    } finally q.stop()
  }

  test("phraseTelemetry: HOF gate before the window agg; emits per-phrase tallies") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    // Ev.key carries the document text for this twin
    val agg = StreamPipelines.phraseTelemetry(
      input.toDF().withColumnRenamed("key", "text"),
      "ts", "event_type", "text", Seq(Seq("a", "b"), Seq("c", "c")))
    val q = agg.writeStream.format("memory").queryName("pht").outputMode("append").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:00:01"), "a b x a b", "d1"), // "a b" ×2
        Ev(t("2024-01-01 10:00:02"), "a b", "d2"),       // "a b" ×1
        Ev(t("2024-01-01 10:00:03"), "c c c", "d3"),     // "c c" ×2 (overlap)
        Ev(t("2024-01-01 10:00:04"), "z z", "d4"))       // no match
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:02:00"), "q", "z")) // close window
      q.processAllAvailable()
      val rows = spark.table("pht").collect()
        .map(r => r.getAs[String]("phrase") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_hits")))).toMap
      assert(rows == Map("a b" -> ((2L, 3L)), "c c" -> ((1L, 2L))))
    } finally q.stop()
  }

  test("windowedSketchStats: sketch state merges across micro-batches; exact at low cardinality") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamPipelines.windowedSketchStats(
      input.toDF(), "ts", "key", k = 256, m = 8)
    val q = agg.writeStream.format("memory").queryName("wss").outputMode("append").start()
    try {
      // the 10:00 window's keys arrive over THREE micro-batches, so the
      // per-window sketch buffers must survive the state store and merge
      input.addData(
        Ev(t("2024-01-01 10:00:05"), "a", "view"),
        Ev(t("2024-01-01 10:00:10"), "b", "view"))
      q.processAllAvailable()
      input.addData(
        Ev(t("2024-01-01 10:00:20"), "a", "view"),
        Ev(t("2024-01-01 10:00:30"), "c", "view"))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:00:40"), "a", "view"))
      q.processAllAvailable()
      assert(spark.table("wss").count() == 0) // window still open

      input.addData(Ev(t("2024-01-01 10:02:00"), "z", "view"))
      q.processAllAvailable()
      val rows = spark.table("wss").collect()
      assert(rows.length == 1)
      val r = rows.head
      // cardinality 3 ≤ k and ≤ m → both sketches are exact
      assert(r.getAs[Long]("approx_distinct") == 3L)
      assert(r.getAs[Long]("n_rows") == 5L)
      val hh = r.getAs[Map[String, Long]]("heavy_hitters")
      assert(hh == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
  }

  test("windowedSketchStats: Misra-Gries envelope holds under compression (m < cardinality)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = StreamPipelines.windowedSketchStats(
      input.toDF(), "ts", "key", k = 256, m = 2)
    val q = agg.writeStream.format("memory").queryName("wss2").outputMode("append").start()
    try {
      // skewed window: 'hot' ×6 among 10 rows over two micro-batches,
      // 4 distinct cold keys force counter evictions at m = 2
      input.addData(
        Ev(t("2024-01-01 10:00:01"), "hot", "v"), Ev(t("2024-01-01 10:00:02"), "hot", "v"),
        Ev(t("2024-01-01 10:00:03"), "c1", "v"), Ev(t("2024-01-01 10:00:04"), "hot", "v"),
        Ev(t("2024-01-01 10:00:05"), "c2", "v"))
      q.processAllAvailable()
      input.addData(
        Ev(t("2024-01-01 10:00:06"), "hot", "v"), Ev(t("2024-01-01 10:00:07"), "c3", "v"),
        Ev(t("2024-01-01 10:00:08"), "hot", "v"), Ev(t("2024-01-01 10:00:09"), "c4", "v"),
        Ev(t("2024-01-01 10:00:10"), "hot", "v"))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 10:02:00"), "z", "v"))
      q.processAllAvailable()
      val r = spark.table("wss2").collect().head
      val hh = r.getAs[Map[String, Long]]("heavy_hitters")
      val n = r.getAs[Long]("n_rows")
      assert(n == 10L)
      // MG guarantee: any key with true count > N/(m+1) is present,
      // and every estimate is within [c − N/(m+1), c]
      val exact = Map("hot" -> 6L, "c1" -> 1L, "c2" -> 1L, "c3" -> 1L, "c4" -> 1L)
      val slack = n / (2 + 1)
      assert(hh.contains("hot"), s"heavy hitter evicted: $hh")
      hh.foreach { case (key, est) =>
        val c = exact.getOrElse(key, 0L)
        assert(est <= c && est >= c - slack, s"estimate out of envelope for $key: $est vs $c")
      }
    } finally q.stop()
  }

  test("upsertBatch: carry-forward merge converges and is replay-idempotent") {
    val target = tmpDir("upsert") + "/gold"
    val b1 = Seq(
      Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)),
      Ord("u2", t("2024-01-01 10:00:01"), 2L, "created", Some(20.0))).toDF()
    val b2 = Seq( // status update without amount (sparse) + new key
      Ord("u1", t("2024-01-01 10:05:00"), 3L, "paid", None),
      Ord("u3", t("2024-01-01 10:06:00"), 4L, "created", Some(30.0))).toDF()
    def apply(df: org.apache.spark.sql.DataFrame, batchId: Long) = StreamPipelines.upsertBatch(
      df, target, Seq("user_id"), "ts", Seq("event_id"),
      denseCols = Seq("event_type"), sparseCols = Seq("amount"), batchId = batchId)
    def state = SnapshotLog.read(spark, target).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
    apply(b1, 0L); apply(b2, 1L)
    val got = state
    assert(got("u1") == ("paid", 10.0))   // amount carried through sparse update
    assert(got("u2") == ("created", 20.0))
    assert(got("u3") == ("created", 30.0))
    // replaying the last batch is a no-op: its tag is committed
    apply(b2, 1L)
    assert(SnapshotLog.versions(spark, target) == Seq(1, 2))
    assert(state == got)
    // re-delivering it as a new batch converges to the same state
    apply(b2, 2L)
    assert(state == got)
    // equivalence with the all-at-once batch reduction (replay convergence)
    val full = LatestWins.latestState(b1.union(b2), Seq("user_id"), "ts", Seq("event_id"),
      Seq("event_type"), Seq("amount"), "last_seen")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
    assert(full == got)
  }

  test("upsertSinkVersioned: end-to-end streaming upsert via foreachBatch") {
    implicit val sql = spark.sqlContext
    val dir    = tmpDir("sink")
    val input  = MemoryStream[Ord]
    val writer = StreamPipelines.upsertSinkVersioned(
      input.toDF(), s"$dir/gold", s"$dir/ckpt",
      Seq("user_id"), "ts", Seq("event_id"),
      denseCols = Seq("event_type"), sparseCols = Seq("amount"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val q = writer.start()
    try {
      input.addData(Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)))
      q.processAllAvailable()
      input.addData(Ord("u1", t("2024-01-01 10:05:00"), 2L, "paid", None))
      q.processAllAvailable()
      val got = SnapshotLog.read(spark, s"$dir/gold").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
      assert(got == Map("u1" -> ("paid", 10.0)))
    } finally q.stop()
  }

  test("upsertSinkVersioned resumes from checkpoint across restarts (file source, rate-limited)") {
    val dir = tmpDir("resume")
    import spark.implicits._
    val wave1 = Seq(Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)))
    val wave2 = Seq(Ord("u1", t("2024-01-01 10:05:00"), 2L, "paid", None),
      Ord("u2", t("2024-01-01 10:06:00"), 3L, "created", Some(20.0)))
    val schema = wave1.toDF().schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // T5 rate limiting
        .json(s"$dir/in")
      val q = StreamPipelines.upsertSinkVersioned(stream, s"$dir/gold", s"$dir/ckpt",
        Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"), Seq("amount"),
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    wave1.toDF().write.json(s"$dir/in")
    runOnce()
    assert(SnapshotLog.read(spark, s"$dir/gold").count() == 1)
    // restart with new input files: checkpoint skips wave1, applies wave2
    wave2.toDF().write.mode("append").json(s"$dir/in")
    runOnce()
    val gold = SnapshotLog.read(spark, s"$dir/gold").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
    assert(gold == Map("u1" -> ("paid", 10.0), "u2" -> ("created", 20.0)))
  }

  test("cdcSinkVersioned: streaming CDC envelopes maintain the dim snapshot") {
    implicit val sql = spark.sqlContext
    val dir   = tmpDir("cdcsink")
    val input = MemoryStream[Cdc]
    val q = StreamPipelines.cdcSinkVersioned(input.toDF(), s"$dir/dim", s"$dir/ckpt",
      Seq("user_id"), trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Cdc("c", 1L, "u1", "bronze"), Cdc("c", 2L, "u2", "bronze"))
      q.processAllAvailable()
      input.addData(Cdc("u", 3L, "u1", "gold"), Cdc("d", 4L, "u2", "x"))
      q.processAllAvailable()
      val dim = SnapshotLog.read(spark, s"$dir/dim").collect()
        .map(r => r.getAs[String]("user_id") -> r.getAs[String]("segment")).toMap
      assert(dim == Map("u1" -> "gold"))
    } finally q.stop()
  }

  test("applyCdcBatch: creates/updates upsert, deletes remove, latest-wins per key") {
    val target = tmpDir("cdc") + "/dim"
    def dim = SnapshotLog.read(spark, target).collect()
      .map(r => r.getAs[String]("user_id") -> r.getAs[String]("segment")).toMap
    val b1 = Seq(
      Cdc("c", 1000L, "u1", "bronze"),
      Cdc("c", 1001L, "u2", "bronze"),
      Cdc("u", 1002L, "u1", "silver")).toDF() // same batch: u1 ends silver
    StreamPipelines.applyCdcBatch(b1, target, Seq("user_id"), batchId = 0L)
    assert(dim == Map("u1" -> "silver", "u2" -> "bronze"))

    val b2 = Seq(
      Cdc("d", 2000L, "u2", "x"),      // delete u2
      Cdc("u", 2001L, "u1", "gold")).toDF()
    StreamPipelines.applyCdcBatch(b2, target, Seq("user_id"), batchId = 1L)
    assert(dim == Map("u1" -> "gold"))

    // cross-batch latest-wins: a REPLAYED older envelope must be a no-op,
    // and an old delete must not beat the newer state
    val b3 = Seq(
      Cdc("u", 1500L, "u1", "stale"),  // older than stored ts 2001
      Cdc("d", 1400L, "u1", "x")).toDF()
    StreamPipelines.applyCdcBatch(b3, target, Seq("user_id"), batchId = 2L)
    val s3 = dim
    assert(s3 == Map("u1" -> "gold"), s"stale envelope overwrote newer state: $s3")
  }

  test("parseJsonEnvelope: typed parse, PERMISSIVE nulls for malformed/missing fields") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("order_id", StringType), StructField("amount", DoubleType)))
    val raw = Seq(
      """{"order_id":"o1","amount":12.5}""",
      """{"order_id":"o2"}""",            // missing field → null column
      """not json at all""",              // malformed → all-null row
      """{"order_id":"o4","amount":"x"}""" // wrong type → null field
    ).toDF("value").select($"value".cast("binary").as("value")) // Kafka-shaped
    val out = StreamPipelines.parseJsonEnvelope(raw, schema)
    assert(out.columns.toSeq == Seq("order_id", "amount"))
    val rows = out.collect().map(r => (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows(0) == (Some("o1"), Some(12.5)))
    assert(rows(1) == (Some("o2"), None))
    assert(rows(2) == (None, None))      // malformed never kills the batch
    assert(rows(3) == (Some("o4"), None))
  }

  test("headerBody folds non-header columns into a JSON payload") {
    val df = Seq(("e1", "u1", 42L, "ios")).toDF("event_id", "user_id", "watch_ms", "os")
    val out = StreamPipelines.headerBody(df, Seq("event_id", "user_id")).collect().head
    assert(out.getString(0) == "e1" && out.getString(1) == "u1")
    assert(out.getString(2) == """{"watch_ms":42,"os":"ios"}""")
    assert(!out.isNullAt(3)) // ingested_at stamped
  }

  test("dual-sink fan-out: one stream feeds bronze append and gold upsert") {
    implicit val sql = spark.sqlContext
    val dir   = tmpDir("dual")
    val input = MemoryStream[Ord]
    val src   = input.toDF()
    val bronze = src.writeStream.format("parquet")
      .option("path", s"$dir/bronze").option("checkpointLocation", s"$dir/ckptB")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    val gold = StreamPipelines.upsertSinkVersioned(src, s"$dir/gold", s"$dir/ckptG",
      Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"), Seq("amount"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)),
        Ord("u1", t("2024-01-01 10:01:00"), 2L, "paid", None))
      bronze.processAllAvailable(); gold.processAllAvailable()
      assert(spark.read.parquet(s"$dir/bronze").count() == 2) // append keeps history
      assert(SnapshotLog.read(spark, s"$dir/gold").count() == 1) // upsert keeps state
    } finally { bronze.stop(); gold.stop() }
  }

  test("upsertSinkVersioned: each micro-batch is a table version; time travel + expiry work") {
    implicit val sql = spark.sqlContext
    val dir   = tmpDir("versink")
    val input = MemoryStream[Ord]
    val q = StreamPipelines.upsertSinkVersioned(
      input.toDF(), s"$dir/gold", s"$dir/ckpt",
      Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"), Seq("amount"),
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)))
      q.processAllAvailable()
      input.addData(Ord("u1", t("2024-01-01 10:05:00"), 2L, "paid", None),
        Ord("u2", t("2024-01-01 10:06:00"), 3L, "created", Some(20.0)))
      q.processAllAvailable()
      import graft.table.SnapshotLog
      assert(SnapshotLog.versions(spark, s"$dir/gold") == Seq(1, 2))
      // versions are tagged with the live query's incarnation + batch id
      // (the replay-skip marker, bound to the checkpoint-persisted
      // queryId since r14 so a fresh-checkpoint restart never collides)
      assert(SnapshotLog.latestTag(spark, s"$dir/gold")
        .contains(s"batch-${q.id.toString}-1"))
      // v1 = state after batch 1; v2 = merged state with amount carried
      val v1 = SnapshotLog.read(spark, s"$dir/gold", Some(1)).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(v1 == Map("u1" -> "created"))
      val v2 = SnapshotLog.read(spark, s"$dir/gold", Some(2)).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
      assert(v2 == Map("u1" -> ("paid", 10.0), "u2" -> ("created", 20.0)))
      // the recorded schema is the one the segments' footers give
      graft.table.Manifests.assertSchemaMatchesFooters(spark, s"$dir/gold")
      // merge-on-read: batch 2 committed ONLY a delta segment, so v2's
      // manifest still references v1's base — expiring v1 GCs nothing
      val (expired, deleted) = SnapshotLog.expireSnapshots(spark, s"$dir/gold", 1, orphanOlderThanMs = 0L)
      assert(expired == Seq(1) && deleted.isEmpty)
      assert(SnapshotLog.read(spark, s"$dir/gold").count() == 2)
      // compaction folds base+delta into a fresh base; expiring the delta
      // version then releases BOTH old segments
      SnapshotLog.compactLatest(spark, s"$dir/gold")
      val (expired2, deleted2) = SnapshotLog.expireSnapshots(spark, s"$dir/gold", 1, orphanOlderThanMs = 0L)
      assert(expired2 == Seq(2) && deleted2.size == 2)
      assert(SnapshotLog.read(spark, s"$dir/gold").count() == 2)
      graft.table.Manifests.assertSchemaMatchesFooters(spark, s"$dir/gold")
    } finally q.stop()
  }

  test("cdcSinkVersioned: dim history per batch; compaction commits a version") {
    implicit val sql = spark.sqlContext
    val dir   = tmpDir("vercdc")
    val input = MemoryStream[Cdc]
    val q = StreamPipelines.cdcSinkVersioned(input.toDF(), s"$dir/dim", s"$dir/ckpt",
      Seq("user_id"), trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Cdc("c", 1L, "u1", "bronze"), Cdc("c", 2L, "u2", "bronze"))
      q.processAllAvailable()
      input.addData(Cdc("u", 3L, "u1", "gold"), Cdc("d", 4L, "u2", "x"))
      q.processAllAvailable()
      import graft.table.SnapshotLog
      assert(SnapshotLog.versions(spark, s"$dir/dim") == Seq(1, 2))
      // time travel: u2 existed at v1, deleted by v2; u1 upgraded
      val v1 = SnapshotLog.read(spark, s"$dir/dim", Some(1)).collect()
        .map(r => r.getAs[String]("user_id") -> r.getAs[String]("segment")).toMap
      assert(v1 == Map("u1" -> "bronze", "u2" -> "bronze"))
      val v2 = SnapshotLog.read(spark, s"$dir/dim", Some(2)).collect()
        .map(r => r.getAs[String]("user_id") -> r.getAs[String]("segment")).toMap
      assert(v2 == Map("u1" -> "gold"))
      graft.table.Manifests.assertSchemaMatchesFooters(spark, s"$dir/dim")
      // compaction publishes version 3 with identical data
      val v3 = SnapshotLog.compactLatest(spark, s"$dir/dim")
      assert(v3 == 3)
      val after = SnapshotLog.read(spark, s"$dir/dim").collect()
        .map(r => r.getAs[String]("user_id") -> r.getAs[String]("segment")).toMap
      assert(after == v2)
      graft.table.Manifests.assertSchemaMatchesFooters(spark, s"$dir/dim")
    } finally q.stop()
  }

  test("dedupWithinWatermark suppresses redelivery, keeps state bounded by watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ord]
    val q = StreamPipelines.dedupWithinWatermark(
        input.toDF(), "ts", Seq("event_id"), watermark = "10 seconds")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      input.addData(
        Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)),
        Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)), // same-batch dup
        Ord("u2", t("2024-01-01 10:00:01"), 2L, "created", Some(20.0)))
      q.processAllAvailable()
      // cross-batch redelivery within the watermark horizon
      input.addData(Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)))
      q.processAllAvailable()
      val ids = spark.table("dd").collect().map(_.getLong(2)).toSeq.sorted
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("curateIngest drops junk at ingest and dedups redelivered content") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamPipelines.curateIngest(input.toDF(), "ts", "text",
        watermark = "10 seconds", minTokens = 3, maxRepBp = 5000L)
      .writeStream.format("memory").queryName("cur").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "a clean document with enough words"),
        Doc(2L, t("2024-01-01 10:00:00"), "too short"),                       // < 3 tokens
        Doc(3L, t("2024-01-01 10:00:01"), "spam spam spam spam spam spam"),   // rep > 50%
        Doc(4L, t("2024-01-01 10:00:01"), "mail me at bob@example.com now"),  // PII
        Doc(5L, t("2024-01-01 10:00:02"), "a clean document with enough words")) // exact dup of 1
      q.processAllAvailable()
      val kept = spark.table("cur").collect().map(_.getLong(0)).toSeq.sorted
      assert(kept == Seq(1L))
      // a NEW clean document still flows after the dedup state is primed
      input.addData(Doc(6L, t("2024-01-01 10:00:03"), "another clean and different document"))
      q.processAllAvailable()
      assert(spark.table("cur").collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 6L))
    } finally q.stop()
  }

  test("ingestFunnelStats classifies docs by first failing gate per window") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamPipelines.ingestFunnelStats(input.toDF(), "ts", "text",
        watermark = "10 seconds", windowLength = "1 minute",
        minTokens = 3, maxRepBp = 5000L)
      .writeStream.format("memory").queryName("ifs").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "a clean document with enough words"),
        Doc(2L, t("2024-01-01 10:00:00"), "too short"),                      // 2 tokens
        Doc(3L, t("2024-01-01 10:00:01"), "spam spam spam spam spam spam"),  // repetitive
        // PII *and* repetitive: the FIRST failing gate in order wins → repetitive
        Doc(4L, t("2024-01-01 10:00:01"), "x@example.com x@example.com x@example.com x@example.com x@example.com x@example.com"),
        Doc(5L, t("2024-01-01 10:00:02"), "mail me at bob@example.com now"), // pii only
        Doc(6L, t("2024-01-01 10:00:03"), "another clean and different document"))
      q.processAllAvailable()
      assert(spark.table("ifs").count() == 0) // window still open

      input.addData(Doc(9L, t("2024-01-01 10:02:00"), "late window closer document here")) // closes 10:00
      q.processAllAvailable()
      val rows = spark.table("ifs").collect()
        .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(rows == Map(
        "pass"       -> ((2L, 11L)),  // docs 1 (6 tokens) + 6 (5 tokens)
        "too_short"  -> ((1L, 2L)),
        "repetitive" -> ((2L, 12L)),  // docs 3 and 4 (6 tokens each)
        "pii"        -> ((1L, 5L))))
    } finally q.stop()
  }

  test("paragraphDedupStream keeps one occurrence per paragraph within the watermark") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamPipelines.paragraphDedupStream(
        input.toDF(), "ts", "doc_id", "text", paraTokens = 2, watermark = "10 seconds")
      .writeStream.format("memory").queryName("pdd").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "x y a b"),   // paras "x y", "a b"
        Doc(2L, t("2024-01-01 10:00:01"), "x y c d"))   // "x y" is a dup
      q.processAllAvailable()
      val firstBatch = spark.table("pdd").collect().map(_.getString(3)).toSeq.sorted
      assert(firstBatch == Seq("a b", "c d", "x y"))    // 3 distinct paragraphs survive
      // cross-batch redelivery of a known paragraph within the horizon
      input.addData(Doc(3L, t("2024-01-01 10:00:02"), "a b e f"))
      q.processAllAvailable()
      val all = spark.table("pdd").collect().map(_.getString(3)).toSeq.sorted
      assert(all == Seq("a b", "c d", "e f", "x y"))    // "a b" suppressed, "e f" new
    } finally q.stop()
  }

  /** A 3-node graph index for the annServeSink specs: corpus, symmetrized
    * adjacency (persisted; the caller unpersists it) and one entry point.
    */
  private def annIndex() = {
    val cs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.7, 0.7)), (3L, Seq(0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val graph = Seq((1L, 2L), (2L, 3L)).toDF("id", "nbr_id")
    val adj = graph.select(col("id"), col("nbr_id"))
      .unionByName(graph.select(col("nbr_id").as("id"), col("id").as("nbr_id")))
      .distinct().persist()
    adj.count()
    (cs, adj, cs.select(col("vec_id").as("id")).orderBy(col("id")).limit(1))
  }

  /** Runs annServeSink over one batch of `queries` on checkpoint `ckpt`. */
  private def annServeOnce(res: String, ckpt: String, queries: Vec*): Unit = {
    implicit val sql = spark.sqlContext
    val (cs, adj, entries) = annIndex()
    val input = MemoryStream[Vec]
    val q = StreamPipelines.annServeSink(input.toDF(), cs, adj, entries, res, ckpt,
        "vec_id", "embedding", "vec_id", "embedding", k = 1, beam = 2, rounds = 2,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try { input.addData(queries: _*); q.processAllAvailable() }
    finally { q.stop(); adj.unpersist() }
  }

  test("annServeSink answers each query batch from the persisted graph index; " +
    "one tagged version per batch") {
    implicit val sql = spark.sqlContext
    val (cs, adj, entries) = annIndex()
    val out = tmpDir("annserve")
    val input = MemoryStream[Vec]
    val q = StreamPipelines.annServeSink(input.toDF(), cs, adj, entries,
        out + "/res", out + "/ckpt",
        "vec_id", "embedding", "vec_id", "embedding",
        k = 1, beam = 2, rounds = 2,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      input.addData(Vec(100L, Seq(0.0, 1.0)))   // true neighbor is node 3
      q.processAllAvailable()
      val got = SnapshotLog.read(spark, out + "/res")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(got.toSeq == Seq((100L, 3L, 1L)))
      // second batch: a different query lands in its own version
      input.addData(Vec(101L, Seq(1.0, 0.0)))   // true neighbor is node 1
      q.processAllAvailable()
      assert(SnapshotLog.versions(spark, out + "/res") == Seq(1, 2))
      assert(SnapshotLog.tags(spark, out + "/res") ==
        Set(s"batch-${q.id}-0", s"batch-${q.id}-1"))
      val got2 = SnapshotLog.read(spark, out + "/res")
        .filter($"qid" === 101L)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got2.toSeq == Seq((101L, 1L)))
    } finally { q.stop(); adj.unpersist() }
  }

  test("annServeSink: a fresh checkpoint's batch 0 keeps the prior incarnation's answers") {
    // batch ids restart at 0 under a recreated checkpoint, so an output
    // keyed on the batch id alone would let query B's batch 0 replace A's
    val out = tmpDir("annserve-inc")
    annServeOnce(out + "/res", out + "/ckptA", Vec(100L, Seq(0.0, 1.0)))
    annServeOnce(out + "/res", out + "/ckptB", Vec(101L, Seq(1.0, 0.0)))
    val got = SnapshotLog.read(spark, out + "/res")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 3L), (101L, 1L)))
    assert(SnapshotLog.versions(spark, out + "/res") == Seq(1, 2))
  }

  test("affinityTelemetrySink: closed windows emit per-window pair counts; size guards apply at close") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long)]
    val out = tmpDir("afft")
    val q = StreamPipelines.affinityTelemetrySink(
        input.toDF().toDF("ts", "user", "item"), "ts", "user", "item",
        out + "/pairs", out + "/ckpt", maxBasket = 3, minBoth = 1L,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      // window 10:00 baskets: user 1 {10,20,30}; user 2 {10,20} (20 twice
      // → distinct); user 3 {40} (singleton, dropped); user 4 {1,2,3,4}
      // (oversized at maxBasket = 3, dropped)
      input.addData(
        (t("2024-01-01 10:00:05"), 1L, 10L), (t("2024-01-01 10:00:06"), 1L, 20L),
        (t("2024-01-01 10:00:07"), 1L, 30L),
        (t("2024-01-01 10:00:08"), 2L, 10L), (t("2024-01-01 10:00:09"), 2L, 20L),
        (t("2024-01-01 10:00:10"), 2L, 20L),
        (t("2024-01-01 10:00:11"), 3L, 40L),
        (t("2024-01-01 10:00:12"), 4L, 1L), (t("2024-01-01 10:00:13"), 4L, 2L),
        (t("2024-01-01 10:00:14"), 4L, 3L), (t("2024-01-01 10:00:15"), 4L, 4L))
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:02:00"), 9L, 9L)) // close the window
      q.processAllAvailable()
      val got = SnapshotLog.read(spark, out + "/pairs").collect()
        .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      assert(got == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 1L))
      // the streamed counts equal the batch operator over the same baskets
      val batchPairs = graft.ext.Affinity.pairCounts(
          Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L),
            (3L, 40L), (4L, 1L), (4L, 2L), (4L, 3L), (4L, 4L)).toDF("bk", "it"),
          "bk", "it", maxBasket = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == batchPairs)
    } finally q.stop()
  }

  test("attributionTelemetrySink: closed windows emit the batch operator's exact transitions") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Long, String)]
    val out = tmpDir("attrt")
    val q = StreamPipelines.attributionTelemetrySink(
        input.toDF().toDF("ts", "user", "id", "t"), "ts", "user", "id", "t",
        out + "/tr", out + "/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      // user 1: view → click → purchase → view (post-conversion, truncated);
      // user 2: view only (falls to null at close)
      input.addData(
        (t("2024-01-01 10:00:05"), 1L, 1L, "view"),
        (t("2024-01-01 10:00:06"), 1L, 2L, "click"),
        (t("2024-01-01 10:00:07"), 1L, 3L, "purchase"),
        (t("2024-01-01 10:00:08"), 1L, 4L, "view"),
        (t("2024-01-01 10:00:09"), 2L, 5L, "view"))
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:02:00"), 9L, 9L, "view")) // close
      q.processAllAvailable()
      val got = SnapshotLog.read(spark, out + "/tr").collect()
        .map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
      assert(got == Map(
        ("start", "view") -> 2L, ("view", "click") -> 1L,
        ("click", "conv") -> 1L, ("view", "null") -> 1L))
      // bit-identical to the batch operator over the same window's events
      val batch = graft.ext.Attribution.transitionCounts(
        Seq((1L, 1L, 1L, "view"), (1L, 2L, 2L, "click"), (1L, 3L, 3L, "purchase"),
          (1L, 4L, 4L, "view"), (2L, 5L, 5L, "view"))
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", "purchase")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("attributionModelRefresh folds window closes into the batch model; replay no-op") {
    val statePath = tmpDir("attmr") + "/state"
    val channels = Seq("click", "view")
    // window 10:00 — u1 converts, u2 falls to null; window 10:01 — u3
    // converts: journeys never straddle a window, so the cross-window
    // fold must equal the batch model over the union EXACTLY
    val w0 = Seq(
      (t("2024-01-01 10:00:01"), 1L, 1L, "click"),
      (t("2024-01-01 10:00:02"), 1L, 2L, "view"),
      (t("2024-01-01 10:00:03"), 1L, 3L, "purchase"),
      (t("2024-01-01 10:00:04"), 2L, 4L, "view"))
    val w1 = Seq(
      (t("2024-01-01 10:01:01"), 3L, 5L, "click"),
      (t("2024-01-01 10:01:02"), 3L, 6L, "purchase"))
    def closedOf(evs: Seq[(Timestamp, Long, Long, String)]) =
      evs.toDF("ts", "user", "id", "t")
        .groupBy(window(col("ts"), "1 minute"), col("user"))
        .agg(sort_array(collect_list(struct(col("ts").as("ts"),
          col("id").as("id"), col("t").as("t")))).as("evs"))
        .select(col("window.start").as("window_start"), col("evs"))
    StreamPipelines.attributionModelRefreshIngestBatch(
      closedOf(w0), statePath, 0L, channels)
    StreamPipelines.attributionModelRefreshIngestBatch(
      closedOf(w1), statePath, 1L, channels)
    // the folded matrix equals the batch transition counts over the union
    def matrix = SnapshotLog.read(spark, statePath).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bcnt = graft.ext.Attribution.transitionCounts(
        (w0 ++ w1).toDF("ts", "user", "id", "t"),
        "user", "ts", "id", "t", "purchase")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(matrix == bcnt)
    // the re-emitted effects equal markovRemovalEffects row for row
    def effRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def effects = effRows(SnapshotLog.read(spark, statePath + "/effects"))
    val live = effects
    val batch = effRows(graft.ext.Attribution.markovRemovalEffects(
      (w0 ++ w1).toDF("ts", "user", "id", "t"), "user", "ts", "id", "t",
      channels, convType = "purchase"))
    assert(live == batch)
    assert(live.nonEmpty && live.values.exists(_._3 > 0L)) // non-trivial model
    // replay of batch 1: detected by its batch tag — no new version
    StreamPipelines.attributionModelRefreshIngestBatch(
      closedOf(w1), statePath, 1L, channels)
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
    assert(SnapshotLog.tags(spark, statePath) == Set("batch-0", "batch-1"))
    assert(SnapshotLog.tags(spark, statePath + "/effects") == Set("batch-0", "batch-1"))
    // crash between the two commits: the matrix version committed, the
    // effects version did not — the replay must commit it from the
    // tagged matrix instead of no-opping one model behind
    unpublishLatest(statePath + "/effects")
    assert(SnapshotLog.tags(spark, statePath + "/effects") == Set("batch-0"))
    StreamPipelines.attributionModelRefreshIngestBatch(
      closedOf(w1), statePath, 1L, channels)
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
    assert(effects == batch)
    // a TORN matrix version (its segment written, its manifest never
    // published) is invisible: the retry folds from v1 again rather than
    // from the torn rows
    unpublishLatest(statePath)
    unpublishLatest(statePath + "/effects")
    StreamPipelines.attributionModelRefreshIngestBatch(
      closedOf(w1), statePath, 1L, channels)
    assert(matrix == bcnt, "the rewritten fold must equal the batch counts")
    assert(effects == batch)
    // a stray dir under the root is neither read nor deleted
    val stray = new java.io.File(statePath + "/very_bad")
    stray.mkdirs()
    val w2 = Seq(
      (t("2024-01-01 10:02:01"), 9L, 9L, "click"),
      (t("2024-01-01 10:02:02"), 9L, 10L, "purchase"))
    StreamPipelines.attributionModelRefreshIngestBatch(
      closedOf(w2), statePath, 2L, channels)
    assert(stray.exists, "stray dirs must be left untouched")
    assert(SnapshotLog.latestTag(spark, statePath).contains("batch-2"),
      "the batch must still fold a new version beside the stray dir")
  }

  test("mixtureWeightsRefresh folds window moments into the batch optimizer; replay no-op") {
    val statePath = tmpDir("mwref") + "/state"
    // window closes carry per-domain (count, loss-sum) moments; moments
    // are sums, so the fold must equal the batch operator over the union
    val w0 = Seq(("A", 0L), ("A", 0L), ("B", 2000L))
    val w1 = Seq(("B", 4000L), ("A", 0L))
    def closedOf(rows: Seq[(String, Long)], start: Long) =
      rows.toDF("domain", "loss")
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("loss")).as("loss_sum"))
        .withColumn("window_start", lit(start))
        .select(col("window_start"), col("domain"), col("n_docs"), col("loss_sum"))
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      closedOf(w0, 0L), statePath, 0L, rounds = 2, etaMilli = 500L)
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      closedOf(w1, 1L), statePath, 1L, rounds = 2, etaMilli = 500L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def weights = rows(SnapshotLog.read(spark, statePath + "/weights"))
    val live = weights
    val batch = rows(graft.ext.Sampling.mwDomainWeights(
      (w0 ++ w1).toDF("domain", "loss"), "domain", "loss",
      rounds = 2, etaMilli = 500L))
    assert(live == batch, s"live=$live batch=$batch")
    // the hand-walked case: A has 3 docs of loss 0, B mean 3000 — the
    // same trajectory as the batch unit test
    assert(live("B")._2 == 3000L && live("B")._4 > live("A")._4)
    // replay of batch 1: detected by its batch tag — no new version
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      closedOf(w1, 1L), statePath, 1L, rounds = 2, etaMilli = 500L)
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
    assert(SnapshotLog.tags(spark, statePath) == Set("batch-0", "batch-1"))
    // crash between the two commits: the replay commits the missing
    // weights version from the tagged moment matrix
    unpublishLatest(statePath + "/weights")
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      closedOf(w1, 1L), statePath, 1L, rounds = 2, etaMilli = 500L)
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
    assert(SnapshotLog.tags(spark, statePath + "/weights") == Set("batch-0", "batch-1"))
    assert(weights == batch)
  }

  test("simhashDedupIngestBatch drops near-dups vs batch AND index; replay converges") {
    val indexPath = tmpDir("shidx") + "/index"
    def indexIds = SnapshotLog.read(spark, indexPath).collect().map(_.getLong(0)).toSet
    // batch 1: 2 is an exact dup of 1 (dropped, first-wins by id);
    // 3 is unrelated (admitted)
    StreamPipelines.simhashDedupIngestBatch(
      Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "z y x w v u"))
        .toDF("doc_id", "text"),
      "doc_id", "text", indexPath, batchId = 0L)
    assert(indexIds == Set(1L, 3L))
    // batch 2: 5 duplicates INDEXED 1 (dropped), 1 redelivers (no-op),
    // 7 is fresh
    StreamPipelines.simhashDedupIngestBatch(
      Seq((5L, "a b c d e f"), (1L, "a b c d e f"), (7L, "q w e r t y"))
        .toDF("doc_id", "text"),
      "doc_id", "text", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    // replay of batch 2 is an exact no-op — its tag already committed
    StreamPipelines.simhashDedupIngestBatch(
      Seq((5L, "a b c d e f"), (1L, "a b c d e f"), (7L, "q w e r t y"))
        .toDF("doc_id", "text"),
      "doc_id", "text", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    assert(SnapshotLog.read(spark, indexPath).count() == 3L)
    assert(SnapshotLog.tags(spark, indexPath) == Set("batch-0", "batch-1"))
  }

  test("dhashDedupIngestBatch drops perceptual near-dups vs batch AND index; replay converges") {
    val indexPath = tmpDir("dhidx") + "/index"
    def indexIds = SnapshotLog.read(spark, indexPath).collect().map(_.getLong(0)).toSet
    val base  = (1 to 400).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    // brightness shift: perceptually identical (hamming 0, the dhash spec
    // invariant) — the re-encode survivor the md5 tier cannot catch
    val tweak = base.map(c => (c + 1).toChar)
    val other = (1 to 400).map(i => ('a' + (i * 11 % 26)).toChar).mkString
    val third = (1 to 400).map(i => ('a' + (i * 13 % 26)).toChar).mkString
    // batch 1: 2 is a perceptual twin of 1 (dropped, first-wins by id);
    // 3 is unrelated (admitted)
    StreamPipelines.dhashDedupIngestBatch(
      Seq((1L, base), (2L, tweak), (3L, other)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L)
    assert(indexIds == Set(1L, 3L))
    // batch 2: 5 twins INDEXED 1 (dropped), 1 redelivers (no-op), 7 fresh
    StreamPipelines.dhashDedupIngestBatch(
      Seq((5L, tweak), (1L, base), (7L, third)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    // replay of batch 2 is an exact no-op — its tag already committed
    StreamPipelines.dhashDedupIngestBatch(
      Seq((5L, tweak), (1L, base), (7L, third)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    assert(SnapshotLog.read(spark, indexPath).count() == 3L)
    assert(SnapshotLog.tags(spark, indexPath) == Set("batch-0", "batch-1"))
  }

  test("videoDhashDedupIngestBatch frame-votes containers vs batch AND index; replay converges") {
    val indexPath = tmpDir("vdhidx") + "/index"
    def indexDf  = SnapshotLog.read(spark, indexPath)
    def indexIds = indexDf.collect().map(_.getLong(0)).toSet
    val base  = (1 to 800).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    val twin  = base.map(c => (c + 1).toChar)          // all 4 frames vote at 0
    val other = (1 to 800).map(i => ('a' + (i * 11 % 26)).toChar).mkString
    val third = (1 to 800).map(i => ('a' + (i * 13 % 26)).toChar).mkString
    // batch 1: 2 is a container twin of 1 (dropped); 3 unrelated (admitted)
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((1L, base), (2L, twin), (3L, other)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L)
    assert(indexIds == Set(1L, 3L))
    // the index holds n frame rows per admitted container
    assert(indexDf.count() == 8L)
    // batch 2: 5 twins INDEXED 1 (dropped), 1 redelivers (no-op), 7 fresh
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((5L, twin), (1L, base), (7L, third)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    // replay of batch 2 is an exact no-op — its tag already committed
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((5L, twin), (1L, base), (7L, third)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    assert(indexDf.count() == 12L)
    assert(SnapshotLog.tags(spark, indexPath) == Set("batch-0", "batch-1"))
    // torn write: a crashed batch 2 wrote a segment holding only a subset
    // of container 9's frame rows and never published it. The reader must
    // not surface the partial container; the retry must admit ALL of 9's
    // frame rows.
    val fourth = (1 to 800).map(i => ('a' + (i * 17 % 26)).toChar).mkString
    graft.ext.Multimodal.videoFrameFingerprints(
        Seq((9L, fourth)).toDF("doc_id", "payload"), "doc_id", "payload",
        n = 4, frameBytes = 96)
      .limit(2).write.parquet(s"$indexPath/data/seg-torn")
    assert(indexIds == Set(1L, 3L, 7L)) // torn rows invisible to readers
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((9L, fourth)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 2L)
    assert(indexIds == Set(1L, 3L, 7L, 9L))
    assert(indexDf.filter($"id" === 9L).count() == 4L) // full, not partial
  }

  test("audioChromaDedupIngestBatch window-votes containers vs batch AND index; replay converges") {
    val indexPath = tmpDir("acidx") + "/index"
    def indexDf  = SnapshotLog.read(spark, indexPath)
    def indexIds = indexDf.collect().map(_.getLong(0)).toSet
    val base  = (1 to 800).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    // uniform code shift: every band energy moves by exactly +1, so every
    // spectral gradient — and therefore every temporal gradient delta —
    // is unchanged: all 5 windows vote at hamming 0 (the chroma spec
    // invariant, the audio analogue of the dhash brightness shift)
    val twin  = base.map(c => (c + 1).toChar)
    val other = (1 to 800).map(i => ('a' + (i * 11 % 26)).toChar).mkString
    val third = (1 to 800).map(i => ('a' + (i * 13 % 26)).toChar).mkString
    // batch 1: 2 is a container twin of 1 (dropped); 3 unrelated (admitted)
    StreamPipelines.audioChromaDedupIngestBatch(
      Seq((1L, base), (2L, twin), (3L, other)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L)
    assert(indexIds == Set(1L, 3L))
    // the index holds n−1 window rows per admitted container
    assert(indexDf.count() == 10L)
    // batch 2: 5 twins INDEXED 1 (dropped), 1 redelivers (no-op), 7 fresh
    StreamPipelines.audioChromaDedupIngestBatch(
      Seq((5L, twin), (1L, base), (7L, third)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    // replay of batch 2 is an exact no-op — its tag already committed
    StreamPipelines.audioChromaDedupIngestBatch(
      Seq((5L, twin), (1L, base), (7L, third)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L)
    assert(indexIds == Set(1L, 3L, 7L))
    assert(indexDf.count() == 15L)
    assert(SnapshotLog.tags(spark, indexPath) == Set("batch-0", "batch-1"))
    // torn write: a crashed batch left an unpublished segment holding a
    // SUBSET of container 9's window rows — invisible to readers, then
    // re-admitted complete by the retry.
    val fourth = (1 to 800).map(i => ('a' + (i * 17 % 26)).toChar).mkString
    graft.ext.Multimodal.audioWindowFingerprints(
        Seq((9L, fourth)).toDF("doc_id", "payload"), "doc_id", "payload",
        n = 6)
      .limit(2).write.parquet(s"$indexPath/data/seg-torn")
    assert(indexIds == Set(1L, 3L, 7L)) // torn rows invisible to readers
    StreamPipelines.audioChromaDedupIngestBatch(
      Seq((9L, fourth)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 2L)
    assert(indexIds == Set(1L, 3L, 7L, 9L))
    assert(indexDf.filter($"id" === 9L).count() == 5L) // full, not partial
  }

  test("segmented dedup index: a fresh incarnation's restarted batch ids never " +
    "collide with a prior incarnation's segments") {
    // The r13 hazard: batch ids restart at 0 under a recreated checkpoint,
    // and an unbound replay check (`any b0 committed → no-op`) silently
    // skipped the new incarnation's entire batch 0 — data loss. Bound
    // tags key the replay on (incarnation, batchId).
    val indexPath = tmpDir("vreidx") + "/index"
    def indexIds = SnapshotLog.read(spark, indexPath)
      .collect().map(_.getLong(0)).toSet
    val base  = (1 to 800).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    val other = (1 to 800).map(i => ('a' + (i * 11 % 26)).toChar).mkString
    val third = (1 to 800).map(i => ('a' + (i * 13 % 26)).toChar).mkString
    // incarnation A ingests batches 0 and 1
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((1L, base)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L, incarnation = Some("runA"))
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((3L, other)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 1L, incarnation = Some("runA"))
    assert(indexIds == Set(1L, 3L))
    // incarnation B (fresh checkpoint): its batch 0 MUST process — fresh
    // container admitted, twin of an indexed container still dropped
    val twin = base.map(c => (c + 1).toChar)
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((7L, third), (8L, twin)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L, incarnation = Some("runB"))
    assert(indexIds == Set(1L, 3L, 7L))
    // replay of B's batch 0 is still an exact no-op
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((7L, third), (8L, twin)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L, incarnation = Some("runB"))
    assert(indexIds == Set(1L, 3L, 7L))
    // and an UNBOUND direct-API batch 0 is yet another key — processed
    val fourth = (1 to 800).map(i => ('a' + (i * 17 % 26)).toChar).mkString
    StreamPipelines.videoDhashDedupIngestBatch(
      Seq((9L, fourth)).toDF("doc_id", "payload"),
      "doc_id", "payload", indexPath, batchId = 0L)
    assert(indexIds == Set(1L, 3L, 7L, 9L))
    assert(SnapshotLog.tags(spark, indexPath) ==
      Set("batch-runA-0", "batch-runA-1", "batch-runB-0", "batch-0"))
  }

  private lazy val gateWeights: Seq[Long] = {
    val corpus = Seq(
      (1L, "the quick fox of the hill and the dale went to a town", 1L),
      (2L, "xx1! yy2@ zz3# qq4$ ww5% vv6^ uu7& tt8* ss9( rr0)", 0L)
    ).toDF("doc_id", "text", "label")
    val feats = graft.ext.Classifier.lrFeatures(corpus, "doc_id", "text",
      col("label") === 1L).persist()
    try graft.ext.Classifier.lrTrain(feats, iters = 4) finally feats.unpersist()
  }

  private lazy val sinkCases: Seq[SinkCase] = {
    def payload(k: Int) = (1 to 800).map(i => ('a' + (i * Seq(7, 11, 13)(k) % 26)).toChar).mkString
    def container(k: Int) = Seq((k + 1L, payload(k))).toDF("doc_id", "payload")
    def journeys(k: Int) = Seq(
        Seq((1L, "click"), (2L, "purchase")),
        Seq((3L, "view")),
        Seq((4L, "click"), (5L, "view"), (6L, "purchase")))(k)
      .map { case (id, ty) => (t("2024-01-01 10:00:00"), k.toLong, id, ty) }
      .toDF("ts", "user", "id", "t")
      .groupBy(window(col("ts"), "1 minute"), col("user"))
      .agg(sort_array(collect_list(struct(col("ts").as("ts"),
        col("id").as("id"), col("t").as("t")))).as("evs"))
      .select(col("window.start").as("window_start"), col("evs"))
    // semantic: pairwise cosine below its 0.95 threshold, so all admit;
    // kNN: one sign bucket, so every batch emits edges
    def vectors(k: Int) = Seq(
        Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.6, 0.8)),
        Seq(3L -> Seq(0.0, 1.0)),
        Seq(4L -> Seq(0.8, -0.6)))(k)
      .toDF("vec_id", "embedding")
    def knnVectors(k: Int) = Seq(
        Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1)),
        Seq(3L -> Seq(0.89, 0.11)),
        Seq(4L -> Seq(1.0, 0.01)))(k)
      .toDF("vec_id", "embedding")
    Seq(
      SinkCase("videoDhashDedupIngestBatch", Seq("index"), (root, k, b, inc) =>
        StreamPipelines.videoDhashDedupIngestBatch(container(k), "doc_id", "payload",
          s"$root/index", b, incarnation = inc)),
      SinkCase("audioChromaDedupIngestBatch", Seq("index"), (root, k, b, inc) =>
        StreamPipelines.audioChromaDedupIngestBatch(container(k), "doc_id", "payload",
          s"$root/index", b, incarnation = inc)),
      SinkCase("conformalGateIngestBatch", Seq("out"), (root, k, b, inc) =>
        StreamPipelines.conformalGateIngestBatch(
          Seq((k + 1L, Seq("the quick fox of the hill and the dale",
            "a cat and a dog sat on the mat", "xx1! yy2@ zz3# qq4$ ww5%")(k)))
            .toDF("doc_id", "text"),
          "doc_id", "text", gateWeights, s"$root/state", s"$root/out", b,
          incarnation = inc)),
      SinkCase("conformalRefreshIngestBatch", Seq("state", "state/qhat"), (root, k, b, inc) =>
        StreamPipelines.conformalRefreshIngestBatch(
          Seq(Seq((0L, 250000L), (0L, 300000L)), Seq((1L, 700000L)), Seq((0L, 400000L)))(k)
            .toDF("y", "p_ppm"), s"$root/state", b, incarnation = inc)),
      SinkCase("attributionModelRefreshIngestBatch", Seq("state", "state/effects"),
        (root, k, b, inc) =>
          StreamPipelines.attributionModelRefreshIngestBatch(
            journeys(k), s"$root/state", b, Seq("click", "view"), incarnation = inc)),
      SinkCase("mixtureWeightsRefreshIngestBatch", Seq("state", "state/weights"),
        (root, k, b, inc) =>
          StreamPipelines.mixtureWeightsRefreshIngestBatch(
            Seq(Seq(("A", 2L, 0L), ("B", 1L, 2000L)), Seq(("B", 1L, 4000L)),
              Seq(("C", 3L, 300L)))(k).map { case (d, n, l) => (0L, d, n, l) }
              .toDF("window_start", "domain", "n_docs", "loss_sum"),
            s"$root/state", b, rounds = 2, etaMilli = 500L, incarnation = inc)),
      SinkCase("kmeansUpdateIngestBatch", Seq("state"), (root, k, b, inc) =>
          StreamPipelines.kmeansUpdateIngestBatch(
            Seq(Seq((101L, Array(0.8f, 0.2f))), Seq((102L, Array(0f, 1f))),
              Seq((103L, Array(0.6f, 0f))))(k).toDF("vec_id", "embedding"),
            "vec_id", "embedding", s"$root/state", b, incarnation = inc),
        seed = root => StreamPipelines.seedKmeansState(
          Seq((0L, 1L, 10000L), (0L, 2L, 0L), (1L, 1L, 0L), (1L, 2L, 10000L))
            .toDF("label", "dim", "c_bp"),
          Seq((0L, 3L), (1L, 5L)).toDF("label", "n"), s"$root/state")),
      SinkCase("simhashDedupIngestBatch", Seq("index"), (root, k, b, inc) =>
        StreamPipelines.simhashDedupIngestBatch(
          Seq((k + 1L, Seq("the quick fox of the hill and the dale",
            "a cat and a dog sat on the mat", "xx1 yy2 zz3 qq4 ww5 vv6 uu7")(k)))
            .toDF("doc_id", "text"),
          "doc_id", "text", s"$root/index", b, incarnation = inc)),
      SinkCase("dhashDedupIngestBatch", Seq("index"), (root, k, b, inc) =>
        StreamPipelines.dhashDedupIngestBatch(container(k), "doc_id", "payload",
          s"$root/index", b, incarnation = inc)),
      SinkCase("semanticDedupIngestBatch", Seq("index"), (root, k, b, inc) =>
        StreamPipelines.semanticDedupIngestBatch(vectors(k), "vec_id", "embedding",
          Seq((0L, 1L, 10000L), (0L, 2L, 0L), (1L, 1L, 0L), (1L, 2L, 10000L))
            .toDF("label", "dim", "c_bp"),
          s"$root/index", b, threshold = 0.95, incarnation = inc)),
      SinkCase("knnGraphIngestBatch", Seq("edges", "index"), (root, k, b, inc) =>
        StreamPipelines.knnGraphIngestBatch(knnVectors(k), "vec_id", "embedding",
          k = 2, bits = 1, s"$root/index", s"$root/edges", b, incarnation = inc)),
      SinkCase("knnGraphAdjacencyIngestBatch", Seq("edges", "adj", "index"),
        (root, k, b, inc) =>
          StreamPipelines.knnGraphAdjacencyIngestBatch(knnVectors(k), "vec_id", "embedding",
            k = 2, bits = 1, s"$root/index", s"$root/edges", s"$root/adj", b,
            incarnation = inc)),
      SinkCase("audienceSketchIngestBatch", Seq("sketch"), (root, k, b, inc) =>
        StreamPipelines.audienceSketchIngestBatch(
          Seq(("A", 1 to 10), ("B", 1 to 5), ("A", 11 to 15))(k) match {
            case (key, ms) => ms.map(m => (key, m.toLong)).toDF("key", "member")
          },
          "key", "member", 32, s"$root/sketch", b, incarnation = inc)),
      SinkCase("upsertBatch", Seq("gold"), (root, k, b, inc) =>
        StreamPipelines.upsertBatch(
          Seq(Ord("u1", t("2024-01-01 10:00:00"), 1L, "created", Some(10.0)),
            Ord("u1", t("2024-01-01 10:05:00"), 2L, "paid", None),
            Ord("u2", t("2024-01-01 10:06:00"), 3L, "created", Some(20.0)))
            .slice(k, k + 1).toDF(),
          s"$root/gold", Seq("user_id"), "ts", Seq("event_id"), Seq("event_type"),
          Seq("amount"), b, inc)),
      SinkCase("applyCdcBatch", Seq("dim"), (root, k, b, inc) =>
        StreamPipelines.applyCdcBatch(
          Seq(Seq(Cdc("c", 1L, "u1", "bronze"), Cdc("c", 2L, "u2", "bronze")),
            Seq(Cdc("u", 3L, "u1", "gold")), Seq(Cdc("d", 4L, "u2", "x")))(k).toDF(),
          s"$root/dim", Seq("user_id"), b, incarnation = inc))
    )
  }

  /** Per table of `c` under `root`: its versions and its rows. */
  private def tableStates(c: SinkCase, root: String): Seq[(Seq[Int], Seq[String])] =
    c.tables.map { t =>
      val path = s"$root/$t"
      (SnapshotLog.versions(spark, path),
        SnapshotLog.read(spark, path).collect().map(_.toString).sorted.toSeq)
    }

  private def allTagged(c: SinkCase, root: String, tag: String): Boolean =
    c.tables.forall(t => SnapshotLog.tags(spark, s"$root/$t").contains(tag))

  /** Batches 0 and 1 of incarnation A, a replay of A's batch 0 between
    * them, then batch 2 as incarnation B's batch 0, with no crash;
    * returns each table's final rows.
    */
  private def uncrashedRun(c: SinkCase, root: String): Seq[Seq[String]] = {
    c.seed(root)
    c.ingest(root, 0, 0L, Some("runA"))
    assert(allTagged(c, root, "batch-runA-0"), s"${c.name}: batch 0 must commit")
    val afterFirst = tableStates(c, root)
    c.ingest(root, 0, 0L, Some("runA"))
    assert(tableStates(c, root) == afterFirst, s"${c.name}: a replay must be a no-op")
    c.ingest(root, 1, 1L, Some("runA"))
    c.ingest(root, 2, 0L, Some("runB"))
    assert(allTagged(c, root, "batch-runA-1") && allTagged(c, root, "batch-runB-0"),
      s"${c.name}: every batch must commit")
    tableStates(c, root).map(_._2)
  }

  private val uncrashed = scala.collection.mutable.Map.empty[String, Seq[Seq[String]]]

  /** The final rows of `c`'s uncrashed run, with `_SUCCESS` markers on. */
  private def reference(c: SinkCase): Seq[Seq[String]] =
    uncrashed.getOrElseUpdate(c.name, uncrashedRun(c, tmpDir(s"ref-${c.name}")))

  /** The crash matrix of one SnapshotLog sink: a replay of the same
    * (incarnation, batch) is a no-op; a batch that crashed after writing
    * its segment but before its manifest claim leaves an orphan segment
    * readers never see, and the retry commits; a fresh incarnation's
    * batch 0 is folded, not skipped as a replay of the prior one's.
    */
  private def crashMatrix(c: SinkCase): Unit = {
    val root = tmpDir(s"crash-${c.name}")
    c.seed(root)
    c.ingest(root, 0, 0L, Some("runA"))
    val afterFirst = tableStates(c, root)
    c.ingest(root, 0, 0L, Some("runA"))
    assert(tableStates(c, root) == afterFirst, s"${c.name}: a replay must be a no-op")
    // batch 1 crashes after its segment writes: each table gets a segment
    // (a copy of its visible rows) that no manifest references
    c.tables.foreach { t =>
      SnapshotLog.read(spark, s"$root/$t").write.parquet(s"$root/$t/data/seg-orphan")
    }
    assert(tableStates(c, root) == afterFirst, s"${c.name}: an orphan segment must be invisible")
    c.ingest(root, 1, 1L, Some("runA"))
    assert(allTagged(c, root, "batch-runA-1"), s"${c.name}: the retry must commit")
    assert(tableStates(c, root).map(_._1.size) == afterFirst.map(_._1.size + 1))
    val beforeFresh = tableStates(c, root)
    c.ingest(root, 2, 0L, Some("runB"))
    assert(allTagged(c, root, "batch-runB-0"), s"${c.name}: incarnation B's batch 0 must commit")
    tableStates(c, root).zip(beforeFresh).foreach { case (after, before) =>
      assert(after._2 != before._2, s"${c.name}: incarnation B's batch 0 must be folded")
    }
    assert(tableStates(c, root).map(_._2) == reference(c),
      s"${c.name}: the crashed run must end where the uncrashed run does")
  }

  /** The names of [[sinkCases]], one crash-matrix test each. */
  private val crashCaseNames = Seq(
    "videoDhashDedupIngestBatch", "audioChromaDedupIngestBatch", "conformalGateIngestBatch",
    "conformalRefreshIngestBatch", "attributionModelRefreshIngestBatch",
    "mixtureWeightsRefreshIngestBatch", "kmeansUpdateIngestBatch",
    "simhashDedupIngestBatch", "dhashDedupIngestBatch", "semanticDedupIngestBatch",
    "knnGraphIngestBatch", "knnGraphAdjacencyIngestBatch", "audienceSketchIngestBatch",
    "upsertBatch", "applyCdcBatch")

  crashCaseNames.foreach { name =>
    test(s"crash matrix: $name — replay no-op, orphan segment invisible, fresh incarnation folds") {
      crashMatrix(sinkCases.find(_.name == name).get)
    }
  }

  test("every public *IngestBatch function of StreamPipelines has a crash-matrix case") {
    val ingest = StreamPipelines.getClass.getMethods.map(_.getName)
      .filter(_.endsWith("IngestBatch")).toSet
    assert(ingest.size >= 13, s"reflection found too few ingest functions: $ingest")
    assert(sinkCases.map(_.name) == crashCaseNames)
    val missing = ingest -- crashCaseNames
    assert(missing.isEmpty, s"ingest functions without a SinkCase: ${missing.mkString(", ")}")
  }

  test("with _SUCCESS markers off, every SnapshotLog sink commits, replays as a no-op " +
    "and reads back") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    sinkCases.foreach(reference) // the reference runs write markers
    conf.setBoolean(key, false)
    try sinkCases.foreach { c =>
      val root = tmpDir(s"nomark-${c.name}")
      assert(uncrashedRun(c, root) == reference(c), s"${c.name}: reads differ without markers")
      val markers = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try assert(!markers.anyMatch(_.getFileName.toString == "_SUCCESS"),
        s"${c.name}: the markers setting must reach the writes")
      finally markers.close()
    } finally conf.setBoolean(key, true)
  }

  test("versioned refresh sinks key replay on (incarnation, batchId) and " +
    "fold across incarnations") {
    val statePath = tmpDir("mwinc") + "/state"
    def batchOf(rows: (String, Long, Long)*) =
      rows.toDF("domain", "n_docs", "loss_sum")
    def moments(v: Int) = SnapshotLog.read(spark, statePath, Some(v))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      batchOf(("web", 10L, 40L)), statePath, batchId = 0L,
      incarnation = Some("runA"))
    assert(SnapshotLog.taggedVersion(spark, statePath, "batch-runA-0").contains(1))
    assert(moments(1) == Map("web" -> ((10L, 40L))))
    // incarnation B's batch 0 folds on top of A's latest — NOT a replay
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      batchOf(("web", 5L, 10L), ("code", 2L, 8L)), statePath, batchId = 0L,
      incarnation = Some("runB"))
    assert(SnapshotLog.taggedVersion(spark, statePath, "batch-runB-0").contains(2))
    assert(moments(2) ==
      Map("web" -> ((15L, 50L)), "code" -> ((2L, 8L))))
    // replaying B's batch 0 IS a no-op (no v3 appears)
    StreamPipelines.mixtureWeightsRefreshIngestBatch(
      batchOf(("web", 5L, 10L), ("code", 2L, 8L)), statePath, batchId = 0L,
      incarnation = Some("runB"))
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
  }

  test("kmeansUpdateIngestBatch keys replay on (incarnation, batchId): a fresh " +
    "incarnation's batch 0 folds instead of silently skipping") {
    val statePath = tmpDir("kminc") + "/state"
    val cents = Seq((0L, 1L, 10000L), (0L, 2L, 0L)).toDF("label", "dim", "c_bp")
    val counts = Seq((0L, 3L)).toDF("label", "n")
    StreamPipelines.seedKmeansState(cents, counts, statePath)
    val b = Seq((101L, Array(0.8f, 0.2f))).toDF("vec_id", "embedding")
    StreamPipelines.kmeansUpdateIngestBatch(b, "vec_id", "embedding",
      statePath, batchId = 0L, incarnation = Some("runA"))
    // incarnation B restarts batch ids at 0 (fresh checkpoint): its fold
    // MUST land — the pre-r14 bare-batchId key silently skipped it
    StreamPipelines.kmeansUpdateIngestBatch(b, "vec_id", "embedding",
      statePath, batchId = 0L, incarnation = Some("runB"))
    // replay WITHIN incarnation B is still an exact no-op
    StreamPipelines.kmeansUpdateIngestBatch(b, "vec_id", "embedding",
      statePath, batchId = 0L, incarnation = Some("runB"))
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2, 3))
    assert(SnapshotLog.tags(spark, statePath) == Set("seed", "batch-runA-0", "batch-runB-0"))
    // both folds really applied: label-0's running count is 3 + 1 + 1
    val n = SnapshotLog.read(spark, statePath)
      .filter($"label" === 0L).select($"n").distinct().collect().map(_.getLong(0)).toSeq
    assert(n == Seq(5L), s"both incarnations' folds must count: $n")
  }

  test("conformalRefreshIngestBatch: folded spine q̂ equals the union's order " +
    "statistic; replay no-ops; torn versions and missing quantile tables repair") {
    val statePath = tmpDir("cref") + "/state"
    val alphas = Seq(5L, 10L, 20L)
    // expected q̂ computed the splitConformal way over the raw union
    def qhatOf(ss: Seq[Long], alpha: Long): Long = {
      val n = ss.size; val k = ((n + 1) * (100 - alpha) + 99) / 100
      if (k <= n) ss.sorted.apply((k - 1).toInt) else 1000001L
    }
    def qhatTable = SnapshotLog.read(spark, statePath + "/qhat")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // batch 0: y = 0 rows, so s = p_ppm directly
    val s0 = (22 to 30).map(_ * 10000L)
    StreamPipelines.conformalRefreshIngestBatch(
      s0.map(s => (0L, s)).toDF("y", "p_ppm"), statePath, batchId = 0L,
      alphas, incarnation = Some("runA"))
    assert(qhatTable == alphas.map(a => a -> qhatOf(s0, a)).toMap)
    // batch 1: y = 1 rows, so s = 1e6 − p_ppm; the FOLDED spine must
    // reproduce the union's order statistic exactly
    val s1 = (0 to 9).map(i => 205000L + i * 10000L)
    StreamPipelines.conformalRefreshIngestBatch(
      s1.map(s => (1L, 1000000L - s)).toDF("y", "p_ppm"), statePath,
      batchId = 1L, alphas, incarnation = Some("runA"))
    val expectedUnion = alphas.map(a => a -> qhatOf(s0 ++ s1, a)).toMap
    assert(qhatTable == expectedUnion)
    // replay of batch 1 is a no-op — no v3 appears, table unchanged
    StreamPipelines.conformalRefreshIngestBatch(
      s1.map(s => (1L, 1000000L - s)).toDF("y", "p_ppm"), statePath,
      batchId = 1L, alphas, incarnation = Some("runA"))
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
    assert(SnapshotLog.tags(spark, statePath) == Set("batch-runA-0", "batch-runA-1"))
    // crash window: the fold committed but the quantile table's commit
    // did not — the replayed batch repairs it instead of silently no-opping
    unpublishLatest(statePath + "/qhat")
    assert(qhatTable == alphas.map(a => a -> qhatOf(s0, a)).toMap)
    StreamPipelines.conformalRefreshIngestBatch(
      s1.map(s => (1L, 1000000L - s)).toDF("y", "p_ppm"), statePath,
      batchId = 1L, alphas, incarnation = Some("runA"))
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))
    assert(qhatTable == expectedUnion)
    // torn version: a crashed batch 2 wrote its spine segment but never
    // published it — invisible to the quantile lookup and the next fold
    s0.map(s => (s, 1L)).toDF("s", "c")
      .write.parquet(statePath + "/data/seg-torn")
    assert(qhatTable == expectedUnion) // torn v3 never serves reads
    val s2 = Seq(400000L, 410000L, 420000L)
    StreamPipelines.conformalRefreshIngestBatch(
      s2.map(s => (0L, s)).toDF("y", "p_ppm"), statePath, batchId = 2L,
      alphas, incarnation = Some("runA"))
    assert(qhatTable == alphas.map(a => a -> qhatOf(s0 ++ s1 ++ s2, a)).toMap)
  }

  test("streaming sinks bind their versions/segments to the LIVE query's id") {
    // the incarnation token comes from the `sql.streaming.queryId` local
    // property stream execution sets on the micro-batch thread; if that
    // key ever drifts, streamIncarnation silently degrades to unbound
    // tags and the fresh-checkpoint collision protection is inert — so
    // this pin drives a REAL stream and asserts the committed tag carries
    // the runner's actual queryId
    implicit val sql = spark.sqlContext
    val statePath = tmpDir("incpin") + "/state"
    val input = MemoryStream[(Long, Long)]
    val q = StreamPipelines.conformalRefreshSink(
        input.toDF().toDF("y", "p_ppm"), statePath, tmpDir("incpin-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .start()
    try {
      input.addData((0L, 250000L), (0L, 300000L))
      q.processAllAvailable()
      val tags = SnapshotLog.tags(spark, statePath)
      val expected = s"batch-${q.id.toString}-0"
      assert(tags == Set(expected),
        s"sink-written version must carry the live queryId: $tags vs $expected")
    } finally q.stop()
  }

  test("conformalGateRefreshingSink: a recalibration changes routing mid-stream; " +
    "replayed gate batches never rewrite history") {
    implicit val sql = spark.sqlContext
    // the separable corpus of the frozen-gate specs: doc-1 text scores
    // high (keep at a tight q̂), symbol soup scores low (drop)
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
    val statePath = tmpDir("cgref") + "/state"
    val outPath = tmpDir("cgout") + "/out"
    val goodText = "the quick fox of the hill and the dale went to a town"
    val input = MemoryStream[Doc]
    val q = StreamPipelines.conformalGateRefreshingSink(
        input.toDF(), "doc_id", "text", w, statePath, outPath,
        tmpDir("cgref-ckpt"), alphaPct = 10L,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .start()
    try {
      def verdicts = SnapshotLog.read(spark, outPath)
        .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
      // before any calibration commits: q̂ falls back to conformal
      // infinity — EVERYTHING routes to review
      input.addData(Doc(1L, t("2024-01-01 10:00:00"), goodText))
      q.processAllAvailable()
      assert(verdicts(1L) == (("review", 1000001L)), verdicts.toString)
      // a calibration batch lands: 9 confident-negative rows put q̂(10%)
      // at 300000 — doc scores above 700000 now route keep
      StreamPipelines.conformalRefreshIngestBatch(
        (22 to 30).map(i => (0L, i * 10000L)).toDF("y", "p_ppm"),
        statePath, batchId = 0L)
      input.addData(Doc(2L, t("2024-01-01 10:00:01"), goodText))
      q.processAllAvailable()
      assert(verdicts(2L) == (("keep", 300000L)),
        s"recalibrated q̂ must change routing mid-stream: $verdicts")
      // history is immutable: the batch-0 verdict still carries the
      // fallback q̂ it was actually routed with
      assert(verdicts(1L) == (("review", 1000001L)), verdicts.toString)
    } finally q.stop()
  }

  test("semanticDedupSink admits per cluster vs batch AND persisted index; replay converges") {
    // frozen 2-dim router: centroid 0 = (1, 0), centroid 1 = (0, 1)
    val cents = Seq((0L, 1L, 10000L), (0L, 2L, 0L), (1L, 1L, 0L), (1L, 2L, 10000L))
      .toDF("label", "dim", "c_bp")
    val indexPath = tmpDir("semidx") + "/index"
    def batchOf(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    def indexIds = SnapshotLog.read(spark, indexPath).collect().map(_.getLong(0)).toSet

    // batch 1: 2 is a near-dup of 1 (same cluster, cos ≈ 1); 3 and 4 land
    // in cluster 1 but cos(3,4) = 0.8 < threshold → both admitted
    StreamPipelines.semanticDedupIngestBatch(
      batchOf(1L -> Seq(1.0, 0.0), 2L -> Seq(0.99, 0.01),
        3L -> Seq(0.0, 1.0), 4L -> Seq(0.6, 0.8)),
      "vec_id", "embedding", cents, indexPath, batchId = 0L, threshold = 0.95)
    assert(indexIds == Set(1L, 3L, 4L))

    // batch 2: 5 duplicates INDEXED 1 (killed by the index probe), 1 is an
    // exact id re-delivery (killed by the anti join), 7 is genuinely fresh
    val batch2 = batchOf(5L -> Seq(1.0, 0.005), 1L -> Seq(1.0, 0.0),
      7L -> Seq(0.8, -0.6))
    StreamPipelines.semanticDedupIngestBatch(
      batch2, "vec_id", "embedding", cents, indexPath, batchId = 1L, threshold = 0.95)
    assert(indexIds == Set(1L, 3L, 4L, 7L))

    // replay batch 2 verbatim: its tag is committed → no new version
    StreamPipelines.semanticDedupIngestBatch(
      batch2, "vec_id", "embedding", cents, indexPath, batchId = 1L, threshold = 0.95)
    assert(SnapshotLog.versions(spark, indexPath) == Seq(1, 2))
    // re-delivered as a new batch: every admit is already indexed → no growth
    StreamPipelines.semanticDedupIngestBatch(
      batch2, "vec_id", "embedding", cents, indexPath, batchId = 2L, threshold = 0.95)
    assert(indexIds == Set(1L, 3L, 4L, 7L))
    assert(SnapshotLog.read(spark, indexPath).count() == 4) // no duplicate rows either

    // end-to-end through the streaming sink wiring
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamPipelines.semanticDedupSink(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        cents, indexPath, tmpDir("semidx-ckpt"), threshold = 0.95,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .start()
    try {
      input.addData(8L -> Seq(-1.0, 0.0), 9L -> Seq(0.01, 0.99)) // 9 dups indexed 3
      q.processAllAvailable()
      assert(indexIds == Set(1L, 3L, 4L, 7L, 8L))
    } finally q.stop()
  }

  test("knnGraphSink appends adjacency per batch vs persisted index; replay converges") {
    val base = tmpDir("knnidx")
    val (indexPath, edgesPath) = (base + "/index", base + "/edges")
    def batchOf(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    def indexIds = SnapshotLog.read(spark, indexPath).collect().map(_.getLong(0)).toSet
    def edgeLog = SnapshotLog.read(spark, edgesPath)
    def edges = edgeLog.collect()
      .map(r => (r.getString(4), r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap

    // batch 1 against an empty index: within-batch adjacency only
    StreamPipelines.knnGraphIngestBatch(
      batchOf(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1)),
      "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath, batchId = 0L)
    assert(indexIds == Set(1L, 2L))
    assert(edges(("out", 1L, 1L)) == 2L && edges(("out", 2L, 1L)) == 1L)
    def outRowsFor2 = edgeLog
      .filter($"direction" === "out" && $"id" === 2L).count()
    val outFor2AfterBatch1 = outRowsFor2

    // batch 2: 2 is re-delivered (no out rows, no index growth for it);
    // 3 is fresh and nearest to 2 (cos ≈ 0.9999 vs 0.9925 to 1); indexed
    // 1 and 2 gain 'in' candidates
    val batch2 = batchOf(2L -> Seq(0.9, 0.1), 3L -> Seq(0.89, 0.11))
    StreamPipelines.knnGraphIngestBatch(
      batch2, "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath,
      batchId = 1L)
    assert(indexIds == Set(1L, 2L, 3L))
    val e2 = edges
    assert(e2(("out", 3L, 1L)) == 2L && e2(("out", 3L, 2L)) == 1L)
    assert(e2(("in", 1L, 1L)) == 3L && e2(("in", 2L, 1L)) == 3L)
    // the re-delivered id emitted NO new out rows (batch 1's survive)
    assert(outRowsFor2 == outFor2AfterBatch1)

    // every edge row carries its batch id
    assert(edgeLog.select($"batch_id").distinct().collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L))

    // replay batch 2 verbatim: its tag is committed → neither artifact grows
    val nEdges = edgeLog.count()
    StreamPipelines.knnGraphIngestBatch(
      batch2, "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath,
      batchId = 1L)
    assert(SnapshotLog.versions(spark, indexPath) == Seq(1, 2))
    assert(SnapshotLog.versions(spark, edgesPath) == Seq(1, 2))
    // re-delivered as a new batch: nothing fresh → neither artifact grows
    StreamPipelines.knnGraphIngestBatch(
      batch2, "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath,
      batchId = 2L)
    assert(indexIds == Set(1L, 2L, 3L))
    assert(edgeLog.count() == nEdges)

    // end-to-end through the streaming sink wiring
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamPipelines.knnGraphSink(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 2, bits = 1, indexPath, edgesPath, tmpDir("knnidx-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .start()
    try {
      input.addData(4L -> Seq(1.0, 0.01))
      q.processAllAvailable()
      assert(indexIds == Set(1L, 2L, 3L, 4L))
      assert(edges.contains(("out", 4L, 1L)))
    } finally q.stop()
  }

  test("kmeansUpdateSink: versioned running-mean state; replayed batch id is a no-op") {
    val statePath = tmpDir("kmstate") + "/state"
    val cents = Seq((0L, 1L, 10000L), (0L, 2L, 0L), (1L, 1L, 0L), (1L, 2L, 10000L))
      .toDF("label", "dim", "c_bp")
    val counts = Seq((0L, 3L), (1L, 5L)).toDF("label", "n")
    StreamPipelines.seedKmeansState(cents, counts, statePath)

    def latest =
      (SnapshotLog.latestTag(spark, statePath).get, SnapshotLog.read(spark, statePath).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap)

    // batch 0: both vectors land on label 0 → the q137 hand computation
    val b0 = Seq((101L, Array(0.8f, 0.2f)), (102L, Array(0.6f, 0.0f)))
      .toDF("vec_id", "embedding")
    StreamPipelines.kmeansUpdateIngestBatch(b0, "vec_id", "embedding", statePath, 100L)
    val (n1, s1) = latest
    assert(n1 == "batch-100")
    assert(s1((0L, 1L)) == ((8800L, 5L)) && s1((0L, 2L)) == ((400L, 5L)))
    assert(s1((1L, 1L)) == ((0L, 5L)))

    // replay the same batch id verbatim: version tag found → state unchanged
    StreamPipelines.kmeansUpdateIngestBatch(b0, "vec_id", "embedding", statePath, 100L)
    assert(latest._1 == "batch-100")
    assert(SnapshotLog.versions(spark, statePath) == Seq(1, 2))

    // a NEW batch advances the chain from the updated state
    val b1 = Seq((103L, Array(0f, 1f))).toDF("vec_id", "embedding")
    StreamPipelines.kmeansUpdateIngestBatch(b1, "vec_id", "embedding", statePath, 101L)
    val (n2, s2) = latest
    assert(n2 == "batch-101")
    // label 1 at (0, 10000) with n=5 absorbs (0, 10000): mean unchanged, n=6
    assert(s2((1L, 1L)) == ((0L, 6L)) && s2((1L, 2L)) == ((10000L, 6L)))
    assert(s2((0L, 1L)) == ((8800L, 5L))) // untouched centroid passes through

    // end-to-end through the streaming sink wiring
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamPipelines.kmeansUpdateSink(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        statePath, tmpDir("kmstate-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .start()
    try {
      input.addData(104L -> Seq(0.0, 1.0))
      q.processAllAvailable()
      assert(latest._2((1L, 1L)) == ((0L, 7L)))
    } finally q.stop()
  }

  test("driftTelemetry: window-close drift vs frozen reference; zero on match") {
    implicit val sql = spark.sqlContext
    // reference: 50% 'x' (bucket 20 of 64), 50% 'y' (bucket 18)
    val ref = Seq.tabulate(64) {
      case 20 => 500000L
      case 18 => 500000L
      case _  => 0L
    }
    val input = MemoryStream[Doc]
    val q = StreamPipelines.driftTelemetry(
        input.toDF(), "ts", "text", ref)
      .writeStream.format("memory").queryName("drift").outputMode("append").start()
    try {
      // window 1 matches the reference exactly; window 2 is all-'x'
      input.addData(
        Doc(1L, t("2024-01-01 10:00:05"), "x y"),
        Doc(2L, t("2024-01-01 10:00:30"), "y x"),
        Doc(3L, t("2024-01-01 10:01:05"), "x x x x"))
      q.processAllAvailable()
      assert(spark.table("drift").count() == 0) // both windows still open

      input.addData(Doc(4L, t("2024-01-01 10:03:00"), "z"))
      q.processAllAvailable()
      val rows = spark.table("drift").collect()
        .map(r => r.getTimestamp(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
      // 10:00 window: 4 tokens, distribution == reference → drift 0
      assert(rows("2024-01-01 10:00:00.0") == ((4L, 0L)))
      // 10:01 window: all mass on 'x' → |1e6−5e5| + |0−5e5| = 1e6
      assert(rows("2024-01-01 10:01:00.0") == ((4L, 1000000L)))
    } finally q.stop()
  }

  test("fluencyScoreStream scores against a frozen model; unknown bigrams skipped") {
    implicit val sql = spark.sqlContext
    // model trained on a batch corpus: c("a b")=2, c("b a")=1 → prefix a=2+0…
    // train corpus "a b a b": bigrams ab, ba, ab → p(ab)=2000 div 3? No:
    // prefix counts over bigram occurrences: a first-word occs = 2 (ab×2),
    // b = 1 (ba) → p(ab) = 2*1000 div 2 = 1000, p(ba) = 1000.
    // Use a richer corpus so permilles differ: "a b a c" → bigrams ab, ba, ac
    // → c12: ab=1, ba=1, ac=1; prefix a=2, b=1 → p(ab)=500, p(ba)=1000, p(ac)=500.
    val trainCorpus = Seq((0L, "a b a c")).toDF("doc_id", "text")
    val model = graft.ext.TextStats.bigramModel(trainCorpus, "text")
    val input = MemoryStream[Doc]
    val q = StreamPipelines.fluencyScoreStream(
        input.toDF(), model, "ts", "doc_id", "text", watermark = "10 seconds")
      .writeStream.format("memory").queryName("flsc").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "a b a c"),   // p: 500 + 1000 + 500
        Doc(2L, t("2024-01-01 10:00:00"), "a b z q"))   // only "a b" known → 500
      // advance the watermark past the window so the aggregate closes
      input.addData(Doc(9L, t("2024-01-01 10:05:00"), "a b"))
      q.processAllAvailable()
      val rows = spark.table("flsc").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(rows(1L) == ((3L, 2000L, 666L)))
      assert(rows(2L) == ((1L, 500L, 500L)))  // "b z","z q" miss the model
    } finally q.stop()
  }

  test("qualityGateStream gates with frozen LR weights; matches the batch scorer") {
    implicit val sql = spark.sqlContext
    // train on a separable static corpus (the q124 shape), then gate a
    // stream with the frozen weights — admitted docs carry the same p_ppm
    // the batch scorer assigns.
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
    val batchP = graft.ext.Classifier.lrScore(
        graft.ext.Classifier.lrFeatures(corpus, "doc_id", "text", lit(false)),
        "doc_id", w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val thr = 500000L
    val input = MemoryStream[Doc]
    val q = StreamPipelines.qualityGateStream(
        input.toDF(), "doc_id", "text", w, thr, keep = Seq("ts"))
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "the quick fox of the hill and the dale went to a town"),
        Doc(3L, t("2024-01-01 10:00:01"), "xx1! yy2@ zz3# qq4$ ww5% vv6^ uu7& tt8* ss9( rr0)"))
      q.processAllAvailable()
      val rows = spark.table("qgate").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(rows.keySet == Set(1L))          // stopword-dense doc admitted
      assert(rows(1L) == batchP(1L))          // frozen weights = batch score
      assert(batchP(3L) < thr)                // symbol soup gated out
    } finally q.stop()
  }

  test("conformalGateStream routes keep/drop/review on the frozen quantile's prediction sets") {
    implicit val sql = spark.sqlContext
    // same separable corpus as the plain gate; the frozen q̂ partitions
    // arrivals into confident singletons vs the ambiguous review band
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
    val batchP = graft.ext.Classifier.lrScore(
        graft.ext.Classifier.lrFeatures(corpus, "doc_id", "text", lit(false)),
        "doc_id", w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // q̂ tight enough that only confidently-scored docs leave review:
    // the set rule is {keep} iff 1e6−p ≤ q̂ < p, {drop} iff p ≤ q̂ < 1e6−p
    val qhat = 300000L
    val input = MemoryStream[Doc]
    val q = StreamPipelines.conformalGateStream(
        input.toDF(), "doc_id", "text", w, qhat, keep = Seq("ts"))
      .writeStream.format("memory").queryName("cgate").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "the quick fox of the hill and the dale went to a town"),
        Doc(3L, t("2024-01-01 10:00:01"), "xx1! yy2@ zz3# qq4$ ww5% vv6^ uu7& tt8* ss9( rr0)"))
      q.processAllAvailable()
      val rows = spark.table("cgate").collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
      assert(rows.keySet == Set(1L, 3L)) // the gate EMITS everything, routed
      assert(rows(1L)._1 == batchP(1L))  // frozen weights = batch score
      def expected(p: Long): String =
        if (1000000L - p <= qhat && p > qhat) "keep"
        else if (p <= qhat && 1000000L - p > qhat) "drop"
        else "review"
      assert(rows(1L)._2 == expected(batchP(1L)), rows.toString)
      assert(rows(3L)._2 == expected(batchP(3L)), rows.toString)
      // the separable corpus really exercises both confident branches
      assert(rows(1L)._2 == "keep" && rows(3L)._2 == "drop", rows.toString)
    } finally q.stop()
  }

  test("dsirScoreStream scores with a frozen bucket model; matches the batch arithmetic") {
    implicit val sql = spark.sqlContext
    // same corpus as TrainingOpsSpec's importanceWeights test: at
    // buckets=65536, lr(aa)=1000, lr(zz)=197
    val corpus = Seq(
      (10L, true, "aa aa aa aa"),
      (1L, false, "aa aa aa aa"),
      (2L, false, "zz zz zz zz")
    ).toDF("doc_id", "is_t", "text")
    val model = graft.ext.Sampling.importanceModel(corpus, "text", "is_t", buckets = 65536)
    val input = MemoryStream[Doc]
    val q = StreamPipelines.dsirScoreStream(
        input.toDF(), model, "ts", "doc_id", "text", buckets = 65536)
      .writeStream.format("memory").queryName("dsir").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "aa aa"),   // 1000
        Doc(2L, t("2024-01-01 10:00:00"), "aa zz"),   // (1000+197) div 2 = 598
        Doc(3L, t("2024-01-01 10:00:00"), "qq qq"))   // unknown bucket → no row
      input.addData(Doc(9L, t("2024-01-01 10:05:00"), "aa")) // close the window
      q.processAllAvailable()
      val rows = spark.table("dsir").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows(1L) == ((2L, 1000L)))
      assert(rows(2L) == ((2L, 598L)))
      assert(!rows.contains(3L))
    } finally q.stop()
  }

  test("cmsTelemetry: the closed window's grid equals the batch grid over the same rows") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamPipelines.cmsTelemetry(
        input.toDF(), "ts", "text", depth = 3, width = 8)
      .writeStream.format("memory").queryName("cmsw").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "a a b"),
        Doc(2L, t("2024-01-01 10:00:30"), "c a"))
      input.addData(Doc(9L, t("2024-01-01 10:05:00"), "x")) // close the window
      q.processAllAvailable()
      val streamed = spark.table("cmsw").collect()
        .filter(_.getTimestamp(0).toString.startsWith("2024-01-01 10:00"))
        .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
      val batch = graft.ext.TextStats.cmsCounters(
          Seq((1L, "a a b"), (2L, "c a")).toDF("id", "text"), "text", depth = 3, width = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("transitionStream: in-order batches reproduce the batch LAG extraction; late rows drop") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[UEv]
    val q = StreamPipelines.transitionStream(input.toDF(),
        "user_id", "ts", "event_id", "event_type")
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    try {
      input.addData(
        UEv(1L, t("2024-01-01 10:00:00"), 1L, "view"),
        UEv(1L, t("2024-01-01 10:01:00"), 2L, "click"),
        UEv(2L, t("2024-01-01 10:00:30"), 3L, "signup"))
      q.processAllAvailable()
      input.addData( // crosses the micro-batch boundary via state
        UEv(1L, t("2024-01-01 10:02:00"), 4L, "purchase"),
        UEv(2L, t("2024-01-01 10:03:00"), 5L, "click"))
      q.processAllAvailable()
      // a late duplicate of event 2 and a pre-state stale row: both dropped
      input.addData(
        UEv(1L, t("2024-01-01 10:01:00"), 2L, "click"),
        UEv(2L, t("2024-01-01 10:00:00"), 0L, "view"))
      q.processAllAvailable()
      val got = spark.table("trans").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
      assert(got == Seq(
        (1L, "click", "purchase"), (1L, "view", "click"),
        (2L, "signup", "click")))
    } finally q.stop()
  }

  test("knnGraphAdjacencyIngestBatch maintains a searchable adjacency snapshot; replay converges") {
    val base = tmpDir("knnadj")
    val (indexPath, edgesPath, adjPath) =
      (base + "/index", base + "/edges", base + "/adj")
    def batchOf(rows: (Long, Seq[Double])*) = rows.toDF("vec_id", "embedding")
    def adj = SnapshotLog.read(spark, adjPath).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    StreamPipelines.knnGraphAdjacencyIngestBatch(
      batchOf(1L -> Seq(1.0, 0.0), 2L -> Seq(0.9, 0.1)),
      "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath, adjPath,
      batchId = 0L)
    val a1 = adj
    assert(a1.keySet == Set((1L, 2L), (2L, 1L)))

    // 3 is nearest to 2; each node's top-2 now includes it
    StreamPipelines.knnGraphAdjacencyIngestBatch(
      batchOf(3L -> Seq(0.89, 0.11)),
      "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath, adjPath,
      batchId = 1L)
    val a2 = adj
    assert(a2.keySet == Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L)))

    // replaying the same batch changes nothing (its tag is committed)
    StreamPipelines.knnGraphAdjacencyIngestBatch(
      batchOf(3L -> Seq(0.89, 0.11)),
      "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath, adjPath,
      batchId = 1L)
    assert(adj == a2)
    Seq(indexPath, edgesPath, adjPath).foreach(p =>
      assert(SnapshotLog.versions(spark, p) == Seq(1, 2), p))
    // nor does re-delivering it as a new batch (anti join → nothing fresh)
    StreamPipelines.knnGraphAdjacencyIngestBatch(
      batchOf(3L -> Seq(0.89, 0.11)),
      "vec_id", "embedding", k = 2, bits = 1, indexPath, edgesPath, adjPath,
      batchId = 2L)
    assert(adj == a2)

    // the snapshot is directly walkable by the beam search
    val stored = SnapshotLog.read(spark, adjPath)
    val sym = stored.select($"id", $"nbr_id")
      .unionByName(stored.select($"nbr_id".as("id"), $"id".as("nbr_id"))).distinct()
    val corpus = SnapshotLog.read(spark, indexPath)
      .select($"vec_id", $"vec".as("embedding"))
    val qs = Seq(9000L -> Seq(1.0, 0.05)).toDF("vec_id", "embedding")
    val hits = graft.ext.VectorSearch.graphSearchCurve(
        qs, corpus, sym, "vec_id", "embedding", "vec_id", "embedding",
        k = 2, beam = 2, rounds = 1, entries = 1)
      .filter($"round_tier" === 1).collect()
    assert(hits.nonEmpty && hits.map(_.getAs[Long]("id")).toSet.subsetOf(Set(1L, 2L, 3L)))
  }

  test("abTestTelemetry: the closed window's cells and verdict equal the batch gate") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Boolean, Boolean)]
    val agg = StreamPipelines.abTestTelemetry(
      input.toDF().toDF("ts", "treat", "conv"), "ts", "treat", "conv")
    val q = agg.writeStream.format("memory").queryName("abt").outputMode("append").start()
    try {
      val cells = Seq.fill(30)((true, true)) ++ Seq.fill(20)((true, false)) ++
        Seq.fill(15)((false, true)) ++ Seq.fill(35)((false, false))
      val (w1, w2) = cells.splitAt(40)
      input.addData(w1.map { case (tr, cv) => (t("2024-01-01 10:00:05"), tr, cv) }: _*)
      q.processAllAvailable()
      input.addData(w2.map { case (tr, cv) => (t("2024-01-01 10:00:40"), tr, cv) }: _*)
      q.processAllAvailable()
      assert(spark.table("abt").count() == 0) // window still open
      input.addData((t("2024-01-01 10:02:00"), true, true))
      q.processAllAvailable()
      val r = spark.table("abt").collect().head
      assert((r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
        r.getAs[Long]("d")) == ((30L, 20L, 15L, 35L)))
      assert(r.getAs[Long]("chi2_centi") == 909L && r.getAs[Boolean]("significant"))
    } finally q.stop()
  }

  test("hdrTelemetry: closed windows emit the exact batch histogram; buckets merge across micro-batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = StreamPipelines.hdrTelemetry(
      input.toDF().toDF("ts", "v"), "ts", "v")
    val q = agg.writeStream.format("memory").queryName("hdrt").outputMode("append").start()
    try {
      val vals = Seq(3L, 17L, 17L, 250L, 999L)
      input.addData(vals.take(2).map(v => (t("2024-01-01 10:00:05"), v)): _*)
      q.processAllAvailable()
      input.addData(vals.drop(2).map(v => (t("2024-01-01 10:00:40"), v)): _*)
      q.processAllAvailable()
      assert(spark.table("hdrt").count() == 0) // window still open
      input.addData((t("2024-01-01 10:02:00"), 1L))
      q.processAllAvailable()
      val streamed = spark.table("hdrt").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      // the emitted window's histogram is bit-identical to the batch sketch
      val batch = graft.ext.HdrSketch.hdrHistogram(
          vals.map(("w", _)).toDF("key", "v"), "key", "v")
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("audienceSketchIngestBatch: snapshot equals the batch sketch over all data seen; replay is the identity") {
    val path = tmpDir("audsk") + "/sketch"
    def batchOf(rows: (String, Long)*) = rows.toDF("key", "member")
    def snap() = SnapshotLog.read(spark, path).collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1).toList, r.getLong(2)))).toMap

    val b1 = (1 to 40).map(i => ("A", i.toLong)) ++ (1 to 20).map(i => ("B", i.toLong))
    val b2 = (21 to 60).map(i => ("A", i.toLong)) ++ (15 to 50).map(i => ("B", i.toLong))
    StreamPipelines.audienceSketchIngestBatch(batchOf(b1: _*), "key", "member", 32, path, 0L)
    StreamPipelines.audienceSketchIngestBatch(batchOf(b2: _*), "key", "member", 32, path, 1L)
    val after2 = snap()
    // the maintained snapshot IS the batch sketch over b1 ∪ b2
    val direct = graft.ext.ThetaSketch.kminSketch(
        batchOf((b1 ++ b2): _*), "key", "member", 32).collect()
      .map(r => r.getString(0) -> ((r.getSeq[Long](1).toList, r.getLong(2)))).toMap
    assert(after2 == direct)
    // replaying b2 commits nothing; re-delivering it as a new batch
    // changes nothing
    StreamPipelines.audienceSketchIngestBatch(batchOf(b2: _*), "key", "member", 32, path, 1L)
    assert(SnapshotLog.versions(spark, path) == Seq(1, 2))
    StreamPipelines.audienceSketchIngestBatch(batchOf(b2: _*), "key", "member", 32, path, 2L)
    assert(snap() == after2)
    // the snapshot answers overlap queries without the member history
    val est = graft.ext.ThetaSketch.overlapEstimates(SnapshotLog.read(spark, path)).head()
    assert(est.getAs[Long]("inter_est_milli") > 0L)
  }

  test("changePointStream: emitted series equals the batch Page-Hinkley frame; replay emits nothing") {
    implicit val sql = spark.sqlContext
    // minute series with a level shift at t=105 and a gap at 103-104
    val batch1 = Seq((100L, 50L), (101L, 52L), (102L, 48L))
    val batch2 = Seq((105L, 5L), (106L, 4L), (107L, 6L)) // 103,104 zero-fill
    val input = MemoryStream[(String, Long, Long)]
    val q = StreamPipelines.changePointStream(
        input.toDF().toDF("k", "t", "v"), "k", "t", "v")
      .writeStream.format("memory").queryName("cps").outputMode("append").start()
    try {
      input.addData(batch1.map { case (t, v) => ("m", t, v) }: _*)
      q.processAllAvailable()
      input.addData(batch2.map { case (t, v) => ("m", t, v) }: _*)
      q.processAllAvailable()
      val got = spark.table("cps").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // batch detector over the same span (k = all 8 minutes, gap filled)
      val series = (batch1 ++ batch2).toDF("t", "v")
      val expected = graft.ext.RobustStats.pageHinkley(series, "t", "v", k = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected)
      assert(got.size == 8) // 6 observed + 2 zero-filled gap minutes
      // the shift minutes carry the top deviations
      assert(got.filter(_._1 >= 105).map(_._3).max ==
        expected.map(_._3).max)
      // replay batch2 verbatim: state is ahead of every row → no emissions
      input.addData(batch2.map { case (t, v) => ("m", t, v) }: _*)
      q.processAllAvailable()
      assert(spark.table("cps").count() == 8L)
    } finally q.stop()
  }

  test("prioritySampleStream: k-bounded state converges to the batch sample across batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    val docs = input.toDF()
      .withColumn("stratum", when($"doc_id" % 2 === 0, "even").otherwise("odd"))
      .withColumn("w", $"doc_id" % 7 + 1)
    val q = StreamPipelines.prioritySampleStream(docs, "stratum", "doc_id", "w", k = 3)
      .writeStream.format("memory").queryName("prio").outputMode("update").start()
    try {
      input.addData((1L to 20L).map(i => Doc(i, t("2024-01-01 10:00:00"), s"d$i")): _*)
      q.processAllAvailable()
      input.addData((21L to 40L).map(i => Doc(i, t("2024-01-01 10:01:00"), s"d$i")): _*)
      q.processAllAvailable()
      // replay batch 1's rows: exact re-deliveries must not change the sample
      input.addData((1L to 20L).map(i => Doc(i, t("2024-01-01 10:00:00"), s"d$i")): _*)
      q.processAllAvailable()
      val all = spark.table("prio").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      // newest generation per stratum
      val latest = all.groupBy(_._1).map { case (st, rows) =>
        val maxSeq = rows.map(_._2).max
        st -> rows.filter(_._2 == maxSeq).map(r => (r._3, r._4)).toSet // (rnk, key)
      }
      // must equal the batch operator over the full history
      val batch = (1L to 40L).map(i => (i, if (i % 2 == 0) "even" else "odd", i % 7 + 1))
        .toDF("doc_id", "stratum", "w")
      val expected = graft.ext.Sampling.prioritySample(batch, "stratum", "doc_id", "w", k = 3)
        .collect().groupBy(_.getString(1)).map { case (st, rows) =>
          // batch output carries no rank; recover it by priority desc, key
          st -> rows.map(r => (r.getLong(3), r.getLong(0))).sortBy { case (p, id) => (-p, id) }
            .zipWithIndex.map { case ((_, id), idx) => (idx + 1L, id) }.toSet
        }
      assert(latest == expected)
      // the replay batch bumped seq but left every stratum's sample identical
      val bySeq = all.groupBy(r => (r._1, r._2)).view.mapValues(_.map(r => (r._3, r._4)).toSet)
      val evenGens = bySeq.collect { case ((st, seq), s) if st == "even" => seq -> s }.toMap
      assert(evenGens(evenGens.keySet.max) == evenGens(evenGens.keySet.max - 1),
        "exact re-delivery must not move the sample")
    } finally q.stop()
  }

  test("mixtureSample composes with a stream: per-source admission at ingest") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    // stateless filter → works unchanged on a streaming frame
    val docs = input.toDF()
      .withColumn("source", when($"doc_id" < 100L, "curated").otherwise("crawl"))
    val q = graft.ext.Sampling
      .mixtureSample(docs, "source", "doc_id", Map("curated" -> 10000), defaultBp = 0)
      .writeStream.format("memory").queryName("mix").outputMode("append").start()
    try {
      input.addData((1L to 10L).map(i =>
        Doc(if (i <= 5) i else 100L + i, t("2024-01-01 10:00:00"), s"doc $i")): _*)
      q.processAllAvailable()
      // curated fully admitted, crawl fully dropped — same rule as batch
      assert(spark.table("mix").collect().map(_.getLong(0)).toSeq.sorted ==
        Seq(1L, 2L, 3L, 4L, 5L))
    } finally q.stop()
  }

  test("bloomContamination composes with a stream: zero-join decontamination at ingest") {
    implicit val sql = spark.sqlContext
    // holdout filter built batch-side once; the stream probe is a pure
    // codegen projection, so it runs on the streaming frame unchanged
    val holdout = Seq((100L, "the secret eval answer key")).toDF("doc_id", "text")
    val bf = graft.ext.Decontaminate.holdoutBloom(holdout, "doc_id", "text",
      shingleN = 3, numBits = 1 << 16, numHashes = 3)
    val input = MemoryStream[Doc]
    val q = graft.ext.Decontaminate.bloomContamination(
        input.toDF(), bf, "doc_id", "text", shingleN = 3)
      .writeStream.format("memory").queryName("blmst").outputMode("append").start()
    try {
      input.addData(
        Doc(1L, t("2024-01-01 10:00:00"), "contains the secret eval answer inside"),
        Doc(2L, t("2024-01-01 10:00:00"), "perfectly clean text with no overlap"))
      q.processAllAvailable()
      val rows = spark.table("blmst").collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(rows(1L), "doc sharing a holdout trigram must flag")
      assert(!rows(2L), "clean doc must pass — no false negatives means clean is sound")
    } finally q.stop()
  }

  test("chunkDocuments composes with a stream: stateless chunk tiling at ingest") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = graft.ext.Packing
      .chunkDocuments(input.toDF(), "doc_id", "text", chunkTokens = 5, stride = 3)
      .writeStream.format("memory").queryName("chk").outputMode("append").start()
    try {
      input.addData(Doc(1L, t("2024-01-01 10:00:00"), "a b c d e f g h")) // 8 toks → starts 0,3,6
      q.processAllAvailable()
      val got = spark.table("chk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      assert(got == Seq((0L, 0L, 5L), (1L, 3L, 8L), (2L, 6L, 8L)))
    } finally q.stop()
  }

  test("stream-static enrichment join: streaming events ⋈ broadcast dimension") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.functions.broadcast
    val dim = Seq(("u1", "gold"), ("u2", "bronze")).toDF("d_user", "segment")
    val input = MemoryStream[Click]
    val joined = input.toDF().join(broadcast(dim), $"c_user" === $"d_user", "left")
    val q = joined.select($"click_id", $"segment")
      .writeStream.format("memory").queryName("ssd").outputMode("append").start()
    try {
      input.addData(
        Click("u1", t("2024-01-01 10:00:00"), 1L),
        Click("u3", t("2024-01-01 10:00:01"), 2L)) // no dim row → null segment
      q.processAllAvailable()
      val got = spark.table("ssd").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> Some("gold"), 2L -> None))
    } finally q.stop()
  }

  test("streamIntervalJoin matches within the window, excludes outside, both sides streaming") {
    implicit val sql = spark.sqlContext
    val clicks    = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val joined = StreamPipelines.streamIntervalJoin(
      clicks.toDF(), purchases.toDF(),
      "c_user", "p_user", "c_ts", "p_ts", within = "10 minutes")
    val q = joined.select($"click_id", $"amount")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      clicks.addData(
        Click("u1", t("2024-01-01 10:00:00"), 1L),
        Click("u2", t("2024-01-01 10:00:00"), 2L))
      purchases.addData(
        Purchase("u1", t("2024-01-01 10:05:00"), 50.0),  // in window → match
        Purchase("u1", t("2024-01-01 10:20:00"), 70.0),  // past window → no match
        Purchase("u2", t("2024-01-01 09:55:00"), 30.0))  // before click → no match
      q.processAllAvailable()
      val got = spark.table("ssj").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 50.0)))
    } finally q.stop()
  }

  test("sessionMetrics groups by gap (streaming, append mode)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamPipelines.sessionMetrics(input.toDF(), "ts", "key", gap = "30 minutes")
      .writeStream.format("memory").queryName("sm").outputMode("append").start()
    try {
      input.addData(
        Ev(t("2024-01-01 10:00:00"), "u1", "view"),
        Ev(t("2024-01-01 10:10:00"), "u1", "view"),  // same session (gap < 30m)
        Ev(t("2024-01-01 11:30:00"), "u1", "view"),  // new session
        Ev(t("2024-01-01 10:00:00"), "u2", "view"))
      q.processAllAvailable()
      // close all sessions by advancing the watermark far past them
      input.addData(Ev(t("2024-01-02 00:00:00"), "u3", "view"))
      q.processAllAvailable()
      val out = spark.table("sm").collect()
        .map(r => (r.getString(0), r.getLong(3))) // key, n_events
      assert(out.toSet == Set(("u1", 2L), ("u1", 1L), ("u2", 1L)))
      // schema from the helper itself: key, session_start, session_end, n_events
      assert(spark.table("sm").columns.toSeq ==
        Seq("key", "session_start", "session_end", "n_events"))
    } finally q.stop()
  }
}
