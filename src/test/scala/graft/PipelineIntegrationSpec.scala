package graft

import graft.ops.LatestWins
import graft.streaming.StreamPipelines
import graft.table.{SnapshotLog, TableLayout}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end medallion flow over real test data, tying the modules
  * together the way the reference wires its pipelines (SURVEY.md §3):
  * raw events → header+body bronze (hour-partitioned, hidden-partition
  * pruned) → gold latest-state upsert → read-time join + top-k serving →
  * maintenance (compaction + TTL).
  */
class PipelineIntegrationSpec extends SparkFunSuite {

  test("bronze → gold → serving → maintenance round trip") {
    val root = TestTmp.dir("e2e")
    val ev = Tables.events(spark, sf)

    // 1. BRONZE: header+body projection, hour-partitioned append log
    val bronzeDf = StreamPipelines.headerBody(ev, Seq("event_id", "ts", "user_id", "event_type"))
    TableLayout.partitionedWrite(bronzeDf, s"$root/bronze",
      partitions = Seq(TableLayout.hoursPartition("ts")), sortCols = Seq("ts"))
    val bronze = spark.read.parquet(s"$root/bronze")
    assert(bronze.count() == ev.count())
    assert(bronze.columns.contains("payload") && bronze.columns.contains("ingested_at"))

    // hidden partitioning: raw-ts predicate prunes hour partitions
    val pruned = bronze.filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp"))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: ["))
    assert(pruned.count() == ev.filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp")).count())

    // 2. GOLD: replay bronze through the upsert sink in two "micro-batches"
    val replay = bronze.select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
      get_json_object(col("payload"), "$.value").cast("double").as("value"))
    val split = lit("2024-01-20 00:00:00").cast("timestamp")
    Seq(replay.filter(col("ts") < split), replay.filter(col("ts") >= split)).zipWithIndex
      .foreach { case (b, i) =>
        StreamPipelines.upsertBatch(b, s"$root/gold", Seq("user_id"), "ts", Seq("event_id"),
          denseCols = Seq("event_type"), sparseCols = Seq("value"), batchId = i.toLong)
      }
    val gold = SnapshotLog.read(spark, s"$root/gold")
    // equals the all-at-once reduction over the full log
    val expect = LatestWins.latestState(replay, Seq("user_id"), "ts", Seq("event_id"),
      Seq("event_type"), Seq("value"), "last_seen")
    assert(gold.count() == expect.count())
    assert(gold.except(expect).isEmpty && expect.except(gold).isEmpty)

    // 3. SERVING: read-time broadcast join + top-k over gold
    val cust = Tables.customer(spark, sf)
    val top = gold.join(broadcast(cust), gold("user_id") === cust("c_custkey"), "left")
      .orderBy(col("value").desc_nulls_last, col("user_id")).limit(5)
    assert(top.count() == 5)

    // 4. MAINTENANCE: TTL-drop old hour partitions from bronze
    val dropped = TableLayout.ttlDropPartitions(spark, s"$root/bronze", "ts_hour", _ < "2024-01-03-00")
    assert(dropped.nonEmpty)
    val left = spark.read.parquet(s"$root/bronze").count()
    assert(left == ev.filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp")).count())
  }

  test("multimodal frame sampling and resize plumbing") {
    import spark.implicits._
    val media = Seq((1L, ("x" * 100).getBytes("UTF-8")), (2L, "abc".getBytes("UTF-8")))
      .toDF("id", "payload")
    val frames = graft.ext.Multimodal.frameSample(media, "id", "payload", n = 4, frameBytes = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(frames == Map(1L -> 4L, 2L -> 4L))
    val resized = graft.ext.Multimodal.resizeStub(media, "id", "payload", 10)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).length, r.getLong(2))).toList
    assert(resized.contains((1L, 10, 100L)) && resized.contains((2L, 3, 3L)))
  }
}
