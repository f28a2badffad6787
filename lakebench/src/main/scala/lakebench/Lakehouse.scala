package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.streaming.StreamPipelines
import graft.table.SnapshotLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `lakehouse`: the reference's Kappa write path with dashboard reads
  * beside it, from one client in a closed loop.
  *
  * Each round offers one 5,000-event batch (the reference's
  * `maxOffsetsPerTrigger`) to each of three pipelines and waits until all
  * three have committed (`op`):
  *   - `minuteMetrics` → gold 1-minute video metrics, appended to a
  *     SnapshotLog table with `commitAppend`;
  *   - `upsertSinkVersioned` → current order state (merge-on-read);
  *   - `cdcSinkVersioned` → dim users (merge-on-read).
  * It then runs three dashboard reads through `SnapshotLog.read` (`read`):
  * orders × dim users by country, top-50 velocity over the last 30 closed
  * minutes, and the freshness gauge. Every [[MaintenanceEvery]] rounds it
  * compacts each table and expires its snapshots (`maint`); the timed
  * phase runs whole cycles of those rounds and their maintenance. Every read is
  * checked against the generator's recomputation; at the end the whole of
  * each table and the watermark's drop count are.
  *
  * Every trigger is `ProcessingTime(0)` and event time comes from the
  * generator, so no figure waits on a wall-clock timer.
  */
object Lakehouse {
  val MaintenanceEvery = 3
  val RetainLast = 5
  val CommitTimeout: FiniteDuration = 60.seconds

  private final class Tables(root: String) {
    val metrics = s"$root/gold_video_metrics"
    val orders = s"$root/gold_orders"
    val users = s"$root/dim_users"
    val all = Seq(metrics, orders, users)
  }

  /** Table-layer timings, kept for timed operations only. */
  private final class TableStats {
    val readMs = mutable.ArrayBuffer[Double]()
    val segments = mutable.ArrayBuffer[Double]()
    val compactMs = mutable.ArrayBuffer[Double]()
    val expireMs = mutable.ArrayBuffer[Double]()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  private def bytes(p: String): Long = {
    val st = Files.walk(Paths.get(p))
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Data segments the latest manifest of `table` references. */
  private def segmentsOf(table: String): Int = {
    val log = Paths.get(table, "_log")
    val latest = Files.list(log).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json")).max
    "\"data/seg-".r.findAllMatchIn(Files.readString(log.resolve(latest))).size
  }

  def run(ctx: Ctx, setupStart: Long): (Double, Outcome) = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tracer = ctx.tracer
    val root = Paths.get(ctx.args.work, s"lakehouse-${ctx.args.seed}-${if (ctx.args.trace) 1 else 0}")
    deleteTree(root)
    val t = new Tables(root.toString)
    val ckpt = s"$root/checkpoints"
    val gen = new LakeGen(ctx.args.seed)
    val stats = new TableStats
    var timedPhase = false
    implicit val ec: ExecutionContext = ExecutionContext.global

    val content = MemoryStream[ContentEvent]
    val orders = MemoryStream[OrderEvent]
    val users = MemoryStream[UserChange]
    val qMetrics = StreamPipelines
      .minuteMetrics(content.toDF(), "ts", "video_id", "event_type", LakeGen.EventTypes)
      .writeStream.queryName("gold_video_metrics").outputMode("append")
      .option("checkpointLocation", s"$ckpt/metrics").trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          if (!batch.isEmpty) SnapshotLog.commitAppend(batch, t.metrics, Some(s"metrics-$batchId"))
          ()
        } finally { batch.unpersist(); () }
      }.start()
    val qOrders = StreamPipelines.upsertSinkVersioned(orders.toDF(), t.orders, s"$ckpt/orders",
      key = Seq("order_id"), orderCol = "ts", tieBreak = Seq("event_id"),
      denseCols = Seq("status"), sparseCols = Seq("user_id", "amount_cents"),
      trigger = Trigger.ProcessingTime(0)).queryName("gold_orders").start()
    val qUsers = StreamPipelines.cdcSinkVersioned(users.toDF(), t.users, s"$ckpt/users",
      key = Seq("user_id"), tsCol = "ts_ms", trigger = Trigger.ProcessingTime(0))
      .queryName("dim_users").start()
    val queries = Seq(qMetrics, qOrders, qUsers)

    def awaitCommits(qs: Seq[StreamingQuery]): Boolean = {
      Await.result(Future(qs.foreach(_.processAllAvailable())), CommitTimeout)
      qs.forall(q => q.isActive && q.exception.isEmpty)
    }

    def table(op: Op, path: String): DataFrame = {
      val t0 = System.nanoTime()
      val df = tracer.span("table.read", op.id)(SnapshotLog.read(spark, path))
      if (timedPhase) stats.readMs += (System.nanoTime() - t0) / 1e6
      df
    }

    def offerRound(round: Int, timed: Boolean): Op = {
      val (c, o, u) = gen.round(round)
      ctx.run("op", s"commit:$round", timed) { op =>
        tracer.span("offer", op.id) {
          content.addData(c); orders.addData(o); users.addData(u)
        }
        tracer.span("commit.wait", op.id)(awaitCommits(queries))
      }(identity)
    }

    // ---- the three dashboard reads, each checked against the recomputation
    def readOrdersByCountry(timed: Boolean): Op =
      ctx.run("read", "orders_by_country", timed) { op =>
        val df = ctx.build(op) {
          table(op, t.orders).join(table(op, t.users).select("user_id", "country"), "user_id")
            .groupBy("country")
            .agg(count(lit(1)).as("n_orders"), sum("amount_cents").as("revenue_cents"),
              sum(when(col("status") === "SHIPPED", 1L).otherwise(0L)).as("n_shipped"),
              sum(when(col("status").isin("CANCELLED", "RETURNED"), 1L).otherwise(0L)).as("n_lost"))
        }
        ctx.collect(op, df)
      } { rows =>
        rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toMap == gen.ordersByCountry
      }

    def readTopVelocity(timed: Boolean): Op =
      ctx.run("read", "top_velocity", timed) { op =>
        val df = ctx.build(op) {
          val m = table(op, t.metrics)
          m.crossJoin(m.agg(max("window_start").as("last")))
            .filter(col("window_start") > expr("last - INTERVAL 30 MINUTES"))
            .groupBy("video_id")
            .agg(sum(col("n_play_start") + col("n_like") * 3 + col("n_share") * 5 +
              col("n_play_finish") * 2).as("score"), sum("n_impression").as("impressions"))
            .orderBy(col("score").desc, col("video_id")).limit(50)
        }
        ctx.collect(op, df)
      } { rows =>
        rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == gen.topVelocity
      }

    def readFreshness(timed: Boolean, offeredUpToMs: Long): Op =
      ctx.run("read", "freshness", timed) { op =>
        val df = ctx.build(op) {
          table(op, t.metrics).agg(max("window_start").as("gold_window"))
            .crossJoin(table(op, t.users).agg(max("ts_ms").as("dim_ts_ms")))
            .crossJoin(table(op, t.orders).agg(max("last_seen").as("orders_ts")))
            .withColumn("gold_lag_s",
              (lit(offeredUpToMs) - unix_millis(col("gold_window"))) / 1000.0)
        }
        ctx.collect(op, df)
      } { rows =>
        val (w, u, o) = gen.freshness
        rows.length == 1 && rows(0).getTimestamp(0).getTime == w && rows(0).getLong(1) == u &&
          rows(0).getTimestamp(2).getTime == o
      }

    def maintain(timed: Boolean): Op =
      ctx.run("maint", "compact+expire", timed) { op =>
        t.all.foreach { path =>
          val c0 = System.nanoTime()
          tracer.span("table.compact", op.id)(SnapshotLog.compactLatest(spark, path))
          val c1 = System.nanoTime()
          tracer.span("table.expire", op.id)(
            SnapshotLog.expireSnapshots(spark, path, RetainLast, orphanOlderThanMs = 0L))
          if (timed) {
            stats.compactMs += (c1 - c0) / 1e6
            stats.expireMs += (System.nanoTime() - c1) / 1e6
          }
        }
        true
      }(identity)

    def runRound(round: Int, timed: Boolean): Boolean = {
      val commit = offerRound(round, timed)
      if (!commit.ok) false
      else {
        val offered = gen.roundStartMs(round + 1)
        Seq(readOrdersByCountry(timed), readTopVelocity(timed), readFreshness(timed, offered))
          .foreach { op =>
            if (timed && ctx.args.trace && op.ok)
              stats.segments += (op.name match {
                case "orders_by_country" => segmentsOf(t.orders) + segmentsOf(t.users)
                case "top_velocity"      => segmentsOf(t.metrics)
                case _                   => t.all.map(segmentsOf).sum
              })
          }
        if (round % MaintenanceEvery == 0) maintain(timed)
        true
      }
    }

    // ---- set-up: bootstrap the users dimension, then one warm-up round,
    // whose maintenance pass compiles that path too
    ctx.run("op", "bootstrap", timed = false) { _ =>
      users.addData(gen.bootstrap())
      awaitCommits(Seq(qUsers))
    }(identity)
    var healthy = runRound(0, timed = false)
    var round = 1
    val setupS = (System.nanoTime() - setupStart) / 1e9

    // ---- timed closed loop: whole maintenance cycles, so every run does
    // the same mix of commits, reads and maintenance: at least one, then as
    // many as come closest to --seconds
    val firstTimed = round
    val eventsBefore = gen.eventsOffered
    timedPhase = true
    ctx.startTimed()
    val start = System.nanoTime()
    var cycles = 0
    def elapsedS = (System.nanoTime() - start) / 1e9
    while (healthy && (cycles == 0 || elapsedS + elapsedS / cycles / 2 < ctx.args.seconds)) {
      (0 until MaintenanceEvery).foreach { _ =>
        if (healthy) { healthy = runRound(round, timed = true); round += 1 }
      }
      cycles += 1
    }
    ctx.endTimed()
    timedPhase = false
    val committed = ctx.ops.filter(o => o.timed && o.kind == "op" && o.ok).size
    val eventsPerS = committed * 3.0 * LakeGen.BatchSize / ctx.timedSeconds
    val eventsTimed = gen.eventsOffered - eventsBefore

    // ---- end of run: every table and the drop count against the recomputation
    def check(name: String)(body: => Boolean): (String, Boolean) =
      name -> (try body catch {
        case e: Exception =>
          System.err.println(s"[lakebench] check $name: ${e.getMessage}"); false
      })
    val checks = if (!healthy) Seq("pipelines_committed" -> false) else Seq(
      check("orders_state") {
        val got = SnapshotLog.read(spark, t.orders)
          .select("order_id", "status", "user_id", "amount_cents", "last_seen").collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getTimestamp(4).getTime))
        got.length == gen.orders.size && got.toMap == gen.orders
      },
      check("users_state") {
        val got = SnapshotLog.read(spark, t.users).select("user_id", "ts_ms", "country", "segment")
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3)))
        got.length == gen.users.size && got.toMap == gen.users
      },
      check("closed_windows") {
        val cols = "window_start" +: "video_id" +: LakeGen.EventTypes.map(e => s"n_$e")
        val got = SnapshotLog.read(spark, t.metrics).select(cols.map(col): _*).collect()
          .map(r => (r.getTimestamp(0).getTime, r.getLong(1)) -> (2 until cols.size).map(r.getLong))
        val want = gen.closedWindows.map { case (k, n) => k -> n.toSeq }
        got.length == want.size && got.toMap == want.toMap
      },
      check("late_dropped") {
        val dropped = qMetrics.recentProgress.flatMap(_.stateOperators.toSeq)
          .map(_.numRowsDroppedByWatermark).sum
        if (dropped != gen.lateDroppedGroups)
          System.err.println(s"[lakebench] late drops: engine $dropped, recomputed " +
            s"${gen.lateDroppedGroups} groups from ${gen.lateDroppedEvents} events")
        dropped == gen.lateDroppedGroups && gen.lateDroppedEvents > 0
      })
    queries.foreach(_.stop())

    val tableBytes = t.all.map(bytes).sum
    val layer = Map(
      "table.read_ms" -> Stats.mean(stats.readMs),
      "table.segments_per_read" -> Stats.mean(stats.segments),
      "table.versions" -> t.all.map(p => SnapshotLog.versions(spark, p).size).sum.toDouble,
      "table.bytes_per_event" -> tableBytes.toDouble / gen.eventsOffered,
      "table.compact_ms" -> Stats.mean(stats.compactMs),
      "table.expire_ms" -> Stats.mean(stats.expireMs))
    val notes = Map(
      "rounds_timed" -> (round - firstTimed).toDouble,
      "events_timed" -> eventsTimed.toDouble,
      "timed_s" -> ctx.timedSeconds,
      "table_mb" -> tableBytes / 1e6,
      "orders_rows" -> gen.orders.size.toDouble,
      "users_rows" -> gen.users.size.toDouble,
      "closed_windows" -> gen.closedWindows.size.toDouble,
      "late_events" -> gen.lateDroppedEvents.toDouble)
    deleteTree(root)
    (setupS, Outcome(eventsPerS, checks, layer, notes))
  }
}
