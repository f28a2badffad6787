package lakebench

import scala.jdk.CollectionConverters._
import scala.util.Try

/** The traced run's per-layer metrics. Means are per timed operation (or,
  * for `streaming.*`, per micro-batch during the timed phase). A layer a
  * workload does not exercise reports 0.
  */
object Layers {

  /** Every per-layer metric name, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "caches.rdds" -> "count", "caches.mb" -> "MB", "caches.new_rdds_timed" -> "count",
    "catalyst.analyze_ms" -> "ms", "catalyst.optimize_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "catalyst.exchanges" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_sum_ms" -> "ms", "exec.task_max_ms" -> "ms",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.driver_ms" -> "ms",
    "streaming.addBatch_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.walCommit_ms" -> "ms",
    "streaming.commitOffsets_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB", "streaming.late_dropped" -> "count",
    "table.read_ms" -> "ms", "table.segments_per_read" -> "count", "table.versions" -> "count",
    "table.bytes_per_event" -> "B", "table.compact_ms" -> "ms", "table.expire_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB")

  /** Each timed operation's plan fingerprint (a hash of its canonicalised
    * optimised plans), for spotting a plan that changed between commits. */
  def planFingerprints(ctx: Ctx): Seq[(String, Int)] =
    ctx.ops.filter(o => o.timed && o.measuredPlans > 0).map(o => (o.name, o.planHash)).distinct
      .sortBy(_._1).toSeq

  private def opOf(group: String): Option[Int] =
    if (group.startsWith("lb-")) Try(group.substring(group.lastIndexOf('-') + 1).toInt).toOption
    else None

  /** Length of the union of `spans`, clipped to [lo, hi]. */
  private def covered(spans: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(s => s._2 > s._1)
      .sortBy(_._1)
      .foldLeft((0.0, lo)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
      }._1

  def metrics(ctx: Ctx, stream: StreamListener, out: Outcome): Seq[(String, Double, String)] = {
    val timed = ctx.ops.filter(_.timed).toSeq
    val ex = ctx.exec.get
    ex.drain()
    val jobs = ex.jobs.asScala.toSeq
    val stages = ex.stages.asScala.toSeq
    // a job or stage belongs to the operation named by its job group, or,
    // when it comes from a streaming query, to the operation it ran inside
    def belongs(op: Op, group: String, atMs: Double): Boolean = opOf(group) match {
      case Some(id) => id == op.id
      case None     => atMs >= op.startMs && atMs <= op.endMs
    }
    val perOp = timed.map { op =>
      val ss = stages.filter(s => belongs(op, s.group, s.submitMs.toDouble))
      val busy = covered(ss.map(s => (s.submitMs.toDouble, s.endMs.toDouble)), op.startMs, op.endMs)
      Map(
        "queries.build_jobs" -> jobs.count(_._1 == s"lb-build-${op.id}").toDouble,
        "exec.jobs" -> jobs.count { case (g, t) => belongs(op, g, t.toDouble) }.toDouble,
        "exec.stages" -> ss.size.toDouble,
        "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
        "exec.task_sum_ms" -> ss.map(_.runMs).sum.toDouble,
        "exec.task_max_ms" -> (0L +: ss.map(_.maxTaskMs)).max.toDouble,
        "exec.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
        "exec.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
        "exec.spill_mb" -> ss.map(_.spill).sum / 1e6,
        "exec.driver_ms" -> math.max(0.0, op.ms - busy))
    }
    def perOpMean(k: String) = Stats.mean(perOp.map(_(k)))
    val planned = timed.filter(_.measuredPlans > 0)

    val storage = ctx.spark.sparkContext.getRDDStorageInfo
    val progress = stream.all
    val timedBatches = progress.filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      t >= ctx.timedStartMs && t <= ctx.timedEndMs
    }
    def phase(k: String) =
      Stats.mean(timedBatches.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val lastByQuery = progress.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val state = lastByQuery.flatMap(_.stateOperators.toSeq)

    val values: Map[String, Double] = Map(
      "queries.build_ms" -> Stats.mean(timed.map(_.buildMs)),
      "caches.rdds" -> storage.length.toDouble,
      "caches.mb" -> storage.map(i => i.memSize + i.diskSize).sum / 1e6,
      "caches.new_rdds_timed" -> storage.count(i => !ctx.cachedAtTimedStart(i.id)).toDouble,
      "catalyst.analyze_ms" -> Stats.mean(planned.map(_.analyzeMs)),
      "catalyst.optimize_ms" -> Stats.mean(planned.map(_.optimizeMs)),
      "catalyst.plan_ms" -> Stats.mean(planned.map(_.planMs)),
      "catalyst.exchanges" -> Stats.mean(planned.map(_.exchanges.toDouble)),
      "streaming.addBatch_ms" -> phase("addBatch"),
      "streaming.getBatch_ms" -> phase("getBatch"),
      "streaming.queryPlanning_ms" -> phase("queryPlanning"),
      "streaming.walCommit_ms" -> phase("walCommit"),
      "streaming.commitOffsets_ms" -> phase("commitOffsets"),
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> state.map(_.memoryUsedBytes).sum / 1e6,
      "streaming.late_dropped" -> progress.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum.toDouble,
      "jvm.gc_ms" -> ctx.timedGcMs,
      "jvm.heap_peak_mb" -> ctx.heapPeakMb
    ) ++ perOp.headOption.map(_.keys).getOrElse(Nil).map(k => k -> perOpMean(k)) ++ out.layer
    Names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
