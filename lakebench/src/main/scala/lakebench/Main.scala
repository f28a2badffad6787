package lakebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Command line of one benchmark run (see run.py, which supplies every
  * path and builds the classpath). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    cores: Int,
    expected: String,
    result: String,
    record: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), kv.getOrElse("cores", "4").toInt, need("expected"),
      need("result"), kv.get("record"))
  }
}

/** One operation a workload performs. Timed operations feed the
  * end-to-end metrics; the rest are set-up or checks. `kind` is `op` (the
  * workload's main operation), `read` (a dashboard read) or `maint`. */
final class Op(val id: Int, val kind: String, val name: String, val timed: Boolean) {
  var startMs = 0.0
  var endMs = 0.0
  var ms = 0.0
  var checkMs = 0.0
  var ok = false
  var error = ""
  var buildMs = 0.0
  var measuredPlans = 0
  var analyzeMs = 0.0
  var optimizeMs = 0.0
  var planMs = 0.0
  var exchanges = 0
  var planHash = 0
}

/** What a workload hands back besides its operations. */
final case class Outcome(throughputPerS: Double, checks: Seq[(String, Boolean)],
                         layer: Map[String, Double] = Map.empty, notes: Map[String, Double] = Map.empty)

/** State shared by a run: the session, the trace, and every operation. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer(args.trace)
  val exec: Option[ExecListener] =
    if (args.trace) Some(new ExecListener) else None
  exec.foreach(spark.sparkContext.addSparkListener)
  val ops = mutable.ArrayBuffer[Op]()
  var timedStartMs = 0.0
  var timedEndMs = 0.0
  var cachedAtTimedStart = Set.empty[Int]
  var timedGcMs = 0.0
  var heapPeakMb = 0.0
  private var gcAtStart = 0L

  def startTimed(): Unit = {
    cachedAtTimedStart = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    gcAtStart = Jvm.gcMs
    Jvm.resetHeapPeak()
    timedStartMs = tracer.epochMs(System.nanoTime())
  }

  def endTimed(): Unit = {
    timedEndMs = tracer.epochMs(System.nanoTime())
    timedGcMs = (Jvm.gcMs - gcAtStart).toDouble
    heapPeakMb = Jvm.heapPeakMb
  }

  def timedSeconds: Double = (timedEndMs - timedStartMs) / 1000.0

  private def group(prefix: String, op: Op): Unit =
    if (args.trace) spark.sparkContext.setJobGroup(s"$prefix-${op.id}", op.name)

  /** Runs `body` as one operation; its latency covers `body` only, and
    * `check` (outside the latency) decides whether the result is right.
    * A throw, a failed check or a missing result fails the operation. */
  def run[T](kind: String, name: String, timed: Boolean)(body: Op => T)(check: T => Boolean): Op = {
    val op = new Op(ops.size, kind, name, timed)
    ops += op
    group("lb-op", op)
    val t0 = System.nanoTime()
    op.startMs = tracer.epochMs(t0)
    try {
      val r = tracer.span(kind, op.id)(body(op))
      val t1 = System.nanoTime()
      op.ms = (t1 - t0) / 1e6
      op.endMs = tracer.epochMs(t1)
      op.ok = tracer.span("check", op.id)(check(r))
      op.checkMs = (System.nanoTime() - t1) / 1e6
      if (!op.ok && op.error.isEmpty) op.error = "wrong result"
    } catch {
      case NonFatal(e) =>
        val t1 = System.nanoTime()
        op.ms = (t1 - t0) / 1e6
        op.endMs = tracer.epochMs(t1)
        op.ok = false
        op.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    } finally {
      if (args.trace) spark.sparkContext.clearJobGroup()
    }
    if (!op.ok) System.err.println(s"[lakebench] FAILED ${op.kind} ${op.name}: ${op.error}")
    op
  }

  /** Times a call that builds a DataFrame (jobs it runs eagerly are
    * counted as build jobs). */
  def build(op: Op)(body: => DataFrame): DataFrame = {
    group("lb-build", op)
    val t0 = System.nanoTime()
    try tracer.span("queries.build", op.id)(body)
    finally {
      op.buildMs += (System.nanoTime() - t0) / 1e6
      group("lb-op", op)
    }
  }

  /** Executes `df` and returns its rows (which forces every column). */
  def collect(op: Op, df: DataFrame): Array[Row] = {
    val rows = tracer.span("action", op.id)(df.collect())
    plans(op, df)
    rows
  }

  private def plans(op: Op, df: DataFrame): Unit =
    if (args.trace) {
      def phase(p: String) =
        df.queryExecution.tracker.phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      op.measuredPlans += 1
      op.analyzeMs += phase("parsing") + phase("analysis")
      op.optimizeMs += phase("optimization")
      op.planMs += phase("planning")
      op.exchanges += Plans.exchanges(df.queryExecution.executedPlan)
      op.planHash = op.planHash * 31 +
        df.queryExecution.optimizedPlan.canonicalized.treeString.hashCode
    }
}

object Main {
  /** The latency a failed operation counts with: it misses every limit. */
  val PenaltyMs = 180000.0

  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"lakebench-${args.workload}")
      // fixed, so that --cores changes only the number of task threads
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // sized past the query set so repeated passes never recompile
      // generated classes (the engine's own mains do the same)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      // the lakehouse drop check sums the progress of every batch of a run
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val setupStart = System.nanoTime()
    val spark = session(args)
    val ctx = new Ctx(spark, args)
    val stream = new StreamListener
    if (args.trace) spark.streams.addListener(stream)
    val exit =
      try {
        args.record match {
          case Some(out) => Olap.record(ctx, out); 0
          case None =>
            val (setupS, outcome) = args.workload match {
              case "olap_short" => Olap.run(ctx, setupStart)
              case "lakehouse"  => Lakehouse.run(ctx, setupStart)
              case w            => throw new IllegalArgumentException(s"unknown workload $w")
            }
            report(ctx, stream, setupS, outcome)
            0
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      } finally {
        spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
        spark.stop()
      }
    sys.exit(exit)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  private def jsonMetrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  private def report(ctx: Ctx, stream: StreamListener, setupS: Double, out: Outcome): Unit = {
    val args = ctx.args
    val timed = ctx.ops.filter(_.timed).toSeq
    val failedChecks = out.checks.filterNot(_._2).map(_._1)
    failedChecks.foreach(c => System.err.println(s"[lakebench] FAILED check $c"))
    // every operation counts, set-up and checks included
    val attempted = ctx.ops.size + out.checks.size
    val failed = ctx.ops.count(!_.ok) + failedChecks.size
    val correct = failed == 0 && timed.nonEmpty
    def lat(kind: String) = timed.filter(_.kind == kind).map(o => if (o.ok) o.ms else PenaltyMs)
    val ops = lat("op")
    val reads = lat("read")
    // Means, not percentiles: a run holds too few samples for a p90 with
    // ten samples beyond it, and the median of a pool of unlike operations
    // jumps between their latency clusters from run to run (the details
    // file reports p50, p90 and counts).
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_mean_ms", Stats.mean(ops), "ms"),
      ("read_mean_ms", Stats.mean(reads), "ms"),
      ("throughput_per_s", out.throughputPerS, "1/s"))
    val layer = if (args.trace) Layers.metrics(ctx, stream, out) else Nil
    val metrics = if (args.trace) layer else e2e
    val line = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${jsonMetrics(metrics)}}"""
    Files.writeString(Paths.get(args.result), line + "\n")

    // Details for the notes: both metric sets, sample counts, the tail of
    // each pooled p90, and (traced) the self time of each span name.
    val beyond = Seq("op" -> ops, "read" -> reads).map { case (k, xs) =>
      val p90 = Stats.quantile(xs, 0.9)
      s""""$k": {"samples": ${xs.size}, "p50_ms": ${num(Stats.quantile(xs, 0.5))}, "p90_ms": ${num(p90)}, "beyond_p90": ${xs.count(_ > p90)}}"""
    }.mkString("{", ", ", "}")
    val selfMs =
      if (args.trace) {
        val ids = timed.map(_.id).toSet
        ctx.tracer.selfMs(ids).toSeq.sortBy(_._1)
          .map { case (n, v) => s""""$n": ${num(v / math.max(1, timed.size))}""" }.mkString("{", ", ", "}")
      } else "{}"
    val notes = out.notes.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    val errors = ctx.ops.filterNot(_.ok).take(20).map(o => "\"" + s"${o.name}: ${o.error}".replace("\\", "/").replace("\"", "'") + "\"")
    val plans = Layers.planFingerprints(ctx).map { case (n, h) => s"""["$n", $h]""" }.mkString(", ")
    val opList = ctx.ops.map(o => f"""["${o.kind}", "${o.name}", ${o.timed}, ${o.ms}%.1f, ${o.ok}]""").mkString(", ")
    val details =
      s"""{"workload": "${args.workload}", "seed": ${args.seed}, "trace": ${args.trace}, "cores": ${args.cores}, "correct": $correct, "attempted": $attempted, "failed": $failed, "e2e": ${jsonMetrics(e2e)}, "layer": ${jsonMetrics(layer)}, "pools": $beyond, "self_ms_per_op": $selfMs, "notes": $notes, "failed_checks": [${failedChecks.map("\"" + _ + "\"").mkString(", ")}], "errors": [${errors.mkString(", ")}], "plans": [$plans], "ops": [$opList]}"""
    Files.writeString(Paths.get(args.result + ".details.json"), details + "\n")
    if (args.trace) ctx.tracer.write(args.result + ".spans.jsonl")
  }
}
