package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A traced call: its parent span (-1 at the root) and its operation. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans from the benchmark's own code around each call into a layer. The
  * client is single-threaded, so the open-span stack needs no locking.
  * With tracing off, [[span]] is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  /** Wall-clock origin, so span times line up with listener event times. */
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6

  /** Self time (span minus its children) summed per span name, over the
    * spans of the given operations. */
  def selfMs(ops: Set[Int]): Map[String, Double] = {
    val mine = spans.filter(s => ops(s.op))
    val childMs = mine.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    mine.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: String): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ms":${epochMs(s.startNs)}%.3f,"end_ms":${epochMs(s.endNs)}%.3f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** One completed stage, with the job group that submitted it. */
final case class Stage(group: String, submitMs: Long, endMs: Long, tasks: Int, runMs: Long,
                       shuffleWrite: Long, shuffleRead: Long, spill: Long, maxTaskMs: Long)

/** Jobs and stages as the scheduler reports them, each with the job group
  * of the thread that submitted it: the client sets `lb-op-<id>` around
  * each operation; streaming queries set their own.
  */
final class ExecListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[(String, Long)]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val maxTask = new ConcurrentHashMap[Int, java.lang.Long]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobs.add((g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    maxTask.merge(e.stageId, e.taskInfo.duration, (a, b) => math.max(a, b))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L)
    stages.add(Stage(stageGroup.getOrDefault(i.stageId, ""), submit, i.completionTime.getOrElse(submit),
      i.numTasks, if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      Option(maxTask.get(i.stageId)).map(_.longValue).getOrElse(0L)))
  }

  /** Waits (bounded) until every started job has been reported ended, so
    * the records are complete before they are read. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get < started.get && System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(300) // stage completions trail the last job end on the bus
  }
}

/** Every progress report of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
}

object Plans {
  /** Shuffle and broadcast exchanges in the final (adaptive) physical plan. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec        => exchanges(q.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
