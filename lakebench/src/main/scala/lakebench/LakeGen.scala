package lakebench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

final case class ContentEvent(event_id: Long, ts: Timestamp, video_id: Long, user_id: Long,
                              event_type: String)
final case class OrderEvent(event_id: Long, order_id: Long, ts: Timestamp, status: String,
                            user_id: Option[Long], amount_cents: Option[Long])
final case class UserChange(op: String, ts_ms: Long, user_id: Long, country: String, segment: String)

/** The `lakehouse` workload's seeded event generator, and beside it the
  * batch recomputation every committed table and read is checked against:
  * the state each pipeline must reach, computed from the generated events
  * alone, on the driver, without the engine.
  *
  * Shapes follow the reference generators (BASELINE.md):
  *   - content: sessions over 500 videos drawn Zipf(1.5); each has one
  *     impression, play_start 85%, then like 8%, share 1.5%, finish 40%;
  *     3% of events arrive out of order inside the 10 s watermark and 1%
  *     arrive 2 to 4 minutes late, beyond it;
  *   - orders: 70% new orders, 30% state-machine updates
  *     (CREATED→PAID|CANCELLED, PAID→SHIPPED|RETURNED) that carry only the
  *     header and the new status;
  *   - users CDC: 80% creates, 20% updates, after a 1,000-user bootstrap.
  * Event time advances 60 s per round.
  */
final class LakeGen(seed: Long) {
  import LakeGen._

  private var nextEvent = 0L
  private def eventId(): Long = { nextEvent += 1; nextEvent }
  private def rng(round: Int, stream: Int) = new Random(seed * 1000003L + round * 7L + stream)

  private val zipfCdf: Array[Double] = {
    val w = (1 to Videos).map(k => 1.0 / math.pow(k, 1.5))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def video(r: Random): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    (if (i >= 0) i else math.min(-i - 1, Videos - 1)).toLong
  }

  // ---- recomputed state -------------------------------------------------
  /** order_id → (status, user_id, amount_cents, last event ms). */
  val orders = mutable.HashMap[Long, (String, Long, Long, Long)]()
  /** user_id → (ts_ms, country, segment). */
  val users = mutable.HashMap[Long, (Long, String, String)]()
  /** (window start ms, video) → counts per event type, events kept by the watermark. */
  val windows = mutable.HashMap[(Long, Long), Array[Long]]()
  private var maxEventMs = Long.MinValue
  /** The aggregation's watermark: the newest event time of all earlier
    * batches minus the 10 s delay (Long.MinValue before the first batch). */
  private def watermark: Long = if (maxEventMs == Long.MinValue) Long.MinValue else maxEventMs - DelayMs
  var lateDroppedEvents = 0L
  /** Late rows as the aggregation drops them: after its partial aggregate,
    * one row per (window, video) of the late events of a batch. */
  var lateDroppedGroups = 0L
  var eventsOffered = 0L

  private val open = mutable.ArrayBuffer[Long]()
  private var nextOrder = 0L
  private var nextUser = 0L
  private var committedUsers = 0L

  def roundStartMs(round: Int): Long = T0 + round * RoundMs

  /** The last closed window's end: windows ending at or before it are
    * final and must be in the gold table. */
  def closedUpTo: Long = watermark

  def bootstrap(): Seq[UserChange] = {
    val r = rng(-1, 0)
    val out = (0 until BootstrapUsers).map { i =>
      val u = nextUser; nextUser += 1
      UserChange("c", T0 - RoundMs + i * 12L, u, Countries(r.nextInt(Countries.size)),
        Segments(r.nextInt(Segments.size)))
    }
    applyUsers(out)
    committedUsers = nextUser
    out
  }

  private def applyUsers(cs: Seq[UserChange]): Unit = {
    cs.foreach(c => users(c.user_id) = (c.ts_ms, c.country, c.segment))
    eventsOffered += cs.size
  }

  /** One round: a batch for each of the three pipelines. */
  def round(round: Int): (Seq[ContentEvent], Seq[OrderEvent], Seq[UserChange]) = {
    val c = content(round)
    val o = orderBatch(round)
    val u = userBatch(round)
    committedUsers = nextUser
    (c, o, u)
  }

  private def content(round: Int): Seq[ContentEvent] = {
    val r = rng(round, 1)
    val base = roundStartMs(round)
    val evs = mutable.ArrayBuffer[(Long, Long, Long, String)]()
    while (evs.size < BatchSize) {
      val v = video(r)
      val user = r.nextInt(100000).toLong
      val t = base + r.nextInt(55000)
      evs += ((t, v, user, "impression"))
      if (r.nextDouble() < 0.85) {
        val tp = t + 100 + r.nextInt(1000)
        evs += ((tp, v, user, "play_start"))
        if (r.nextDouble() < 0.08) evs += ((tp + 200 + r.nextInt(2000), v, user, "like"))
        if (r.nextDouble() < 0.015) evs += ((tp + 200 + r.nextInt(2000), v, user, "share"))
        if (r.nextDouble() < 0.40) evs += ((tp + 1000 + r.nextInt(3000), v, user, "play_finish"))
      }
    }
    val out = evs.take(BatchSize).map { case (t, v, user, tpe) =>
      val x = r.nextDouble()
      val ts =
        if (x < 0.01) t - 120000 - r.nextInt(120000)  // late, beyond the watermark
        else if (x < 0.04) t - 1 - r.nextInt(8000)    // out of order, inside it
        else t
      ContentEvent(eventId(), new Timestamp(ts), v, user, tpe)
    }.toSeq
    // recompute: late events of this batch drop against the watermark of
    // the batches before it; the rest count into their 1-minute window
    val wm = watermark
    val droppedGroups = mutable.HashSet[(Long, Long)]()
    out.foreach { e =>
      val ms = e.ts.getTime
      val start = Math.floorDiv(ms, RoundMs) * RoundMs
      if (start + RoundMs <= wm) {
        lateDroppedEvents += 1
        droppedGroups += ((start, e.video_id))
      } else {
        windows.getOrElseUpdate((start, e.video_id), new Array[Long](EventTypes.size))(
          EventTypes.indexOf(e.event_type)) += 1
      }
    }
    lateDroppedGroups += droppedGroups.size
    maxEventMs = math.max(maxEventMs, out.map(_.ts.getTime).max)
    eventsOffered += out.size
    out
  }

  private def orderBatch(round: Int): Seq[OrderEvent] = {
    val r = rng(round, 2)
    val base = roundStartMs(round)
    val out = (0 until BatchSize).map { i =>
      val ts = base + i * 12L
      if (open.isEmpty || r.nextDouble() < 0.7) {
        val id = nextOrder; nextOrder += 1
        val user = r.nextInt(committedUsers.toInt).toLong
        val amount = 500L + r.nextInt(50000)
        open += id
        orders(id) = ("CREATED", user, amount, ts)
        OrderEvent(eventId(), id, new Timestamp(ts), "CREATED", Some(user), Some(amount))
      } else {
        val idx = r.nextInt(open.size)
        val id = open(idx)
        val (status, user, amount, _) = orders(id)
        val next = status match {
          case "CREATED" => if (r.nextDouble() < 0.7) "PAID" else "CANCELLED"
          case _         => if (r.nextDouble() < 0.8) "SHIPPED" else "RETURNED"
        }
        if (next != "PAID") { open(idx) = open.last; open.remove(open.size - 1) }
        orders(id) = (next, user, amount, ts)
        OrderEvent(eventId(), id, new Timestamp(ts), next, None, None)
      }
    }
    eventsOffered += out.size
    out
  }

  private def userBatch(round: Int): Seq[UserChange] = {
    val r = rng(round, 3)
    val base = roundStartMs(round)
    val out = (0 until BatchSize).map { i =>
      val ts = base + i * 12L
      val country = Countries(r.nextInt(Countries.size))
      val segment = Segments(r.nextInt(Segments.size))
      if (r.nextDouble() < 0.8) {
        val u = nextUser; nextUser += 1
        UserChange("c", ts, u, country, segment)
      } else UserChange("u", ts, r.nextInt(nextUser.toInt).toLong, country, segment)
    }
    applyUsers(out)
    out
  }

  // ---- expected read results ----------------------------------------------
  def closedWindows: Seq[((Long, Long), Array[Long])] =
    windows.toSeq.filter { case ((start, _), _) => start + RoundMs <= closedUpTo }

  /** country → (orders, revenue cents, shipped, cancelled or returned). */
  def ordersByCountry: Map[String, (Long, Long, Long, Long)] =
    orders.values.groupBy { case (_, user, _, _) => users(user)._2 }.map { case (c, os) =>
      c -> (os.size.toLong, os.map(_._3).sum, os.count(_._1 == "SHIPPED").toLong,
        os.count(o => o._1 == "CANCELLED" || o._1 == "RETURNED").toLong)
    }

  /** Top 50 videos by velocity over the last 30 closed minutes:
    * (video, score, impressions). */
  def topVelocity: Seq[(Long, Long, Long)] = {
    val closed = closedWindows
    if (closed.isEmpty) Nil
    else {
      val last = closed.map(_._1._1).max
      closed.filter(_._1._1 > last - 30 * RoundMs)
        .groupBy(_._1._2).toSeq
        .map { case (v, ws) =>
          (v, ws.map { case (_, n) => velocity(n) }.sum, ws.map(_._2(0)).sum)
        }
        .sortBy { case (v, score, _) => (-score, v) }
        .take(50)
    }
  }

  /** (newest closed window start ms, newest user change ms, newest order event ms). */
  def freshness: (Long, Long, Long) =
    (closedWindows.map(_._1._1).max, users.values.map(_._1).max, orders.values.map(_._4).max)
}

object LakeGen {
  val T0 = 1704067200000L // 2024-01-01T00:00:00Z
  val RoundMs = 60000L
  val DelayMs = 10000L
  val BatchSize = 5000
  val BootstrapUsers = 1000
  val Videos = 500
  val EventTypes = Seq("impression", "play_start", "like", "share", "play_finish")
  val Countries = Seq("US", "BR", "IN", "ID", "MX", "DE", "FR", "GB", "JP", "KR",
    "VN", "TR", "PH", "EG", "NG", "ES", "IT", "CA", "AU", "PL")
  val Segments = Seq("new", "casual", "core", "power", "whale")

  /** The dashboard's velocity score of one window's counts. */
  def velocity(n: Array[Long]): Long = n(1) + 3 * n(2) + 5 * n(3) + 2 * n(4)
}
