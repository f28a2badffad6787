package lakebench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import graft.queries.ServingSql
import org.apache.spark.sql.DataFrame

/** `olap_short`: the reference's analytics and dashboard surface at sf0.1
  * from one client. Each pass runs every query (`op`) and every
  * serving panel (`read`) once, in an order drawn from the seed; the
  * timed phase runs `--seconds` / [[NominalPassS]] whole passes, at
  * least two.
  *
  * Every execution collects the whole result, which forces every output
  * column, and its digest must equal the stored one.
  *
  * Set-up: session start, one checking pass at sf0.1, then one untimed
  * warm-up pass. The checking pass pays the first-execution costs (code
  * generation, class loading); a warm-up at sf0.01 would pay them again and
  * does not fit the run's time budget.
  *
  * The operations are all 7 serving panels and 9 queries: the first
  * execution of each distinct query costs 1 to 2.5 s here (mostly code
  * generation), so set-up grows with the number of distinct queries, and
  * all 20 parity queries and 7 panels do not fit the run's budget. Seven
  * parity queries keep one query per operator shape: aggregation,
  * scan-filter with a large result, event-time windows, merge (full outer
  * join), multi-way join, sessionisation and cohorts. The two others, q23
  * (LSH candidate pairs) and q176 (b-bit minhash estimates), read the
  * minhash signatures from a `QueryCaches` slot that both share: set-up
  * fills it, and every timed execution hits it.
  */
object Olap {

  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q05_minute_metrics", "q08_merge_upsert",
    "q11_region_revenue", "q12_sessionize", "q16_cohort_retention",
    "q23_lsh_candidates", "q176_bbit_minhash")

  val Panels: Seq[String] = ServingSql.panels.keys.toSeq.sorted

  /** The nominal length of one pass (6 to 8 s on a 4-core host), from
    * which --seconds sets the pass count. */
  val NominalPassS = 7.5

  private val all: Seq[(String, String)] = Queries.map("op" -> _) ++ Panels.map("read" -> _)

  private def frame(ctx: Ctx, kind: String, name: String, dir: String): DataFrame =
    if (kind == "op") SparkEntry.queries(name)(ctx.spark, dir)
    else ServingSql.run(ctx.spark, name)

  private def sf(ctx: Ctx, scale: String): String = {
    val dir = s"${ctx.args.data}/$scale"
    ServingSql.registerViews(ctx.spark, dir)
    dir
  }

  def loadExpected(path: String): Map[String, String] = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    root.properties().asScala.map(e => e.getKey -> e.getValue.get("digest").asText()).toMap
  }

  def run(ctx: Ctx, setupStart: Long): (Double, Outcome) = {
    val expected = loadExpected(ctx.args.expected)
    val dir = sf(ctx, "sf0.1")
    val rng = new scala.util.Random(ctx.args.seed)
    // every execution collects the whole result (the latency) and then
    // compares its digest with the stored one (outside the latency)
    def pass(label: String, timed: Boolean): Unit =
      rng.shuffle(all).foreach { case (kind, name) =>
        ctx.run(kind, if (timed) name else s"$label:$name", timed) { op =>
          val df = ctx.build(op)(frame(ctx, kind, name, dir))
          (df.schema, ctx.collect(op, df))
        } { case (schema, rows) =>
          val digest = Digest.of(schema, rows)
          val want = expected.get(name)
          if (!want.contains(digest) && !timed)
            System.err.println(s"[lakebench] $name digest $digest, expected ${want.getOrElse("none")}")
          want.contains(digest)
        }
      }
    pass("check", timed = false)
    // the first pass after the checking pass still ran 1.0 to 1.3 times
    // slower than the ones after it (the JIT is still compiling), by an
    // amount that differed from run to run, so it is set-up
    pass("warm", timed = false)
    val setupS = (System.nanoTime() - setupStart) / 1e9

    // A pass count fixed by --seconds, not a deadline: ending on a deadline
    // gave two passes in one run and three in the next on the same host,
    // with different medians.
    val passes = math.max(2, math.round(ctx.args.seconds / NominalPassS).toInt)
    ctx.startTimed()
    for (_ <- 1 to passes) pass("", timed = true)
    ctx.endTimed()
    val timedOps = ctx.ops.filter(_.timed)
    // operations per second of the client's loop, without the digest checks
    val loopS = ctx.timedSeconds - timedOps.map(_.checkMs).sum / 1000.0
    (setupS, Outcome(timedOps.size / loopS, Nil,
      notes = Map("passes" -> passes.toDouble, "timed_s" -> ctx.timedSeconds, "loop_s" -> loopS)))
  }

  /** Writes the engine's digest of every operation at sf0.1, with the SQL
    * oracle of each query that has one (input to oracle.py). */
  def record(ctx: Ctx, out: String): Unit = {
    val dir = sf(ctx, "sf0.1")
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    all.foreach { case (kind, name) =>
      ctx.run(kind, s"record:$name", timed = false) { op =>
        val df = ctx.build(op)(frame(ctx, kind, name, dir))
        val node = root.putObject(name)
        node.put("digest", Digest.of(df.schema, ctx.collect(op, df)))
        SparkEntry.oracleSql.get(name) match {
          case Some(sql) => node.put("oracle", sql)
          case None      => node.putNull("oracle")
        }
      }(_ => true)
    }
    Files.writeString(Paths.get(out), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
