package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The measurement modes of [[Bench]], run in the shared test session. */
class BenchSpec extends SparkFunSuite {

  private def stdout(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8").linesIterator.filter(_.nonEmpty).toSeq
  }
  private def json(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("a named sweep prints the five result lines with their keys") {
    val names = Seq("q01_pricing_summary", "q02_filter_project")
    val lines = stdout(Bench.sweep(spark, sf, sf, reps = 1, names)).map(json)
    assert(lines.map(_.get("metric").asText) ==
      Seq("total", "slowest_isolated", "cache_footprint", "adjudication", "total_compact"))
    val Seq(total, iso, footprint, adj, compact) = lines
    assert(keys(total) == Seq("metric", "value", "unit", "queries", "failed", "sf",
      "warmup_sf", "reps", "estimator", "passes"))
    assert(keys(total.get("queries")).sorted == names)
    assert(total.get("failed").size == 0)
    assert(keys(total.get("passes")).sorted == names)
    assert(keys(iso) == Seq("metric", "unit", "queries", "anomalous", "reps", "estimator"))
    assert(keys(footprint) == Seq("metric", "caches", "n_cached_rdds", "cached_mem_mb",
      "cached_disk_mb", "per_rdd"))
    assert(keys(adj) == Seq("metric", "unit", "note", "cells", "anomalous"))
    assert(keys(compact) == Seq("metric", "value", "unit", "n_queries", "n_failed",
      "mean_sec", "slowest5", "anomalous"))
    assert(compact.get("n_queries").asInt == 2 && compact.get("n_failed").asInt == 0)
  }

  test("an unknown query name fails and lists the known names") {
    val e = intercept[IllegalArgumentException](
      Bench.sweep(spark, sf, sf, reps = 1, Seq("q01_pricing_summary", "q0_nope")))
    assert(e.getMessage.contains("q0_nope"))
    assert(e.getMessage.contains("q01_pricing_summary, q02_filter_project"))
  }

  test("--plans writes one section per named entry, q87 as its one-iteration frame") {
    val out = Paths.get(TestTmp.dir("plans"), "plans.md").toString
    stdout(Bench.plans(spark, sf, out, Seq("q87_pagerank", "q01_pricing_summary")))
    val text = Files.readString(Paths.get(out))
    assert(text.linesIterator.filter(_.startsWith("## ")).toSeq ==
      Seq("## q01_pricing_summary", "## q87_pagerank (one power iteration)"))
    val q87 = text.substring(text.indexOf("## q87_pagerank"))
    // the iteration's own joins and aggregates, not a checkpoint scan
    assert(q87.contains("HashAggregate") && q87.contains("Join"))
    assert(!q87.contains("ExistingRDD"))
    // each frame's own plan ran, so its section is AQE's final plan
    val q01 = text.substring(text.indexOf("## q01_pricing_summary"), text.indexOf("## q87_pagerank"))
    assert(q01.contains("isFinalPlan=true") && !q01.contains("isFinalPlan=false"), q01)
  }

  test("--scale prints each named probe plus the multipliers and sf") {
    val Seq(line) = stdout(Bench.scale(spark, sf, Seq(1), Seq("token_stats", "lsh_candidates")))
    val res = json(line)
    assert(keys(res) == Seq("token_stats", "lsh_candidates", "multipliers", "sf"))
    assert(res.get("token_stats").size == 1 && res.get("lsh_candidates").size == 1)
    assert(res.get("multipliers").get(0).asInt == 1 && res.get("sf").asText == sf)
  }
}
