package graft.table

import graft.SparkFunSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads what a SnapshotLog manifest records, straight from its JSON. */
object Manifests {
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  def text(path: String, v: Int): String =
    Files.readString(Paths.get(path, "_log", f"v$v%09d.json"))

  /** The segment dirs version `v` references, oldest first. */
  def segments(path: String, v: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Json.readTree(text(path, v)).path("segments").asScala.map(_.asText).toSeq
  }

  /** The schema version `v` records. */
  def schema(path: String, v: Int): StructType =
    DataType.fromJson(Json.readTree(text(path, v)).get("schema").toString).asInstanceOf[StructType]

  /** Every retained version records exactly the schemas parquet reads of
    * its segments infer, merged in segment order: each footer's columns
    * the earlier footers lack (by case-insensitive name) go at the end.
    */
  def assertSchemaMatchesFooters(spark: SparkSession, path: String): Unit =
    graft.table.SnapshotLog.versions(spark, path).foreach { v =>
      val footers = segments(path, v).map(seg => spark.read.parquet(s"$path/$seg").schema)
      val merged = footers.reduce((acc, s) => StructType(acc.fields ++
        s.fields.filterNot(f => acc.fieldNames.exists(_.equalsIgnoreCase(f.name)))))
      assert(schema(path, v) == merged, s"v$v: recorded ${schema(path, v)}, footers $merged")
    }
}

class SnapshotLogSpec extends SparkFunSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmp(): String = graft.TestTmp.dir("snaplog") + "/t"

  /** The result of `body` and the number of Spark jobs it started. */
  private def jobsStartedBy[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    def jobs(group: String) = sc.statusTracker.getJobIdsForGroup(group).length
    sc.setJobGroup(s"build-$id", "frame build")
    val a = try body finally sc.clearJobGroup()
    // job events reach the status store in order: once the fence job is
    // there, every job the build started is too
    sc.setJobGroup(s"fence-$id", "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (jobs(s"fence-$id") == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(jobs(s"fence-$id") == 1, "the fence job never reached the status store")
    (a, jobs(s"build-$id"))
  }

  /** `SnapshotLog.read` starts no job while it builds its frame. */
  private def readNoJobs(path: String, version: Option[Int] = None): DataFrame = {
    val (df, jobs) = jobsStartedBy(SnapshotLog.read(spark, path, version))
    assert(jobs == 0, s"building the read of $path at $version started $jobs jobs")
    df
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("commit/read round-trip with replace and append semantics") {
    val path = tmp()
    val v1 = SnapshotLog.commitReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    val v2 = SnapshotLog.commitAppend(Seq((3, "c")).toDF("id", "v"), path)
    assert((v1, v2) == (1, 2))
    assert(SnapshotLog.read(spark, path).count() == 3)
    val v3 = SnapshotLog.commitReplace(Seq((9, "z")).toDF("id", "v"), path)
    assert(v3 == 3)
    assert(SnapshotLog.read(spark, path).collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("time travel reads any retained version") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", "v"), path)
    SnapshotLog.commitAppend(Seq((2, "b")).toDF("id", "v"), path)
    SnapshotLog.commitReplace(Seq((3, "c")).toDF("id", "v"), path)
    assert(SnapshotLog.read(spark, path, Some(1)).collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(SnapshotLog.read(spark, path, Some(2)).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(SnapshotLog.read(spark, path, Some(3)).collect().map(_.getInt(0)).toSeq == Seq(3))
    val snaps = SnapshotLog.snapshots(spark, path).collect()
    assert(snaps.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(snaps.map(_.getString(2)).toSeq == Seq("replace", "append", "replace"))
    assert(snaps.map(_.getInt(3)).toSeq == Seq(1, 2, 1))
  }

  test("expireSnapshots age guard protects a fresh unreferenced segment (in-flight commit)") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", "v"), path)
    SnapshotLog.commitReplace(Seq((2, "b")).toDF("id", "v"), path)
    // default cutoff (1h): v1's segment is unreferenced but too fresh to GC
    val (expired, deleted) = SnapshotLog.expireSnapshots(spark, path, retainLast = 1)
    assert(expired == Seq(1) && deleted.isEmpty)
  }

  test("expireSnapshots retains last N, GCs exactly the unreferenced segments") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", "v"), path) // seg A
    SnapshotLog.commitReplace(Seq((2, "b")).toDF("id", "v"), path) // seg B
    SnapshotLog.commitAppend(Seq((3, "c")).toDF("id", "v"), path)  // segs B,C
    // orphanOlderThanMs=0: in tests everything is "old enough" to sweep
    val (expired, deleted) = SnapshotLog.expireSnapshots(spark, path, retainLast = 2, orphanOlderThanMs = 0L)
    assert(expired == Seq(1))
    assert(deleted.size == 1) // only v1's segment is unreferenced (B is shared)
    // surviving versions still read correctly after GC
    assert(SnapshotLog.versions(spark, path) == Seq(2, 3))
    assert(SnapshotLog.read(spark, path, Some(2)).count() == 1)
    assert(SnapshotLog.read(spark, path, Some(3)).count() == 2)
    intercept[Exception](SnapshotLog.read(spark, path, Some(1)).count())
  }

  test("commitDelta: read folds latest-wins with carry, deletes cut history, time travel works") {
    val path = tmp()
    // base: two users
    SnapshotLog.commitReplace(
      Seq(("u1", 1L, "created", Some(10.0), false), ("u2", 2L, "created", Some(20.0), false))
        .toDF("id", "ts", "status", "amount", "del"), path)
    val spec = SnapshotLog.MergeSpec(Seq("id"), carryCols = Seq("amount"),
      deleteCol = Some("del"), orderCol = Some("ts"))
    // delta 1: u1 pays (sparse amount null → carried), u2 deleted at ts=5
    SnapshotLog.commitDelta(
      Seq(("u1", 3L, "paid", None: Option[Double], false), ("u2", 5L, null, None: Option[Double], true))
        .toDF("id", "ts", "status", "amount", "del"), path, spec)
    val v2 = SnapshotLog.read(spark, path).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), Option(r.get(3)))).toMap
    assert(v2 == Map("u1" -> ((3L, "paid", Some(10.0)))))
    // delta 2: stale delete (ts=0) must NOT beat u1's newer state;
    // u2 re-inserted AFTER its delete — pre-delete amount must not carry
    SnapshotLog.commitDelta(
      Seq(("u1", 0L, null, None: Option[Double], true), ("u2", 7L, "created", None: Option[Double], false))
        .toDF("id", "ts", "status", "amount", "del"), path, spec)
    val v3 = SnapshotLog.read(spark, path).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), Option(r.get(3)))).toMap
    assert(v3 == Map(
      "u1" -> ((3L, "paid", Some(10.0))),
      "u2" -> ((7L, "created", None)))) // 20.0 from before the delete does not resurrect
    // time travel folds each version's own segment list
    assert(SnapshotLog.read(spark, path, Some(1)).count() == 2)
    assert(SnapshotLog.read(spark, path, Some(2)).collect().map(_.getString(0)).toSeq == Seq("u1"))
    // compaction folds the deltas into a plain base version with same data
    val cv = SnapshotLog.compactLatest(spark, path)
    assert(cv == 4)
    val v4 = SnapshotLog.read(spark, path).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), Option(r.get(3)))).toMap
    assert(v4 == v3)
    // post-compaction the manifest is a single plain segment (no fold)
    val snaps = SnapshotLog.snapshots(spark, path).collect().map(r => r.getInt(0) -> r.getInt(3)).toMap
    assert(snaps(4) == 1)
  }

  test("merge-on-read read path: one key exchange; fold width tracks segments and resets on compaction") {
    val path = tmp()
    val spec = SnapshotLog.MergeSpec(Seq("id"), orderCol = Some("ts"))
    SnapshotLog.commitReplace(
      (1 to 50).map(i => (s"u$i", 0L, i)).toDF("id", "ts", "x"), path)
    (1L to 3L).foreach { d =>
      SnapshotLog.commitDelta(
        (1 to 10).map(i => (s"u$i", d, i * 100)).toDF("id", "ts", "x"), path, spec)
    }
    // before its first action the kept fold prints its plan once, inside
    // the InMemoryRelation it fills
    def plan = SnapshotLog.read(spark, path).queryExecution.executedPlan.toString
    // the entire fold (delete cut + carry + latest-wins rank, windows all
    // partitioned on the merge key) must cost exactly ONE exchange on
    // that key — a second exchange means a window stopped sharing the
    // key partitioning and the read path re-shuffles the table per scan
    val p1 = plan
    assert(p1.split("Exchange hashpartitioning\\(").length - 1 == 1,
      s"fold must be a single key shuffle:\n$p1")
    assert(p1.split("Exchange hashpartitioning\\(")(1).startsWith("id"),
      s"the one exchange must be on the merge key:\n$p1")
    // the fold's width is one scan over base + 3 delta dirs, and its windows
    // share one spec, so one sort serves them all
    assert(p1.split("FileScan parquet").length - 1 == 1 && p1.contains("InMemoryFileIndex(4 paths)"),
      s"expected one scan over base+3 delta dirs:\n$p1")
    assert("\\bSort \\[".r.findAllIn(p1).size == 1, s"expected one sort:\n$p1")
    // compaction folds the deltas into a plain base: the read plan collapses
    // to one scan and needs no exchange at all (nothing left to fold)
    SnapshotLog.compactLatest(spark, path)
    val p2 = plan
    assert(p2.split("FileScan parquet").length - 1 == 1,
      s"post-compaction read must scan a single base segment:\n$p2")
    assert(!p2.contains("Exchange hashpartitioning"),
      s"post-compaction read must not shuffle:\n$p2")
    assert(SnapshotLog.read(spark, path).count() == 50)
  }

  test("commitDelta writes O(batch) bytes, not O(table)") {
    val path = tmp()
    val base = spark.range(100000).selectExpr("id", "repeat('x', 64) AS pad")
    SnapshotLog.commitReplace(base, path)
    def dataBytes(seg: String): Long = {
      val dir = new java.io.File(s"$path/$seg")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }
    val before = new java.io.File(s"$path/data").listFiles().map(_.getName).toSet
    SnapshotLog.commitDelta(
      spark.range(10).selectExpr("id", "repeat('y', 64) AS pad"),
      path, SnapshotLog.MergeSpec(Seq("id")))
    val after = new java.io.File(s"$path/data").listFiles().map(_.getName).toSet
    val newSegs = after -- before
    assert(newSegs.size == 1) // the delta commit wrote exactly one new segment
    val baseBytes  = before.map(s => dataBytes(s"data/$s")).sum
    val deltaBytes = newSegs.map(s => dataBytes(s"data/$s")).sum
    // 10 rows vs 100k rows: the delta is a sliver of the base, not a rewrite
    assert(deltaBytes < baseBytes / 20, s"delta $deltaBytes vs base $baseBytes")
    assert(SnapshotLog.read(spark, path).count() == 100000) // 10 upserts folded in
  }

  test("commitDelta validates merge-spec column names and reserved columns") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", "v"), path)
    val df = Seq((1, "b")).toDF("id", "v")
    intercept[IllegalArgumentException](
      SnapshotLog.commitDelta(df, path, SnapshotLog.MergeSpec(Seq("bad\"col"))))
    intercept[IllegalArgumentException](
      SnapshotLog.commitDelta(df.withColumn("__seq", org.apache.spark.sql.functions.lit(1)),
        path, SnapshotLog.MergeSpec(Seq("id"))))
    // a data column named _metadata would hide the file column the fold
    // reads each row's segment from
    Seq("_metadata", "_METADATA").foreach { c =>
      intercept[IllegalArgumentException](
        SnapshotLog.commitDelta(df.withColumn(c, org.apache.spark.sql.functions.lit("x")),
          path, SnapshotLog.MergeSpec(Seq("id"))))
    }
    assert(SnapshotLog.versions(spark, path) == Seq(1))
  }

  test("tags scans every retained manifest, not just the latest") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", "v"), path, Some("batch-0"))
    SnapshotLog.compactLatest(spark, path) // tags "compact-v1", now the latest
    assert(SnapshotLog.latestTag(spark, path).contains("compact-v1"))
    assert(SnapshotLog.tags(spark, path) == Set("batch-0", "compact-v1"))
  }

  test("commit rejects tags outside the manifest-safe charset") {
    val path = tmp()
    val df = Seq((1, "a")).toDF("id", "v")
    intercept[IllegalArgumentException](SnapshotLog.commitReplace(df, path, Some("""bad"tag""")))
    intercept[IllegalArgumentException](SnapshotLog.commitReplace(df, path, Some("bad]tag")))
    intercept[IllegalArgumentException](SnapshotLog.commitReplace(df, path, Some("")))
    // the log is untouched by the rejected commits
    assert(SnapshotLog.versions(spark, path).isEmpty)
    assert(SnapshotLog.commitReplace(df, path, Some("ok.tag-1_x")) == 1)
  }

  test("diff between versions: added/removed/changed, unchanged keys drop out") {
    val path = tmp()
    SnapshotLog.commitReplace(
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)).toDF("id", "v", "x"),
      path)
    // delta: change key 2, delete key 3, add key 5; keys 1/4 untouched
    SnapshotLog.commitDelta(
      Seq((2, Some("B"), Some(21), false), (3, None, None, true), (5, Some("e"), Some(50), false))
        .toDF("id", "v", "x", "is_del"),
      path, SnapshotLog.MergeSpec(key = Seq("id"), deleteCol = Some("is_del")))
    val d = SnapshotLog.diff(spark, path, 1, 2, Seq("id"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(d == Map(2 -> "changed", 3 -> "removed", 5 -> "added"))
    // schemas must line up
    intercept[IllegalArgumentException](SnapshotLog.diff(spark, path, 1, 2, Seq("nope")))
    // a self-diff is empty
    assert(SnapshotLog.diff(spark, path, 2, 2, Seq("id")).count() == 0L)
  }

  test("concurrent committers both land, versions stay distinct") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((0, "z")).toDF("id", "v"), path)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs = (1 to 4).map(i => Future {
      SnapshotLog.commitAppend(Seq((i, s"w$i")).toDF("id", "v"), path)
    })
    val got = Await.result(Future.sequence(fs), 120.seconds)
    assert(got.sorted == Seq(2, 3, 4, 5))
    // every append survived into the final state
    assert(SnapshotLog.read(spark, path).count() == 5)
  }

  test("a plain version reads every segment's columns, whichever footer Spark would pick") {
    // the table keeps `extra` on every read; inference from one footer
    // dropped it on some tables and kept it on others
    (1 to 6).foreach { _ =>
      val path = tmp()
      SnapshotLog.commitReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
      SnapshotLog.commitAppend(Seq((3, "c", 7)).toDF("id", "v", "extra"), path)
      val df = SnapshotLog.read(spark, path)
      assert(df.columns.toSeq == Seq("id", "v", "extra"))
      assert(rows(df) == Set(Row(1, "a", null), Row(2, "b", null), Row(3, "c", 7)))
    }
  }

  test("commitAppend and commitDelta reject a column-type conflict before writing a segment") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    def segments = { val l = Files.list(Paths.get(path, "data")); try l.count() finally l.close() }
    val segsBefore = segments
    val e = intercept[IllegalArgumentException](
      SnapshotLog.commitAppend(Seq((3L, "c")).toDF("id", "v"), path))
    assert(e.getMessage.contains("id: int -> bigint"), e.getMessage)
    val d = intercept[IllegalArgumentException](SnapshotLog.commitDelta(
      Seq((1, 5.0)).toDF("id", "v"), path, SnapshotLog.MergeSpec(Seq("id"))))
    assert(d.getMessage.contains("commitDelta: column types conflict"), d.getMessage)
    assert(d.getMessage.contains("v: string -> double"), d.getMessage)
    assert(segments == segsBefore)
    assert(SnapshotLog.versions(spark, path) == Seq(1))
    assert(rows(SnapshotLog.read(spark, path)) == Set(Row(1, "a"), Row(2, "b")))
    // a replace may change types: it starts a new table state
    SnapshotLog.commitReplace(Seq((3L, "c")).toDF("id", "v"), path)
    assert(rows(SnapshotLog.read(spark, path)) == Set(Row(3L, "c")))
  }

  test("commitAppend onto a merge-on-read version is refused before writing a segment") {
    // an append manifest carries no MergeSpec: had it committed, the read
    // would union base and delta unfolded and (1, "a") would come back
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    SnapshotLog.commitDelta(Seq((1, "A")).toDF("id", "v"), path, SnapshotLog.MergeSpec(Seq("id")))
    def segments = { val l = Files.list(Paths.get(path, "data")); try l.count() finally l.close() }
    val segsBefore = segments
    val e = intercept[IllegalArgumentException](
      SnapshotLog.commitAppend(Seq((3, "c")).toDF("id", "v"), path))
    assert(e.getMessage.contains("commitDelta") && e.getMessage.contains("compactLatest"),
      e.getMessage)
    assert(segments == segsBefore)
    assert(SnapshotLog.versions(spark, path) == Seq(1, 2))
    assert(rows(SnapshotLog.read(spark, path)) == Set(Row(1, "A"), Row(2, "b")))
    // folded into a plain base first, the append lands
    SnapshotLog.compactLatest(spark, path)
    SnapshotLog.commitAppend(Seq((3, "c")).toDF("id", "v"), path)
    assert(rows(SnapshotLog.read(spark, path)) == Set(Row(1, "A"), Row(2, "b"), Row(3, "c")))
  }

  test("no Spark job runs while read builds its frame; results unchanged") {
    val spec = SnapshotLog.MergeSpec(Seq("id"), orderCol = Some("ts"))
    val mor = tmp()
    SnapshotLog.commitReplace((1 to 20).map(i => (i, 0L, s"b$i")).toDF("id", "ts", "v"), mor)
    (1L to 3L).foreach { d =>
      SnapshotLog.commitDelta((1 to 5).map(i => (i, d, s"d$d-$i")).toDF("id", "ts", "v"), mor, spec)
    }
    val folded = (1 to 20).map(i => Row(i, if (i <= 5) 3L else 0L, if (i <= 5) s"d3-$i" else s"b$i")).toSet
    assert(rows(readNoJobs(mor)) == folded)
    // time travel to an older version: base + 1 delta
    val v2 = (1 to 20).map(i => Row(i, if (i <= 5) 1L else 0L, if (i <= 5) s"d1-$i" else s"b$i")).toSet
    assert(rows(readNoJobs(mor, Some(2))) == v2)
    assert(rows(readNoJobs(mor, Some(1))) == (1 to 20).map(i => Row(i, 0L, s"b$i")).toSet)
    // after compaction the latest version is one plain segment
    SnapshotLog.compactLatest(spark, mor)
    assert(rows(readNoJobs(mor)) == folded)
    // a 3-segment append table
    val app = tmp()
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", "v"), app)
    SnapshotLog.commitAppend(Seq((2, "b")).toDF("id", "v"), app)
    SnapshotLog.commitAppend(Seq((3, "c")).toDF("id", "v"), app)
    assert(rows(readNoJobs(app)) == Set(Row(1, "a"), Row(2, "b"), Row(3, "c")))
    assert(rows(readNoJobs(app, Some(2))) == Set(Row(1, "a"), Row(2, "b")))
  }

  test("the recorded schema equals what parquet reads of the segments infer") {
    val path = tmp()
    val df = spark.sql("""SELECT id AS l, CAST(id AS INT) AS i, CAST(id AS STRING) AS s,
        id % 2 = 0 AS b, id / 3.0D AS d, TIMESTAMP '2024-01-01 10:00:00' AS ts,
        DATE '2024-01-02' AS dt, CAST(id AS DECIMAL(12, 2)) AS dec,
        CAST(id AS DECIMAL(38, 18)) AS wide,
        array(named_struct('a', CAST(id AS INT), 'b', 'x')) AS arr,
        map('k', id) AS m, named_struct('n', id, 'o', CAST(NULL AS STRING)) AS st
      FROM range(3)""")
    assert(df.schema.exists(!_.nullable)) // the commit must record the read form
    SnapshotLog.commitReplace(df, path)
    SnapshotLog.commitAppend(df.drop("wide"), path)
    SnapshotLog.commitDelta(df.drop("arr"), path, SnapshotLog.MergeSpec(Seq("l")))
    Manifests.assertSchemaMatchesFooters(spark, path)
    assert(Manifests.segments(path, 3).size == 3)
    assert(Manifests.schema(path, 1) == spark.read.parquet(s"$path/${Manifests.segments(path, 1).head}").schema)
    assert(Manifests.schema(path, 3) == Manifests.schema(path, 1))
    // the delta fold sees the same rows as a footer-inferred read would
    assert(SnapshotLog.read(spark, path).count() == 3)
  }

  test("the manifest is real JSON: any column name embeds, each segment appears once") {
    val path = tmp()
    val odd = "we\"ird],{name}\\"
    SnapshotLog.commitReplace(Seq((1, "a")).toDF("id", odd), path)
    SnapshotLog.commitAppend(Seq((2, "b")).toDF("id", odd), path, Some("t-1"))
    val df = readNoJobs(path)
    assert(df.columns.toSeq == Seq("id", odd))
    assert(rows(df) == Set(Row(1, "a"), Row(2, "b")))
    assert(SnapshotLog.latestTag(spark, path).contains("t-1"))
    val segs = Manifests.segments(path, 2)
    assert(segs.size == 2)
    assert("\"data/seg-".r.findAllMatchIn(Manifests.text(path, 2)).size == segs.size)
  }

  test("column names match case-insensitively, as parquet matches them") {
    val path = tmp()
    SnapshotLog.commitReplace(Seq((1, "a"), (2, "b")).toDF("id", "v"), path)
    // `ID` is the table's `id`, not a new column
    SnapshotLog.commitAppend(Seq((3, "c")).toDF("ID", "v"), path)
    val df = readNoJobs(path)
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(rows(df) == Set(Row(1, "a"), Row(2, "b"), Row(3, "c")))
    // and a type change under another spelling is still a conflict
    val e = intercept[IllegalArgumentException](
      SnapshotLog.commitAppend(Seq((4L, "d")).toDF("Id", "v"), path))
    assert(e.getMessage.contains("Id: int -> bigint"), e.getMessage)
    // a delta keyed on the other spelling folds onto the same rows
    SnapshotLog.commitDelta(Seq((2, "B")).toDF("ID", "v"), path, SnapshotLog.MergeSpec(Seq("ID")))
    assert(rows(readNoJobs(path)) == Set(Row(1, "a"), Row(2, "B"), Row(3, "c")))
    Manifests.assertSchemaMatchesFooters(spark, path)
  }

  /** The stages that ran tasks in the Spark jobs started by `body`, as
    * "job/stage: name" (a job lists the shuffle stages it skipped too).
    */
  private def stagesStartedBy(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"stages-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "stage count")
    try body finally sc.clearJobGroup()
    jobsStartedBy(()) // fence: every job of the group is in the status store
    val st = sc.statusTracker
    st.getJobIdsForGroup(group).toSeq.sorted.flatMap(j => st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq
      .flatMap(st.getStageInfo).filter(_.numCompletedTasks > 0).map(s => s"$j/${s.stageId}: ${s.name}")))
  }

  private def morTable(): String = {
    val path = tmp()
    val spec = SnapshotLog.MergeSpec(Seq("id"), carryCols = Seq("x"), orderCol = Some("ts"))
    SnapshotLog.commitReplace((1 to 30).map(i => (i, 0L, Option(i))).toDF("id", "ts", "x"), path)
    (1L to 3L).foreach { d =>
      SnapshotLog.commitDelta((1 to 8).map(i => (i, d, if (i % 2 == 0) None else Some(i * 10)))
        .toDF("id", "ts", "x"), path, spec)
    }
    path
  }

  /** The physical plan `df` runs; AdaptiveSparkPlanHelper's `collect`
    * walks it through AQE's stages but not into the plan an
    * InMemoryRelation was filled with.
    */
  private def physical(df: DataFrame) = df.queryExecution.executedPlan

  test("a second read of an unchanged version scans the kept fold: no Window, no fold job") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val path = morTable()
    val first = SnapshotLog.read(spark, path)
    val want = rows(first)
    val again = readNoJobs(path)
    assert(again eq first, "the second read must return the kept frame")
    // the plan that runs is a scan of the filled cache; the fold's windows
    // live only inside the InMemoryRelation, which is already loaded
    val p = physical(again)
    val scans = collect(p) { case s: InMemoryTableScanExec => s }
    assert(scans.size == 1 && scans.head.relation.cacheBuilder.isCachedColumnBuffersLoaded, p.toString)
    assert(collect(p) { case w: WindowExec => w }.isEmpty, p.toString)
    var got = Set.empty[Row]
    val stages = stagesStartedBy { got = rows(again) }
    assert(stages.size == 1, s"a kept-fold read runs one stage: $stages")
    assert(got == want)
    // another session of the context reads the same kept data
    val other = SnapshotLog.read(spark.newSession(), path)
    assert(collect(physical(other)) { case s: InMemoryTableScanExec => s }.nonEmpty)
    assert(rows(other) == want)
    // time travel to an older version folds without touching the kept entry
    assert(collect(physical(SnapshotLog.read(spark, path, Some(3)))) { case w: WindowExec => w }.nonEmpty)
    assert(SnapshotLog.read(spark, path) eq first)
  }

  test("compactLatest right after a read writes the kept fold: one stage, no fold") {
    val path = morTable()
    val want = rows(SnapshotLog.read(spark, path))
    val stages = stagesStartedBy(SnapshotLog.compactLatest(spark, path))
    assert(stages.size == 1, s"compaction of a kept fold must run only its write stage: $stages")
    assert(rows(SnapshotLog.read(spark, path)) == want)
    assert(Manifests.segments(path, 5).size == 1)
    // with nothing kept (a fresh delta version), compaction folds once
    SnapshotLog.commitDelta(Seq((1, 9L, Option(1))).toDF("id", "ts", "x"), path,
      SnapshotLog.MergeSpec(Seq("id"), carryCols = Seq("x"), orderCol = Some("ts")))
    assert(stagesStartedBy(SnapshotLog.compactLatest(spark, path)).size > 1)
  }

  test("storage holds at most one persisted fold per merge-on-read table") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def held = (sc.getPersistentRDDs.keySet -- before).size
    val a = morTable()
    val b = morTable()
    val spec = SnapshotLog.MergeSpec(Seq("id"), carryCols = Seq("x"), orderCol = Some("ts"))
    (4L to 9L).foreach { d =>
      Seq(a, b).foreach { p =>
        SnapshotLog.commitDelta(Seq((d.toInt, d, Option(1))).toDF("id", "ts", "x"), p, spec)
        SnapshotLog.read(spark, p).count()
        SnapshotLog.read(spark, p, Some(2)).count() // time travel keeps nothing
      }
      assert(held == 2, s"after delta $d: $held persisted RDDs for two tables")
    }
    // compaction releases its table's fold
    SnapshotLog.compactLatest(spark, a)
    assert(held == 1)
    // expiring the kept version releases it too
    SnapshotLog.commitDelta(Seq((1, 99L, Option(1))).toDF("id", "ts", "x"), a, spec)
    SnapshotLog.read(spark, a).count()
    assert(held == 2)
    SnapshotLog.commitReplace(Seq((1, 0L, Option(1))).toDF("id", "ts", "x"), a)
    SnapshotLog.expireSnapshots(spark, a, retainLast = 1, orphanOlderThanMs = 0L)
    assert(held == 1)
    SnapshotLog.expireSnapshots(spark, b, retainLast = 1, orphanOlderThanMs = 0L)
    assert(held == 1, "expiry that keeps the fold's version must not release it")
    SnapshotLog.commitReplace(Seq((1, 0L, Option(1))).toDF("id", "ts", "x"), b)
    SnapshotLog.expireSnapshots(spark, b, retainLast = 1, orphanOlderThanMs = 0L)
    assert(held == 0)
  }
}
