package graft.table

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A minimal table-format commit log over plain parquet — the engine-native
  * analog of Iceberg's snapshot machinery that the reference relies on
  * (SURVEY.md §2.10: expire_snapshots M2, remove_orphan_files M3, and the
  * time-travel reads Iceberg gives for free).
  *
  * Layout:
  * {{{
  *   <table>/data/<segment>/part-*.parquet   immutable data segments
  *   <table>/_log/v000000001.json            one manifest per version
  * }}}
  *
  * A manifest is one JSON object, written and parsed with Jackson:
  * {{{
  *   version, committedAtMs, op      replace | append | delta
  *   tag                             optional replay / maintenance marker
  *   mergeKey, carryCols,            delta versions only: the MergeSpec
  *   deleteCol, orderCol
  *   segments                        segment dirs, oldest first; each once
  *   schema                          the version's columns over all its
  *                                   segments (Spark's DataType JSON)
  * }}}
  * Like Iceberg's table metadata, the recorded schema lets a reader plan
  * without opening a data file: every scan is built with
  * `spark.read.schema(..)`, so [[read]] starts no Spark job before the
  * caller's action (as long as a version spans at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` segments, past
  * which Spark lists the dirs with a job).
  *
  * A commit writes a NEW segment dir, then publishes the manifest with an
  * ATOMIC CLAIM on the final manifest path, per filesystem:
  * on HDFS-like stores, a create-exclusive open (atomic at the NameNode);
  * on local filesystems, a fully-flushed temp file HARD-LINKED into place
  * (link(2) fails with EEXIST atomically — Hadoop's LocalFileSystem
  * create(overwrite=false) is check-then-act and CAN double-claim under
  * concurrency, and a rename-onto-target silently overwrites, POSIX
  * rename(2) semantics). Concurrent committers race on the claim; the
  * loser gets FileAlreadyExists and retries against the winner's version
  * (optimistic concurrency). On the HDFS path there is a loser-visible
  * window where a manifest exists but its bytes are not yet flushed;
  * the READ side re-reads a manifest that does not parse yet briefly
  * before failing (the link path never exposes partial bytes). A real
  * deployment would serialize commits through a catalog; the protocol here
  * is the strongest a bare filesystem offers.
  *
  * Every `graft.streaming.StreamPipelines` sink commits through this log,
  * one tagged version per micro-batch, and skips a batch whose tag is
  * already in [[tags]] (the replay tag binds the query incarnation and the
  * batch id):
  *   - merge-on-read deltas: `upsertSinkVersioned` (`upsertBatch`) and
  *     `cdcSinkVersioned` (`applyCdcBatch`);
  *   - appends: the `simhashDedupIngestBatch`, `dhashDedupIngestBatch`,
  *     `videoDhashDedupIngestBatch`, `audioChromaDedupIngestBatch` and
  *     `semanticDedupIngestBatch` indexes, the `knnGraphIngestBatch` /
  *     `knnGraphAdjacencyIngestBatch` edge log and index, the
  *     `conformalGateIngestBatch` verdicts and the `affinityTelemetrySink`,
  *     `attributionTelemetrySink` and `annServeSink` outputs;
  *   - replaces: the `knnGraphAdjacencyIngestBatch` adjacency, the
  *     `audienceSketchIngestBatch` sketch, the
  *     `conformalRefreshIngestBatch`, `attributionModelRefreshIngestBatch`
  *     and `mixtureWeightsRefreshIngestBatch` state (each with a derived
  *     table under the same tag) and the `kmeansUpdateIngestBatch`
  *     centroids.
  * lakebench's metrics table commits with `commitAppend` too.
  * A crash before the manifest claim leaves an unpublished `data/seg-*`
  * dir: no reader sees it, and [[expireSnapshots]] collects it.
  *
  * Scale notes: manifests hold segment DIRECTORY names, not file lists —
  * a commit is O(1) metadata regardless of data size; reads hand Spark the
  * segment dirs and let the parquet source list/prune in parallel. Expiry
  * is manifest deletion + mark-and-sweep segment GC guarded by an age
  * cutoff (exactly remove_orphan_files(older_than): a fresh segment may
  * belong to an in-flight commit whose manifest is not published yet, so
  * only segments older than the cutoff are eligible).
  */
object SnapshotLog {

  private val LogDir  = "_log"
  private val DataDir = "data"

  /** Merge-on-read spec recorded in a delta manifest: how readers fold the
    * segment list back into table state.
    *   - `key`: the merge key.
    *   - `carryCols`: sparse columns — the fold takes the newest NON-NULL
    *     value per key (the MERGE coalesce carry); all other columns come
    *     from the newest row outright.
    *   - `deleteCol`: optional boolean column marking delete rows; a key
    *     whose newest row is a delete disappears, and values from before
    *     the delete never carry into a later re-insert.
    *   - `orderCol`: optional event-order column; the fold ranks rows by
    *     (orderCol, segment position) so a stale row in a later batch does
    *     not beat newer state (ts-ordered CDC apply). Without it, segment
    *     position alone orders (batch-ordered upsert).
    */
  final case class MergeSpec(key: Seq[String], carryCols: Seq[String] = Nil,
                             deleteCol: Option[String] = None, orderCol: Option[String] = None)

  /** One version's manifest. `schema` holds every segment's columns, in
    * first-seen order and in the form a parquet read returns; a segment
    * that lacks a column reads it as null.
    */
  private final case class Manifest(op: String, segments: Seq[String],
                                    committedAtMs: Long, tag: Option[String],
                                    merge: Option[MergeSpec], schema: StructType)

  private val Json = new ObjectMapper()

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestName(v: Int) = f"v$v%09d.json"

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val log = new Path(path, LogDir)
    val f   = fs(spark, path)
    if (!f.exists(log)) Nil
    else f.listStatus(log).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted
  }

  def latestVersion(spark: SparkSession, path: String): Option[Int] =
    versions(spark, path).lastOption

  /** The `tag` recorded with the latest committed version (used by
    * streaming sinks for replay idempotence — see
    * [[graft.streaming.StreamPipelines.upsertSinkVersioned]]).
    */
  def latestTag(spark: SparkSession, path: String): Option[String] =
    latestVersion(spark, path).flatMap(v => readManifest(spark, path, v).tag)

  /** Tags of ALL retained manifests. Replay-idempotence checks must scan
    * this, not [[latestTag]]: a maintenance commit (compaction tags
    * `compact-vN`) can land between a batch's commit and the checkpoint
    * offset write, so on crash-replay the batch's tag is no longer the
    * latest one — but it is still present in the log.
    */
  def tags(spark: SparkSession, path: String): Set[String] =
    versions(spark, path).flatMap(v => readManifest(spark, path, v).tag).toSet

  /** The retained version whose manifest carries `tag`, if any. */
  def taggedVersion(spark: SparkSession, path: String, tag: String): Option[Int] =
    versions(spark, path).find(v => readManifest(spark, path, v).tag.contains(tag))

  /** Commit `df` as a full replacement of the table state. */
  def commitReplace(df: DataFrame, path: String, tag: Option[String] = None): Int =
    commit(df, path, "replace", tag)

  /** Commit `df` as an append: the new version references the previous
    * version's segments plus the new one. `df` may add columns or omit
    * some (a segment reads a column it lacks as null), but a column it
    * shares with the table must keep its type: a conflict throws
    * IllegalArgumentException before any segment is written.
    */
  def commitAppend(df: DataFrame, path: String, tag: Option[String] = None): Int =
    commit(df, path, "append", tag)

  /** Merge-on-read commit (the reference's `write.merge.mode=merge-on-read`
    * choice for gold/dims — streaming_job.py:55-60, stream_dims.py:26-29;
    * rationale design_doc/PipelineArchitecture.md:235-238): write ONLY this
    * batch's rows as a new delta segment and record `spec` in the manifest;
    * [[read]] folds deltas over the base at scan time. A commit's write
    * cost is O(batch), not O(table) — the difference copy-on-write exists
    * to avoid at scale, where CoW rewrites the whole gold table every
    * micro-batch. [[compactLatest]] folds the accumulated deltas back into
    * a plain base version.
    *
    * Precondition: each delta segment holds at most one row per key
    * (reduce the batch first — [[graft.ops.LatestWins.latestState]]).
    * As with [[commitAppend]], a column shared with the table must keep its
    * type, or the commit throws IllegalArgumentException before writing.
    */
  def commitDelta(df: DataFrame, path: String, spec: MergeSpec,
                  tag: Option[String] = None): Int = {
    require(spec.key.nonEmpty, "commitDelta: merge key required")
    (spec.key ++ spec.carryCols ++ spec.deleteCol ++ spec.orderCol).foreach(c =>
      require(ColPattern.matches(c), s"column name must match [A-Za-z0-9_]+, got: '$c'"))
    val reserved = Seq("__seq", "__mor_ord", "__mor_del", "__mor_lastdel", "__mor_rn")
    require(!df.columns.exists(reserved.contains),
      s"commitDelta: input must not use reserved columns ${reserved.mkString(", ")}")
    commit(df, path, "delta", tag, Some(spec))
  }

  // Jackson would escape any string. Merge-spec columns stay plain
  // identifiers because the fold resolves them with col(), which would
  // parse a dot or a backtick. Tags keep the [A-Za-z0-9._-] contract they
  // were published with (SnapshotLogSpec pins it); loosening it is a
  // separate API change, not a consequence of the JSON format
  private val TagPattern = "[A-Za-z0-9._-]+".r
  private val ColPattern = "[A-Za-z0-9_]+".r

  /** `t` in the form a parquet read returns it: every field, element and
    * map value nullable.
    */
  private def readForm(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = readForm(f.dataType), nullable = true)))
    case a: ArrayType  => ArrayType(readForm(a.elementType), containsNull = true)
    case m: MapType    => MapType(readForm(m.keyType), readForm(m.valueType), valueContainsNull = true)
    case other         => other
  }

  /** Column-name equality under the session's `spark.sql.caseSensitive`,
    * the rule parquet uses to match a read schema to a file's columns.
    */
  private def sameName(spark: SparkSession): (String, String) => Boolean =
    if (spark.conf.get("spark.sql.caseSensitive", "false").toBoolean) _ == _
    else _.equalsIgnoreCase(_)

  /** `table` followed by the columns of `next` it lacks. */
  private def mergeSchemas(table: StructType, next: StructType,
                           same: (String, String) => Boolean): StructType =
    StructType(table.fields ++ next.fields.filterNot(f => table.exists(c => same(c.name, f.name))))

  /** An append or delta must keep the type of every column it shares with
    * the `latest` version: the segments of one version are read with one
    * schema. An append must not land on a merge-on-read version either: its
    * manifest carries no MergeSpec, so the read would union the delta
    * segments unfolded and superseded rows would come back.
    */
  private def requireExtends(op: String, latest: Manifest, next: StructType,
                             same: (String, String) => Boolean): Unit = {
    require(op == "delta" || latest.merge.isEmpty,
      "commitAppend: the latest version is merge-on-read; commit deltas with " +
        "commitDelta, or fold them with compactLatest before appending")
    val clash = next.fields.flatMap(f => latest.schema.find(c => same(c.name, f.name))
      .filter(_.dataType != f.dataType)
      .map(c => s"${f.name}: ${c.dataType.simpleString} -> ${f.dataType.simpleString}"))
    require(clash.isEmpty,
      s"commit${op.capitalize}: column types conflict with the table: ${clash.mkString(", ")}")
  }

  private def commit(df: DataFrame, path: String, op: String, tag: Option[String],
                     merge: Option[MergeSpec] = None): Int = {
    tag.foreach(t => require(TagPattern.matches(t),
      s"tag must match [A-Za-z0-9._-]+, got: '$t'"))
    val spark  = df.sparkSession
    val f      = fs(spark, path)
    val schema = readForm(df.schema).asInstanceOf[StructType]
    val same   = sameName(spark)
    val extend = op == "append" || op == "delta"
    if (extend)
      latestVersion(spark, path).foreach(v =>
        requireExtends(op, readManifest(spark, path, v), schema, same))
    val seg    = s"$DataDir/seg-${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode("overwrite").parquet(s"$path/$seg")
    f.mkdirs(new Path(path, LogDir))
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val base = latestVersion(spark, path)
      val prev = if (extend) base.map(readManifest(spark, path, _)) else None
      val v    = base.getOrElse(0) + 1
      // a racer may have published a conflicting version since the check above
      prev.foreach { p =>
        try requireExtends(op, p, schema, same)
        catch { case e: IllegalArgumentException => f.delete(new Path(path, seg), true); throw e }
      }
      val m = Manifest(op, prev.map(_.segments).getOrElse(Nil) :+ seg,
        System.currentTimeMillis(), tag, merge,
        prev.fold(schema)(p => mergeSchemas(p.schema, schema, same)))
      val body = toJson(v, m)
      // create-exclusive IS the atomic publish: exactly one committer can
      // create vN.json; anyone else lands in the catch and retries on vN+1.
      // ONLY already-exists retries — a create that succeeded but whose
      // write/close failed (disk full, interrupt) must not be mistaken for
      // a lost race: that would leave a truncated vN.json that readers spin
      // on forever. Such partial manifests are deleted and the error
      // propagates.
      val manifestPath = new Path(path, s"$LogDir/${manifestName(v)}")
      if (f.getScheme == "file") {
        // Hadoop's LocalFileSystem create(overwrite=false) is CHECK-then-
        // act, not atomic — two racers can both pass the exists check and
        // both "claim" vN (observed as duplicate version numbers under
        // concurrency). The local-filesystem atomic publish is the hard
        // link: write the fully-flushed manifest to a temp name, then
        // createLink(vN.json ← temp) — link(2) fails with EEXIST
        // atomically, and readers can never observe a partial manifest.
        val logDirLocal = java.nio.file.Paths.get(
          new Path(path, LogDir).toUri.getPath)
        val tmpFile = logDirLocal.resolve(
          s".commit-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        java.nio.file.Files.write(tmpFile, body.getBytes("UTF-8"))
        val target = logDirLocal.resolve(manifestName(v))
        try {
          java.nio.file.Files.createLink(target, tmpFile)
          java.nio.file.Files.deleteIfExists(tmpFile)
          return v
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // version claimed by a racer; retry against the winner's version
            java.nio.file.Files.deleteIfExists(tmpFile)
          case e: Throwable =>
            java.nio.file.Files.deleteIfExists(tmpFile)
            throw e
        }
      } else {
        // HDFS-like stores: create-exclusive is atomic at the NameNode
        var created = false
        try {
          val out = f.create(manifestPath, false)
          created = true
          out.write(body.getBytes("UTF-8")); out.close()
          return v
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException if !created =>
            // version claimed by a racer; retry against the winner's version
          case e: java.io.FileNotFoundException if !created =>
            throw e // log dir vanished — not a race
          case e: java.io.IOException =>
            if (created) { try f.delete(manifestPath, false) catch { case _: java.io.IOException => () } }
            if (created) throw e
            // some stores surface the exists-race as a plain IOException
            // from create(); retry only in that (pre-create) case
        }
      }
    }
    throw new IllegalStateException(s"snapshot commit lost the race $attempts times: $path")
  }

  private def toJson(v: Int, m: Manifest): String = {
    val o = Json.createObjectNode()
      .put("version", v).put("committedAtMs", m.committedAtMs).put("op", m.op)
    def strs(field: String, xs: Seq[String]): Unit = {
      val a = o.putArray(field); xs.foreach(a.add)
    }
    m.tag.foreach(o.put("tag", _))
    m.merge.foreach { spec =>
      strs("mergeKey", spec.key); strs("carryCols", spec.carryCols)
      spec.deleteCol.foreach(o.put("deleteCol", _)); spec.orderCol.foreach(o.put("orderCol", _))
    }
    strs("segments", m.segments)
    o.set[JsonNode]("schema", Json.readTree(m.schema.json))
    Json.writeValueAsString(o)
  }

  /** The manifest at `p` from its `body`, or None while it is not complete
    * JSON yet.
    */
  private def parseManifest(p: Path, body: String): Option[Manifest] =
    Try(Json.readTree(body)).toOption.filter(_.has("version")).map { n =>
      def str(field: String) = Option(n.get(field)).map(_.asText)
      def strs(field: String) = n.path(field).asScala.map(_.asText).toSeq
      val op = str("op").getOrElse("replace")
      val schema = Option(n.get("schema"))
        .getOrElse(throw new IllegalStateException(s"manifest $p records no schema"))
      Manifest(op, strs("segments"), n.path("committedAtMs").asLong(0L), str("tag"),
        if (op == "delta") Some(MergeSpec(strs("mergeKey"), strs("carryCols"),
          str("deleteCol"), str("orderCol")))
        else None,
        DataType.fromJson(schema.toString).asInstanceOf[StructType])
    }

  /** Parse a version's manifest; a just-created manifest whose bytes are
    * not flushed yet is retried briefly (see commit protocol note above).
    */
  private def readManifest(spark: SparkSession, path: String, v: Int): Manifest = {
    val p = new Path(path, s"$LogDir/${manifestName(v)}")
    var attempts = 0
    while (true) {
      attempts += 1
      val in   = fs(spark, path).open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      parseManifest(p, body) match {
        case Some(m) => return m
        case None    =>
      }
      // 80 × 25 ms = 2 s of patience: a manifest that exists but is empty
      // is usually a LIVE writer between create() and write() — a loser
      // spinning here must outlast the winner's worst GC pause (a 500 ms
      // window flaked under full-suite load), while a crash-truncated
      // manifest still surfaces as an error rather than a hang.
      if (attempts >= 80)
        throw new IllegalStateException(s"manifest $p unreadable after $attempts attempts")
      Thread.sleep(25L)
    }
    throw new IllegalStateException("unreachable")
  }

  /** A parquet scan of `dirs` with the recorded schema: Spark opens no
    * footer to build it.
    */
  private def scan(spark: SparkSession, dirs: Seq[String], schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dirs: _*)

  /** Read the table at `version` (time travel), or at the latest version.
    * A merge-on-read version folds its delta segments over the base at
    * scan time (see [[commitDelta]]); readers always see merged state.
    * A plain version is one scan over all its segments with the recorded
    * schema. The frame is built from the manifest alone: no Spark job runs
    * before the caller's action.
    */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifest(spark, path, v)
    m.merge match {
      case None       => scan(spark, m.segments.map(s => s"$path/$s"), m.schema)
      case Some(spec) => foldDeltas(spark, path, m, spec)
    }
  }

  /** The merge-on-read fold: one hash shuffle on the merge key, then
    * windowed latest-wins. Rows rank by (orderCol, segment position) so a
    * later segment wins ties and, with an orderCol, stale late arrivals
    * lose to newer state. Delete-marked rows cut history: nothing at or
    * before a key's newest delete survives or carries forward. Carry
    * columns take the newest non-null value (MERGE coalesce); everything
    * else comes from the newest surviving row.
    *
    * Scale: the fold is exactly the read-side cost merge-on-read trades
    * for O(batch) commits — bounded by segment count between compactions,
    * which [[compactLatest]] resets by folding into a plain base.
    */
  private def foldDeltas(spark: SparkSession, path: String,
                         m: Manifest, spec: MergeSpec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val parts = m.segments.zipWithIndex.map { case (s, i) =>
      scan(spark, Seq(s"$path/$s"), m.schema).withColumn("__seq", lit(i))
    }
    val all = parts.reduce(_ union _)
    val keyCols = spec.key.map(col)
    val ord  = struct(spec.orderCol.map(col).getOrElse(lit(0)).as("o"), col("__seq").as("s"))
    val del  = spec.deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false))).getOrElse(lit(false))
    val wAll  = Window.partitionBy(keyCols: _*)
    val wDesc = Window.partitionBy(keyCols: _*).orderBy(col("__mor_ord").desc)
    val wFull = wDesc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cut = all
      .withColumn("__mor_ord", ord)
      .withColumn("__mor_lastdel", max(when(del, col("__mor_ord"))).over(wAll))
      .filter(col("__mor_lastdel").isNull || col("__mor_ord") > col("__mor_lastdel"))
    val carried = spec.carryCols.foldLeft(cut.withColumn("__mor_rn", row_number().over(wDesc))) {
      (d, c) => d.withColumn(c, first(col(c), ignoreNulls = true).over(wFull))
    }
    val internal = Seq("__seq", "__mor_ord", "__mor_lastdel", "__mor_rn") ++ spec.deleteCol
    carried.filter(col("__mor_rn") === 1).drop(internal: _*)
  }

  /** Row-level diff between two committed versions (time-travel changelog
    * — the read-side companion of Iceberg's `create_changelog_view` /
    * Delta CDF, derivable from any pair of snapshots with no change
    * tracking at write time): one row per key whose state differs between
    * `fromVersion` and `toVersion`, tagged `change` ∈ 'added' | 'removed'
    * | 'changed'. Keys with identical non-key state drop out.
    *
    * Scale shape: each side reads ONLY its snapshot's segment list (cost ∝
    * the two snapshots, never the table history), then one full-outer hash
    * join on the key — the single shuffle a keyed diff needs. Value
    * comparison is a null-safe struct equality, so sparse columns diff
    * correctly.
    *
    * Output: keyCols ++ (change: string).
    */
  def diff(spark: SparkSession, path: String, fromVersion: Int, toVersion: Int,
           keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, path, Some(fromVersion))
    val b = read(spark, path, Some(toVersion))
    require(keyCols.nonEmpty && keyCols.forall(a.columns.contains),
      s"diff: key columns ${keyCols.mkString(",")} must exist in the table")
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"diff: schemas differ between v$fromVersion and v$toVersion")
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    def packed(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as(as): _*)
    packed(a, "__va").join(packed(b, "__vb"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__va").isNull, lit("added"))
          .when(col("__vb").isNull, lit("removed"))
          .when(!(col("__va") <=> col("__vb")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** The `$snapshots` metadata view: (version, committed_at_ms, op,
    * n_segments) per retained manifest.
    */
  def snapshots(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    versions(spark, path).map { v =>
      val m = readManifest(spark, path, v)
      (v, m.committedAtMs, m.op, m.segments.size)
    }.toDF("version", "committed_at_ms", "op", "n_segments")
  }

  /** M1 on the versioned path — compaction as a COMMIT: rewrite the
    * latest version's data into ~`targetFileBytes` files and publish the
    * result as a new version (exactly Iceberg's rewrite_data_files, which
    * commits a snapshot rather than mutating files in place). Readers of
    * older versions are untouched; [[expireSnapshots]] reclaims the
    * pre-compaction segments once they age out.
    * Returns the committed version.
    */
  def compactLatest(spark: SparkSession, path: String,
                    targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val v = latestVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val m = readManifest(spark, path, v)
    val f = fs(spark, path)
    val bytes = m.segments.map { s =>
      val it = f.listFiles(new Path(path, s), true)
      var n = 0L
      while (it.hasNext) { val st = it.next(); if (st.getPath.getName.endsWith(".parquet")) n += st.getLen }
      n
    }.sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    commitReplace(read(spark, path, Some(v)).coalesce(nFiles), path, Some(s"compact-v$v"))
  }

  /** M2 + M3 — expire old snapshots and GC unreferenced segments: keep the
    * newest `retainLast` manifests, delete the rest, then remove every
    * segment that (a) no retained manifest references AND (b) is older
    * than `orphanOlderThanMs` — the age guard that keeps an in-flight
    * commit's freshly-written segment (manifest not yet published) safe,
    * exactly Iceberg's remove_orphan_files(older_than).
    * Returns (expired versions, deleted segment dirs).
    */
  def expireSnapshots(spark: SparkSession, path: String, retainLast: Int,
                      orphanOlderThanMs: Long = 60L * 60 * 1000): (Seq[Int], Seq[String]) = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val f   = fs(spark, path)
    val all = versions(spark, path)
    val (expire, retain) = all.splitAt(math.max(0, all.size - retainLast))
    expire.foreach(v => f.delete(new Path(path, s"$LogDir/${manifestName(v)}"), false))
    val live = retain.flatMap(v => readManifest(spark, path, v).segments).toSet
    val dataRoot = new Path(path, DataDir)
    val cutoff   = System.currentTimeMillis() - orphanOlderThanMs
    val orphans =
      if (!f.exists(dataRoot)) Nil
      else f.listStatus(dataRoot).toSeq
        .filter(_.getModificationTime < cutoff)
        .map(s => s"$DataDir/${s.getPath.getName}")
        .filterNot(live.contains)
    orphans.foreach(s => f.delete(new Path(path, s), true))
    (expire, orphans)
  }
}
