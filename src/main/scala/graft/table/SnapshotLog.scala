package graft.table

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
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
  * which Spark lists the dirs with a job; a merge-on-read version is one
  * scan over its segment dirs too, so the same bound holds for it).
  *
  * Reads of merge-on-read versions fold once: the fold is one parquet scan
  * over every segment dir, one key shuffle and one sort, and [[read]] keeps
  * the persisted fold of the newest version it built, per table and
  * SparkContext, for the next read of that version and for
  * [[compactLatest]]. Storage holds at most one persisted fold per
  * merge-on-read table.
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
    // the fold adds the __mor columns, and reads each row's segment from
    // Spark's `_metadata` file column, which a data column of that name hides
    val reserved = Seq("__seq", "__mor_ord", "__mor_del", "__mor_lastdel", "__mor_rn", "_metadata")
    require(!df.columns.exists(c => reserved.exists(_.equalsIgnoreCase(c))),
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
    * A plain version is one scan over all its segments with the recorded
    * schema. A merge-on-read version folds its delta segments over the base
    * at scan time (see [[commitDelta]] and [[foldDeltas]]); readers always
    * see merged state. The frame is built from the manifest alone: no Spark
    * job runs before the caller's action.
    *
    * Reuse: `read` keeps, per table and SparkContext, the persisted fold of
    * the newest merge-on-read version it has built, keyed on the manifest's
    * version and segment list. A second read of that version returns the
    * same frame, whose first action filled the cache, so it folds nothing
    * (the dashboard reads of one round, and [[compactLatest]] after them).
    * Storage holds at most ONE persisted fold per merge-on-read table: the
    * entry is released when a newer version of the table is read, when
    * [[compactLatest]] commits and when [[expireSnapshots]] drops its
    * version. A read of an older version (time travel) folds without
    * persisting and leaves the entry alone. A frame read before its entry
    * was released still computes the right rows, from the segments.
    */
  def read(spark: SparkSession, path: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    readAt(spark, path, v, keep = true)
  }

  /** The table at `v`: a scan for a plain version, else the fold — the
    * kept one when it matches, and one kept for the next read if `keep`.
    */
  private def readAt(spark: SparkSession, path: String, v: Int, keep: Boolean): DataFrame = {
    val m = readManifest(spark, path, v)
    m.merge match {
      case None       => scan(spark, m.segments.map(s => s"$path/$s"), m.schema)
      case Some(spec) => folded(spark, path, v, m, spec, keep)
    }
  }

  /** A kept fold: the persisted frame of merge-on-read `version` of a table,
    * identified by its manifest's segment list, so a table re-created at
    * the same path never matches an old entry.
    */
  private final case class Fold(sc: SparkContext, version: Int, segments: Seq[String], df: DataFrame)

  /** One kept fold per table (qualified path) per SparkContext. Spark's
    * CacheManager is shared by every session of a context, so the entries
    * are too: any session's read of the kept version hits it.
    */
  private val folds = scala.collection.mutable.Map[String, Fold]()

  private def tableKey(spark: SparkSession, path: String): String =
    fs(spark, path).makeQualified(new Path(path)).toString

  /** The kept fold of `path`, dropping an entry of another (stopped)
    * SparkContext, whose storage went with it. Call under `folds`.
    */
  private def kept(spark: SparkSession, key: String): Option[Fold] = {
    folds.get(key).filter(_.sc ne spark.sparkContext).foreach(_ => folds.remove(key))
    folds.get(key)
  }

  /** Unpersist and forget the kept fold of `path`, if `which` selects it. */
  private def release(spark: SparkSession, path: String, which: Fold => Boolean = _ => true): Unit =
    folds.synchronized {
      val key = tableKey(spark, path)
      kept(spark, key).filter(which).foreach { e =>
        folds.remove(key)
        e.df.unpersist(blocking = false)
      }
    }

  private def folded(spark: SparkSession, path: String, v: Int, m: Manifest,
                     spec: MergeSpec, keep: Boolean): DataFrame = folds.synchronized {
    val key = tableKey(spark, path)
    kept(spark, key) match {
      case Some(e) if e.version == v && e.segments == m.segments =>
        // another session of the context gets its own frame of the same
        // plan, which the shared CacheManager serves from the kept data
        if (e.df.sparkSession eq spark) e.df else foldDeltas(spark, path, m, spec)
      case old if keep && old.forall(e => v > e.version || !retained(spark, path, e)) =>
        old.foreach(_.df.unpersist(blocking = false))
        val df = foldDeltas(spark, path, m, spec).persist()
        folds(key) = Fold(spark.sparkContext, v, m.segments, df)
        df
      case _ => foldDeltas(spark, path, m, spec)
    }
  }

  /** Whether the version `e` kept is still retained with the same segments
    * (not expired by another process, nor the table re-created).
    */
  private def retained(spark: SparkSession, path: String, e: Fold): Boolean =
    fs(spark, path).exists(new Path(path, s"$LogDir/${manifestName(e.version)}")) &&
      readManifest(spark, path, e.version).segments == e.segments

  /** The merge-on-read fold: ONE parquet scan over all the version's
    * segment dirs, one hash shuffle on the merge key and one sort, feeding
    * windows that all share one spec, (merge key, `__mor_ord` desc).
    *   - Each row's segment position `__seq` comes from its file's
    *     `_metadata.file_path`, mapped through the manifest's segment order.
    *   - Rows rank by `__mor_ord` = (orderCol, segment position), so a later
    *     segment wins ties and, with an orderCol, stale late arrivals lose
    *     to newer state. The newest row (`__mor_rn` = 1) is the key's row.
    *   - Deletes cut history: `__mor_lastdel` is the key's newest delete,
    *     and the newest row survives only if it is newer than that (it is
    *     not itself a delete). Nothing at or before the cut carries.
    *   - Carry columns take the newest non-null value after the cut (MERGE
    *     coalesce); everything else comes from the newest row.
    *
    * Scale: the fold is exactly the read-side cost merge-on-read trades
    * for O(batch) commits — bounded by segment count between compactions,
    * which [[compactLatest]] resets by folding into a plain base. Its one
    * scan lists the segment dirs as a plain version's scan does: past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) dirs,
    * Spark lists them with a job.
    */
  private def foldDeltas(spark: SparkSession, path: String,
                         m: Manifest, spec: MergeSpec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val position = typedLit(m.segments.map(_.stripPrefix(s"$DataDir/")).zipWithIndex.toMap)
    val all = scan(spark, m.segments.map(s => s"$path/$s"), m.schema)
      .withColumn("__seq", element_at(position, element_at(split(col("_metadata.file_path"), "/"), -2)))
    val ord = struct(spec.orderCol.map(col).getOrElse(lit(0)).as("o"), col("__seq").as("s"))
    val del = spec.deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false))).getOrElse(lit(false))
    val w     = Window.partitionBy(spec.key.map(col): _*).orderBy(col("__mor_ord").desc)
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val live  = col("__mor_lastdel").isNull || col("__mor_ord") > col("__mor_lastdel")
    val ranked = all.withColumn("__mor_ord", ord).withColumns(Map(
      "__mor_rn"      -> row_number().over(w),
      "__mor_lastdel" -> max(when(del, col("__mor_ord"))).over(wFull)))
    val carried = ranked.withColumns(spec.carryCols.map(c =>
      c -> first(when(live, col(c)), ignoreNulls = true).over(wFull)).toMap)
    val internal = Seq("__seq", "__mor_ord", "__mor_lastdel", "__mor_rn") ++ spec.deleteCol
    carried.filter(col("__mor_rn") === 1 && live).drop(internal: _*)
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
    * Output: keyCols ++ (change: string). A one-off comparison: neither
    * side's fold is kept (see [[read]]), though a kept one is used.
    */
  def diff(spark: SparkSession, path: String, fromVersion: Int, toVersion: Int,
           keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readAt(spark, path, fromVersion, keep = false)
    val b = readAt(spark, path, toVersion, keep = false)
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
    * A merge-on-read version whose fold [[read]] keeps is written from the
    * kept frame, so compaction right after a read folds nothing; otherwise
    * it folds once, without keeping the fold. The commit releases the
    * table's kept fold. Returns the committed version.
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
    try commitReplace(readAt(spark, path, v, keep = false).coalesce(nFiles), path,
      Some(s"compact-v$v"))
    finally release(spark, path)
  }

  /** M2 + M3 — expire old snapshots and GC unreferenced segments: keep the
    * newest `retainLast` manifests, delete the rest, then remove every
    * segment that (a) no retained manifest references AND (b) is older
    * than `orphanOlderThanMs` — the age guard that keeps an in-flight
    * commit's freshly-written segment (manifest not yet published) safe,
    * exactly Iceberg's remove_orphan_files(older_than). A fold [[read]]
    * keeps of an expired version is released.
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
    release(spark, path, e => expire.contains(e.version))
    (expire, orphans)
  }
}
