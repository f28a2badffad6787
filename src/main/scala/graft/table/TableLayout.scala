package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage layout + maintenance for parquet-backed tables — the engine-native
  * analog of the reference's Iceberg DDL and maintenance procedures
  * (SURVEY.md §2.10 M1-M4, §4.2; reference streaming_job.py:18-61,
  * compact_cold_data.py).
  *
  * Iceberg's *hidden* partition transforms become explicit derived columns
  * (SURVEY.md F11): queries that filter on the derived column get partition
  * pruning from Catalyst for free; the derived column is cheap to add at
  * write time and never shuffles by itself.
  *
  * Scale notes: `partitionedWrite` repartitions ON the partition columns
  * before writing, so each task writes to few directories (no small-file
  * fan-out — the reference's pre-write cluster sort O1, done the
  * Spark-idiomatic way with `repartition + sortWithinPartitions`).
  * Compaction reads only the partitions selected by the predicate
  * (partition-pruned scan) and rewrites them at the target file size.
  */
object TableLayout {

  /** Iceberg-style partition transforms as derived columns. */
  def hoursOf(ts: Column): Column  = date_format(ts, "yyyy-MM-dd-HH")
  def daysOf(ts: Column): Column   = to_date(ts)

  /** Z-order key over two non-negative dimensions: interleave the low
    * `bits` bits of x and y (x on even positions) — the multi-column
    * clustering transform (Delta/Iceberg `ZORDER BY`): sorting by the
    * z-value gives every contiguous key range a BOUNDED range in BOTH
    * dimensions, so min/max file stats prune on either predicate column,
    * where a plain sort clusters only its leading column. Pure integer
    * expression (codegen'd shifts), identical in any engine with bit ops.
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Day partition under the hidden-partitioning naming contract
    * (`<ts>_day` = to_date(ts)): tables written with this partition get
    * automatic partition pruning for predicates on the RAW timestamp via
    * [[graft.plans.PartitionPredicateRewrite]] — the engine-native analog
    * of Iceberg's transform-aware pruning.
    */
  def daysPartition(tsCol: String): (String, Column) =
    s"${tsCol}_day" -> daysOf(col(tsCol))

  /** Hour partition under the same contract (`<ts>_hour` =
    * date_format(ts, "yyyy-MM-dd-HH") — fixed-width, so lexicographic
    * order is time order); the reference's bronze layout (hours(ts),
    * streaming_job.py:37).
    */
  def hoursPartition(tsCol: String): (String, Column) =
    s"${tsCol}_hour" -> hoursOf(col(tsCol))
  /** Stable 0..n-1 bucket (murmur3-based; stability, not Iceberg
    * bit-compatibility, is the contract — SURVEY.md §7.5 pitfall 5). */
  def bucketOf(n: Int, c: Column): Column = pmod(hash(c), lit(n))

  /** Z-value (Morton code) of two non-negative integer columns: the low 31
    * bits of each are bit-interleaved (a → even bits, b → odd bits) into a
    * 62-bit NON-NEGATIVE long, so sorting by the result clusters rows that
    * are close in BOTH dimensions — the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * layout primitive. A lexicographic sort on (a, b) gives perfect
    * locality on `a` and none on `b`; the z-curve trades a little of `a`'s
    * locality for bounded ranges of both, which is what lets parquet
    * min/max stats skip files for predicates on EITHER column. Pure
    * shift/mask expression tree — fully codegen'd, no UDF.
    *
    * Domain: inputs are clamped to [0, 2^31 - 1] — 31 bits each keeps the
    * sign bit clear (interleaving a 32nd bit would put b's bit 31 in the
    * long's sign position and invert the sort at that boundary).
    * Wide-domain columns (epoch millis/micros, ids beyond 2^31) should be
    * pre-normalized by the caller, e.g. bucketed to a coarser unit.
    */
  def zValue(a: Column, b: Column): Column = {
    val max31 = lit((1L << 31) - 1)
    val an = least(greatest(a.cast("long"), lit(0L)), max31)
    val bn = least(greatest(b.cast("long"), lit(0L)), max31)
    (0 until 31)
      .map { i =>
        (shiftright(an, i).bitwiseAND(1) * lit(1L << (2 * i))) +
          (shiftright(bn, i).bitwiseAND(1) * lit(1L << (2 * i + 1)))
      }
      .reduce(_ + _)
  }

  /** Z-order clustered write: range-partition and sort by the interleaved
    * z-value of `colA`/`colB`, then write `nFiles` parquet files whose
    * min/max stats are tight in BOTH columns for files inside a z-quadrant
    * (a file straddling a high-level quadrant boundary spans both sides —
    * the usual z-curve caveat; boundaries come from RangePartitioner
    * sampling). The multi-dimensional companion to [[partitionedWrite]]'s
    * one-dimensional cluster sort.
    */
  def zOrderedWrite(df: DataFrame, path: String, colA: String, colB: String,
                    nFiles: Int): Unit =
    df.withColumn("__z", zValue(col(colA), col(colB)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Partitioned, cluster-sorted write (S9/O1): adds the derived partition
    * columns, repartitions on them, sorts within partitions by `sortCols`,
    * writes parquet.
    */
  def partitionedWrite(
      df: DataFrame,
      path: String,
      partitions: Seq[(String, Column)],
      sortCols: Seq[String] = Nil
  ): Unit = {
    val withParts = partitions.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
    val partCols  = partitions.map(_._1)
    val clustered = withParts.repartition(partCols.map(col): _*)
    val sorted =
      if (sortCols.nonEmpty) clustered.sortWithinPartitions(sortCols.map(col): _*)
      else clustered
    sorted.write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
  }

  /** M1 — predicate-scoped bin-packing compaction: rewrite the partitions
    * matching `where` into ~`targetFileBytes` files, leave the rest
    * untouched. Partition dirs are swapped one at a time (write-new +
    * rename), mirroring rewrite_data_files(where, target-file-size-bytes).
    *
    * Returns the number of partitions rewritten.
    */
  def compact(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      where: Column,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minInputFiles: Int = 2
  ): Int = {
    import spark.implicits._
    val root = new Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Enumerate partitions from the FILESYSTEM (escaped dir names), decode
    // the value, and evaluate the predicate against it — reconstructing
    // dir names from query values breaks on characters Spark %-escapes
    // (space, ':', ...). Null partitions (__HIVE_DEFAULT_PARTITION__) are
    // never compact targets here.
    val prefix = s"$partitionCol="
    val dirNames = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
      .filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
    val dt = spark.read.parquet(path).schema(partitionCol).dataType
    val keep = dirNames.map(n => n -> unescapePath(n)).toDF("__dir", partitionCol)
      .withColumn(partitionCol, col(partitionCol).cast(dt))
      .filter(where)
      .select("__dir").collect().map(_.getString(0))
    var rewritten = 0
    keep.foreach { pv =>
      val partDir = new Path(s"$path/$partitionCol=$pv")
      val files = fs.listStatus(partDir).filter(f => f.getPath.getName.endsWith(".parquet"))
      if (files.length >= minInputFiles) {
        val bytes   = files.map(_.getLen).sum
        val nFiles  = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        val data    = spark.read.parquet(partDir.toString)
        val tmp     = new Path(s"$path/.compact-tmp-$pv")
        data.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
        fs.delete(partDir, true)
        fs.rename(tmp, partDir)
        rewritten += 1
      }
    }
    rewritten
  }

  /** M4 — TTL: drop whole partitions older than the cutoff (a metadata-only
    * delete — no data files are read, matching `DELETE WHERE window_start <
    * now() - interval ...` on a partitioned table).
    *
    * Returns the partition values dropped.
    */
  def ttlDropPartitions(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      shouldDrop: String => Boolean
  ): Seq[String] = {
    val root = new Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$partitionCol="
    val dropped = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix))
      .filter(shouldDrop)
    dropped.foreach(pv => fs.delete(new Path(s"$path/$prefix$pv"), true))
    dropped
  }

  /** Decode Spark's %XX partition-directory escaping (escapePathName). */
  private[table] def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** File-health metadata per partition — the plain-parquet analog of
    * Iceberg's `$files` metadata table that the reference's Grafana panels
    * query for fragmentation/small-file monitoring
    * (lakehouse_monitor.json:117,314; Dashboard.md:94-97). Driver-side
    * directory listing only; no data files are read.
    * Output: (partition, n_files, total_bytes, avg_bytes).
    */
  def fileStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { d =>
        // recursive: multi-level partition layouts nest further dirs under
        // the top-level partition
        var nFiles = 0L
        var bytes  = 0L
        val it = fs.listFiles(d.getPath, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) { nFiles += 1; bytes += f.getLen }
        }
        (d.getPath.getName, nFiles, bytes, if (nFiles > 0) bytes / nFiles else 0L)
      }
    rows.toDF("partition", "n_files", "total_bytes", "avg_bytes")
  }

  /** M3 — orphan cleanup: delete stray temp dirs left by failed compactions
    * or swaps (the plain-parquet analog of remove_orphan_files).
    */
  def removeOrphans(spark: SparkSession, path: String): Seq[String] = {
    val root = new Path(path)
    val fs   = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val orphans = fs.listStatus(root).toSeq
      .filter(s => s.getPath.getName.startsWith(".compact-tmp-") ||
        s.getPath.getName.contains(".tmp-"))
      .map(_.getPath)
    orphans.foreach(p => fs.delete(p, true))
    orphans.map(_.toString)
  }
  /** Zone-map clustering-depth audit (the Iceberg/Delta "overlap depth"
    * metric behind OPTIMIZE decisions): given per-file zone maps
    * `(layout, file_id, lo, hi)` for a sort/cluster column, the number
    * of files whose [lo, hi] range covers any given key is exactly the
    * number of files a point lookup on that key must read after
    * min/max pruning. A perfectly clustered layout has depth 1
    * everywhere; a hash-scattered layout has depth ≈ n_files — zone
    * maps prune nothing you didn't cluster for.
    *
    * Computed as a boundary sweep: each file contributes (+1 at lo,
    * −1 at hi+1), the running sum over sorted boundaries is the depth
    * profile, and segments weight by their key-span length. All
    * metadata-sized — 2·n_files boundary rows per layout, never the
    * table — which is the point: the audit is free at 100 TB because
    * zone maps already are.
    *
    * Output per layout: (layout, n_files, max_depth, avg_depth_milli)
    * with the average weighted over covered key-span.
    */
  def clusteringDepth(zones: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = zones.select(col("layout"),
        explode(array(
          struct(col("lo").cast("long").as("k"), lit(1L).as("d")),
          struct((col("hi").cast("long") + 1L).as("k"), lit(-1L).as("d"))))
          .as("e"))
      .select(col("layout"), col("e.k").as("k"), col("e.d").as("d"))
      .groupBy("layout", "k").agg(sum(col("d")).as("dd"))
    val w = Window.partitionBy("layout").orderBy("k")
    val segs = ev
      .withColumn("depth", sum(col("dd")).over(w))
      .withColumn("next_k", lead(col("k"), 1).over(w))
      .filter(col("next_k").isNotNull && col("depth") > 0)
      .withColumn("len", col("next_k") - col("k"))
    val files = zones.groupBy("layout").agg(count(lit(1)).as("n_files"))
    segs.groupBy("layout")
      .agg(max(col("depth")).as("max_depth"),
        sum(col("depth") * col("len")).as("__dw"),
        sum(col("len")).as("__len"))
      .withColumn("avg_depth_milli", expr("CAST((__dw * 1000) div __len AS BIGINT)"))
      .join(files, "layout")
      .select(col("layout"), col("n_files"), col("max_depth"),
        col("avg_depth_milli"))
  }
}
