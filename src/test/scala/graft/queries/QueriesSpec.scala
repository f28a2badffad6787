package graft.queries

import graft.{SparkEntry, SparkFunSuite}
import graft.table.SnapshotLog
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Smoke: every registered query runs at sf0.001 and returns rows with the
  * declared column set (the driver's hash compare is column-name-sensitive).
  * Deep value correctness is the driver's DuckDB oracle (tools/selfcheck.py).
  *
  * Each query run is also a storage audit: afterwards every cache in the
  * SparkContext must be held by a QueryCaches slot or a SnapshotLog kept
  * fold, and the run must log neither warning of a cache filled or
  * registered twice.
  */
class QueriesSpec extends SparkFunSuite {

  /** Warnings that a frame was persisted while already cached, or that two
    * tasks computed the same cached partition.
    */
  private val storageWarnings =
    Seq("Asked to cache already cached data", "already exists on this machine; not re-adding it")

  /** `body`'s log lines that contain a storage warning. */
  private def storageWarningsDuring(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("storage-audit", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (storageWarnings.exists(msg.contains)) seen.add(msg)
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try body
    finally {
      root.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.toSeq
  }

  /** The frames of SnapshotLog's kept-fold registry, read reflectively so
    * the table format keeps no accessor that only this audit would call.
    */
  private def keptFolds: Seq[DataFrame] = {
    val m = SnapshotLog.getClass.getDeclaredMethod("folds")
    m.setAccessible(true)
    val folds = m.invoke(SnapshotLog).asInstanceOf[scala.collection.mutable.Map[String, AnyRef]]
    folds.synchronized(folds.values.toSeq)
      .map(f => f.getClass.getMethod("df").invoke(f).asInstanceOf[DataFrame])
  }

  /** RDD ids of the caches behind QueryCaches slots and kept folds. */
  private def ownedCacheIds: Set[Int] = {
    val cm = spark.sharedState.cacheManager
    (QueryCaches.heldFrames ++ keptFolds)
      .flatMap(df => cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]))
      .map(_.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id)
      .toSet
  }

  /** Persistent RDDs that are not local-checkpoint data: every Dataset
    * cache, and any RDD an operator persisted itself. An eager checkpoint's
    * blocks stay while its frame is referenced, so those are not counted.
    */
  private def cacheRdds: Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.toMap
      .filter { case (_, rdd) => !rdd.isCheckpointed }
      .map { case (id, rdd) => id -> String.valueOf(rdd.name).take(300) }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("temp-view SQL surface (S10): registered view queryable via spark.sql") {
    graft.Tables.events(spark, sf).createOrReplaceTempView("events_v")
    val n = spark.sql("SELECT count(DISTINCT user_id) AS u FROM events_v").collect().head.getLong(0)
    assert(n > 0)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val warned = storageWarningsDuring {
        val df = fn(spark, sf)
        assert(df.columns.nonEmpty)
        df.count() // q18_anti_join can legitimately return 0 rows
      }
      assert(warned.isEmpty, s"$name logged storage warnings:\n${warned.mkString("\n")}")
      val owned = ownedCacheIds
      val unowned = cacheRdds -- owned
      assert(unowned.isEmpty,
        s"$name left caches that no QueryCaches slot or kept fold holds:\n" +
          unowned.map { case (id, n) => s"  rdd $id: $n" }.mkString("\n"))
    }
  }
}
