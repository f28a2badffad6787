package graft.queries

import graft.SparkFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The QueryCaches slot contract, driven through the public accessors. Each
  * test owns a fresh session (slots are keyed per session), and data-backed
  * slots read a private copy of the sf0.001 tables: cached plans are shared
  * across sessions, so building from `sf` itself would share — and `clear`
  * would unpersist — the cache data behind other suites' entries.
  */
class QueryCachesSpec extends SparkFunSuite with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds))

  private lazy val data: String = {
    val root = Paths.get(graft.TestTmp.dir("caches"))
    val src = Paths.get(sf)
    scala.util.Using.resource(Files.walk(src)) { st =>
      st.iterator().asScala.foreach { p =>
        val to = root.resolve(src.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
    }
    root.toString
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    try body(s) finally QueryCaches.clear(s)
  }

  private def heldSlots(s: SparkSession): Seq[String] = {
    val m = "\"caches\":\\[([^\\]]*)\\]".r.findFirstMatchIn(QueryCaches.footprint(s)).get
    m.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\""))
  }

  private def persistentIds(s: SparkSession): Set[Int] =
    s.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDD ids in the order their unpersist events reach the listener bus. */
  private def recordUnpersists(s: SparkSession)(body: ConcurrentLinkedQueue[Int] => Unit): Unit = {
    val ids = new ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = ids.add(e.rddId)
    }
    s.sparkContext.addSparkListener(l)
    try body(ids) finally s.sparkContext.removeSparkListener(l)
  }

  private def mkdirs(p: String): Unit = Files.createDirectories(Paths.get(p))

  private def rootOf(p: String) = Paths.get(p).getParent

  test("the same dir returns the same entry without rebuilding") {
    withSession { s =>
      var builds = 0
      def meta(dir: String) = QueryCaches.curationMetaFor(s, dir) {
        builds += 1
        s.range(5).toDF("doc_id")
      }
      val a = meta("A")
      assert(meta("A") eq a)
      assert(builds == 1)
      assert(a.storageLevel != StorageLevel.NONE)

      var writes = 0
      val p = QueryCaches.layoutFor(s, "A") { q => writes += 1; mkdirs(q) }
      assert(QueryCaches.layoutFor(s, "A") { q => writes += 1; mkdirs(q) } == p)
      assert(writes == 1 && Files.isDirectory(Paths.get(p)))
      assert(heldSlots(s) == Seq("curation", "layout"))
    }
  }

  test("a dir switch releases the old entry exactly once") {
    withSession { s =>
      recordUnpersists(s) { unpersisted =>
        val before = persistentIds(s)
        val a = QueryCaches.curationMetaFor(s, "A")(s.range(5).toDF("doc_id"))
        val aIds = persistentIds(s) -- before
        assert(aIds.size == 1)
        val b = QueryCaches.curationMetaFor(s, "B")(s.range(7).toDF("doc_id"))
        val bIds = persistentIds(s) -- before -- aIds
        assert(a.storageLevel == StorageLevel.NONE)
        assert(b.storageLevel != StorageLevel.NONE)
        assert(QueryCaches.curationMetaFor(s, "B")(fail("rebuilt")) eq b)
        QueryCaches.clear(s)
        // events arrive in order: once B's release is seen, every release
        // of A posted before it has been seen too
        eventually(assert(unpersisted.asScala.exists(bIds)))
        assert(unpersisted.asScala.count(aIds) == 1)
        assert(unpersisted.asScala.count(bIds) == 1)
      }

      val pa = QueryCaches.snapshotTableFor(s, "A")(mkdirs)
      val pb = QueryCaches.snapshotTableFor(s, "B")(mkdirs)
      assert(!Files.exists(rootOf(pa)))
      assert(Files.isDirectory(Paths.get(pb)))
    }
  }

  test("a build may look up another slot (copurchaseDistinct → copurchase)") {
    withSession { s =>
      val distinct = QueryCaches.copurchaseDistinctFor(s, data)
      val raw = QueryCaches.copurchaseFor(s, data)
      assert(heldSlots(s) == Seq("copurchase", "copurchaseDistinct"))
      assert(distinct.count() > 0)
      assert(distinct.count() == raw.distinct().count())
      assert(QueryCaches.copurchaseDistinctFor(s, data) eq distinct)
    }
  }

  test("footprint names all 23 slots; clear releases every one of them") {
    withSession { s =>
      val frame = () => {
        val df = s.range(4).toDF("doc_id").persist()
        df.count()
        df
      }
      val frames: Seq[DataFrame] = Seq(
        QueryCaches.sigFor(s, data), QueryCaches.labelsFor(s, data),
        QueryCaches.copurchaseFor(s, data), QueryCaches.copurchaseDistinctFor(s, data),
        QueryCaches.hyperanfEdgesFor(s, data), QueryCaches.pagerankEdgesFor(s, data),
        QueryCaches.curationMetaFor(s, data)(s.range(3).toDF("doc_id")),
        QueryCaches.curationV2MetaFor(s, data)(frame()),
        QueryCaches.videoPairsFor(s, data), QueryCaches.audioPairsFor(s, data)
      ) ++ Seq(QueryCaches.pqIndexFor(s, data), QueryCaches.pqRecallIndexFor(s, data),
        QueryCaches.gannIndexFor(s, data)).flatMap { case (x, y) => Seq(x, y) }
      QueryCaches.ivfCentFor(s, data)
      QueryCaches.semDedupCentFor(s, data)(s.range(3).toDF("label"))
      QueryCaches.fullCentFor(s, data)
      QueryCaches.bpeMergesFor(s, data)
      QueryCaches.lrWeightsFor(s, data)
      QueryCaches.wordpieceMergesFor(s, data)
      QueryCaches.unigramVocabFor(s, data)
      QueryCaches.lpaLabelsFor(s, data)
      val layout = QueryCaches.layoutFor(s, data)(mkdirs)
      val snap = QueryCaches.snapshotTableFor(s, data)(mkdirs)

      assert(heldSlots(s) == Seq("sig", "cc", "copurchase", "copurchaseDistinct",
        "hanfEdges", "prEdges", "pq", "pqCs", "ivf", "sem", "curation", "curationV2",
        "fullCent", "gann", "bpe", "lr", "wordpiece", "unigramVocab", "lpaLabels",
        "layout", "snapshot", "videoPairs", "audioPairs"))
      assert(Files.isDirectory(Paths.get(layout)) && Files.isDirectory(Paths.get(snap)))

      QueryCaches.clear(s)
      assert(heldSlots(s).isEmpty)
      frames.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
      assert(!Files.exists(rootOf(layout)) && !Files.exists(rootOf(snap)))
    }
  }

  private val boom = new RuntimeException("build failed")

  test("a failed layout rebuild leaves neither a stale path nor a leaked directory") {
    withSession { s =>
      var writes = 0
      val a = QueryCaches.layoutFor(s, "A") { p => writes += 1; mkdirs(p) }
      var failedRoot: java.nio.file.Path = null
      assert(intercept[RuntimeException] {
        QueryCaches.layoutFor(s, "B") { p => failedRoot = rootOf(p); mkdirs(p); throw boom }
      } eq boom)
      assert(!Files.exists(rootOf(a)))
      assert(!Files.exists(failedRoot))
      assert(heldSlots(s).isEmpty)
      val a2 = QueryCaches.layoutFor(s, "A") { p => writes += 1; mkdirs(p) }
      assert(writes == 2 && Files.isDirectory(Paths.get(a2)))
    }
  }

  test("a failed snapshot rebuild leaves neither a stale path nor a leaked directory") {
    withSession { s =>
      val a = QueryCaches.snapshotTableFor(s, "A")(mkdirs)
      var failedRoot: java.nio.file.Path = null
      intercept[RuntimeException] {
        QueryCaches.snapshotTableFor(s, "B") { p => failedRoot = rootOf(p); throw boom }
      }
      assert(!Files.exists(failedRoot))
      assert(heldSlots(s).isEmpty)
      val a2 = QueryCaches.snapshotTableFor(s, "A")(mkdirs)
      assert(a2 != a && Files.isDirectory(Paths.get(a2)))
    }
  }

  test("a failed frame rebuild does not leave the old dir served unpersisted") {
    withSession { s =>
      var builds = 0
      val a = QueryCaches.curationMetaFor(s, "A") { builds += 1; s.range(5).toDF("doc_id") }
      intercept[RuntimeException](QueryCaches.curationMetaFor(s, "B")(throw boom))
      assert(a.storageLevel == StorageLevel.NONE)
      assert(heldSlots(s).isEmpty)
      val a2 = QueryCaches.curationMetaFor(s, "A") { builds += 1; s.range(5).toDF("doc_id") }
      assert(builds == 2)
      assert(a2.storageLevel != StorageLevel.NONE)
    }
  }
}
