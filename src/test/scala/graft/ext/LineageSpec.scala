package graft.ext

import graft.SparkFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One test per [[Lineage]] policy, plus the scope's release on return and
  * on a throw.
  */
class LineageSpec extends SparkFunSuite with Eventually {

  implicit override val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(30, Seconds))

  private def frame(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).toDF("x")

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** Whether every partition of `df`'s cache is filled. */
  private def filled(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The number of jobs `body` runs: its jobs carry a job group, and a
    * marker job after it shows when the listener bus has delivered them.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("lineage-body", "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("lineage-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(assert(groups.contains("lineage-marker")))
      groups.asScala.count(_ == "lineage-body")
    } finally sc.removeSparkListener(l)
  }

  test("keep persists without running a job; the first action fills it") {
    Lineage { lin =>
      val df = frame(40, 2)
      assert(jobsOf(lin.keep(df)) == 0)
      assert(cached(df) && !filled(df))
      assert(df.count() == 40)
      assert(filled(df))
    }
  }

  test("fill leaves every frame filled before it returns, with its count") {
    Lineage { lin =>
      val a = frame(100, 4)
      val b = frame(50, 2).select((col("x") * 2).as("y"))
      val counts = lin.fill(a, b)
      assert(counts == Seq(100L, 50L))
      assert(filled(a) && filled(b))
      // filling a kept frame again only counts it
      assert(lin.fill(a) == Seq(100L))
      assert(filled(a))
    }
  }

  test("keep of a repartitioned frame: once filled, its key's hash partitioning is visible to the planner") {
    Lineage { lin =>
      val df = lin.keep(frame(30, 3).repartition(col("x")))
      assert(cached(df))
      lin.fill(df) // the cached plan is adaptive: its partitioning is known once run
      // read through the cache: no exchange left, and its partitioning shows
      val plan = df.queryExecution.sparkPlan
      assert(plan.nodeName == "InMemoryTableScan" && plan.children.isEmpty, plan)
      plan.outputPartitioning match {
        case h: HashPartitioning => assert(h.expressions.map(_.references.head.name) == Seq("x"))
        case p                   => fail(s"expected hash partitioning on x, got $p")
      }
    }
  }

  test("anchor plans as a single Scan ExistingRDD leaf that reads the cache") {
    Lineage { lin =>
      val chain = frame(20, 2).filter(col("x") % 2 === 0).select((col("x") + 1).as("y"))
      lin.fill(chain)
      val a = Lineage.anchor(chain)
      val plan = a.queryExecution.sparkPlan
      assert(plan.nodeName == "Scan ExistingRDD" && plan.children.isEmpty, plan)
      assert(a.collect().map(_.getLong(0)).sorted.toSeq == (1L to 19L by 2).toSeq)
    }
  }

  test("release drops one frame before the scope ends and keeps the others") {
    Lineage { lin =>
      val a = frame(10, 1)
      val b = frame(12, 1)
      lin.fill(a, b)
      lin.release(a)
      assert(!cached(a) && cached(b))
    }
  }

  test("checkpointed: the output is checkpointed before the scope releases its inputs") {
    val before = persistentIds
    val input = frame(25, 2)
    val out = Lineage.checkpointed { lin =>
      lin.fill(input)
      input.select((col("x") * 3).as("z"))
    }
    assert(!cached(input))
    assert(out.queryExecution.sparkPlan.nodeName == "Scan ExistingRDD")
    assert(out.collect().map(_.getLong(0)).sum == 3L * (0L until 25L).sum)
    // only the checkpoint's own blocks remain
    assert((persistentIds -- before).forall(id => spark.sparkContext.getPersistentRDDs(id).isCheckpointed))
  }

  test("iterate fills every n-th generation, anchors it, and releases the previous one") {
    val before = persistentIds
    Lineage { lin =>
      val step = (g: DataFrame, _: Int) => g.select((col("x") + 1).as("x"))
      val last = lin.iterate(frame(8, 2), steps = 7, every = 2, rollover = true)(step)
      // generations 2, 4 and 6 were filled before iterate returned; with
      // rollover only the newest one is still cached, and the result reads
      // it through an anchor
      val fresh = persistentIds -- before
      assert(fresh.size == 1)
      val info = spark.sparkContext.getRDDStorageInfo.filter(i => fresh.contains(i.id))
      assert(info.map(i => (i.numCachedPartitions, i.numPartitions)).toSeq == Seq((2, 2)))
      assert(last.queryExecution.sparkPlan.collect { case p if p.nodeName == "Scan ExistingRDD" => p }.size == 1)
      assert(last.collect().map(_.getLong(0)).sorted.toSeq == (7L until 15L).toSeq)
    }
    Lineage { lin =>
      val step = (g: DataFrame, _: Int) => g.select((col("x") + 1).as("x"))
      lin.iterate(frame(8, 2), steps = 7, every = 2, rollover = false)(step).collect()
      assert((persistentIds -- before).size == 3)
    }
    assert(persistentIds == before)
  }

  test("the scope unpersists everything it tracked on return and when the body throws") {
    val before = persistentIds
    val kept = Lineage { lin =>
      val a = lin.keep(frame(10, 1))
      lin.fill(frame(11, 1))
      a.count()
      a
    }
    assert(!cached(kept))
    assert(persistentIds == before)

    val e = intercept[IllegalStateException] {
      Lineage { lin =>
        val a = frame(10, 2)
        lin.fill(a, frame(11, 1))
        lin.keep(a.select((col("x") + 1).as("y"))).count()
        throw new IllegalStateException("mid-iteration failure")
      }
    }
    assert(e.getMessage == "mid-iteration failure")
    assert(persistentIds == before)
  }
}
