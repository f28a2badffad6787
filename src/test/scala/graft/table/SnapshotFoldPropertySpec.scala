package graft.table

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkFunSuite
import org.apache.spark.sql.Row
import org.scalacheck.{Gen, Prop, Test}

/** ScalaCheck property: over random commit sequences, `SnapshotLog.read`
  * of a merge-on-read table equals a plain-Scala fold of the committed
  * rows — on the first read, on the reused second read, after one more
  * commit, and after the table is deleted and the same version numbers are
  * recommitted at the same path.
  */
class SnapshotFoldPropertySpec extends SparkFunSuite {
  import SnapshotFoldPropertySpec.R
  import spark.implicits._

  /** A segment: at most one row per key (commitDelta's precondition). Small
    * key and `ts` ranges make deletes, re-inserts, stale rows and equal
    * `ts` values (broken by segment position) common.
    */
  private def genSegment(deletes: Boolean): Gen[List[R]] =
    Gen.listOfN(6, for {
      k   <- Gen.choose(0, 5)
      ts  <- Gen.choose(0L, 3L)
      v   <- Gen.option(Gen.oneOf("a", "b", "c"))
      c   <- Gen.option(Gen.choose(0, 9))
      del <- if (deletes) Gen.frequency(1 -> true, 3 -> false) else Gen.const(false)
    } yield R(k, ts, v, c, del)).map(_.distinctBy(_.k))

  /** A base and `n` deltas. */
  private def genCommits(n: Int): Gen[(List[R], List[List[R]])] =
    for { base <- genSegment(deletes = false); ds <- Gen.listOfN(n, genSegment(deletes = true)) }
      yield (base, ds)

  /** A case: two independent sequences of the same shape (the second is
    * recommitted at the same path), the delta after which to compact (0 =
    * never), whether the spec has an orderCol, and one more delta.
    */
  private val genCase = for {
    n         <- Gen.choose(1, 8)
    first     <- genCommits(n)
    second    <- genCommits(n)
    compactAt <- Gen.choose(0, n - 1)
    ordered   <- Gen.oneOf(true, false)
    extra     <- genSegment(deletes = true)
  } yield (first, second, compactAt, ordered, extra)

  /** The fold on the driver: per key, rows newest first by (ts if ordered,
    * segment position); the rows newer than the newest delete are live; the
    * newest live row gives the key's row, and `c` is the newest non-null
    * live `c`.
    */
  private def model(segments: Seq[Seq[R]], ordered: Boolean): List[R] =
    segments.zipWithIndex.flatMap { case (seg, i) => seg.map(_ -> i) }
      .groupBy(_._1.k).values.toList.flatMap { rs =>
        val live = rs.sortBy { case (r, i) => (if (ordered) r.ts else 0L, i) }.reverse
          .map(_._1).takeWhile(!_.del)
        live.headOption.map(_.copy(c = live.flatMap(_.c).headOption))
      }

  private def asRows(rs: Seq[R]): Set[Row] =
    rs.map(r => Row(r.k, r.ts, r.v.orNull, r.c.map(Int.box).orNull)).toSet

  private def read(path: String): Set[Row] =
    SnapshotLog.read(spark, path).select("k", "ts", "v", "c").collect().toSet

  /** Commits `base`, then the deltas, compacting after delta `compactAt`;
    * returns the segments the model folds at the latest version.
    */
  private def commitAll(path: String, spec: SnapshotLog.MergeSpec, base: List[R],
                        deltas: List[List[R]], compactAt: Int): Seq[Seq[R]] = {
    SnapshotLog.commitReplace(base.toDF(), path)
    deltas.zipWithIndex.foldLeft(Seq[Seq[R]](base)) { case (segs, (d, i)) =>
      SnapshotLog.commitDelta(d.toDF(), path, spec)
      val now = segs :+ d
      if (i + 1 == compactAt) {
        // read before compacting half the time, so compaction sees a kept fold
        if (d.size % 2 == 0) assert(read(path) == asRows(model(now, spec.orderCol.isDefined)))
        SnapshotLog.compactLatest(spark, path)
        Seq(model(now, spec.orderCol.isDefined))
      } else now
    }
  }

  private def deleteTree(path: String): Unit = {
    val st = Files.walk(Paths.get(path))
    try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally st.close()
  }

  test("read equals a driver-side fold: first read, reused read, after a commit, after re-creation") {
    val prop = Prop.forAllNoShrink(genCase) { case ((base, deltas), (base2, deltas2), compactAt, ordered, extra) =>
      val path = graft.TestTmp.dir("morprop") + "/t"
      val spec = SnapshotLog.MergeSpec(Seq("k"), carryCols = Seq("c"), deleteCol = Some("del"),
        orderCol = if (ordered) Some("ts") else None)
      val segs = commitAll(path, spec, base, deltas, compactAt)
      val want = asRows(model(segs, ordered))
      val first = read(path)
      val reused = read(path)
      SnapshotLog.commitDelta(extra.toDF(), path, spec)
      val next = read(path)
      val wantNext = asRows(model(segs :+ extra, ordered))
      val versions = SnapshotLog.versions(spark, path)
      deleteTree(path)
      val segs2 = commitAll(path, spec, base2, deltas2, compactAt)
      SnapshotLog.commitDelta(extra.toDF(), path, spec)
      val again = read(path)
      val wantAgain = asRows(model(segs2 :+ extra, ordered))
      val sameVersions = SnapshotLog.versions(spark, path) == versions
      deleteTree(path)
      Prop(first == want) :| s"first read $first != $want" &&
        Prop(reused == want) :| s"reused read $reused != $want" &&
        Prop(next == wantNext) :| s"after a commit $next != $wantNext" &&
        Prop(sameVersions) :| "re-creation must reuse the version numbers" &&
        Prop(again == wantAgain) :| s"after re-creation $again != $wantAgain"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}

object SnapshotFoldPropertySpec {
  /** One committed row: key `k`, order column `ts`, dense `v`, carry `c`. */
  final case class R(k: Int, ts: Long, v: Option[String], c: Option[Int], del: Boolean)
}
