package graft.ext

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed connected components over an edge list — the final stage of
  * a dedup pipeline: candidate pairs (LSH bands, exact-hash groups, simhash
  * buckets) are edges, and a component is a duplicate CLUSTER from which
  * one canonical document is kept. The reference stops at pair emission;
  * a training-data curation pass needs the closure (A~B, B~C ⇒ {A,B,C}
  * is one cluster even when A~C was never emitted as a candidate).
  *
  * Algorithm: min-label propagation with POINTER JUMPING. Each round every
  * node takes the min of (its label, labels heard over graph edges, and
  * its label's own label — the jump). The edge step alone needs
  * O(diameter) rounds (a 1M-node chain would take 1M shuffles); the
  * label-of-label jump shortcuts label-chains geometrically, so
  * convergence is O(log diameter) — the doubling trick behind Kiveris et
  * al.'s star contraction ("Connected Components in MapReduce and Beyond",
  * SoCC'14; public).
  *
  * The LOOP runs on RDDs, deliberately — the one place in this library
  * where dropping below DataFrames is the right call, and the same reason
  * GraphX is RDD-based. An iterative fixpoint re-enters the engine every
  * round; with DataFrames each round pays Catalyst planning + codegen, and
  * worse, size ESTIMATES compound: `localCheckpoint` carries origin stats,
  * a join's estimate is the product of its children's, so round N's
  * sizeInBytes is a BigInt with ~k^N bits whose mere multiplication inside
  * the stats visitor pins the driver for minutes by round ~7 (measured;
  * resetting stats instead flips every self-join to a worst-case plan).
  * The RDD loop has none of that: one `HashPartitioner` is fixed up front,
  * labels stay hash-partitioned by node across all rounds, the
  * node-keyed joins are narrow (co-partitioned, no exchange), and a round
  * costs exactly one job — shuffles move only (long, long) pairs.
  * Per-round `localCheckpoint` truncates lineage (swap for reliable
  * `checkpoint()` on a cluster when rounds must survive executor loss).
  *
  * Output: (node, component) for every node that appears in an edge, with
  * component = min node id in the connected component (deterministic on
  * any engine, partitioning, or merge order — min is the unique fixpoint).
  * Isolated nodes never enter the edge list — callers coalesce them to
  * their own id.
  */
object Components {

  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 16
  ): DataFrame = {
    val spark = edges.sparkSession
    val e: RDD[(Long, Long)] = edges
      .select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (u, v) => u != v }
      .persist()
    // size the partitioner to the DATA, not the cluster: ~250k edges per
    // partition (16 bytes each → a few MB), floored at 1 — the same
    // thinking as files.maxPartitionBytes. A fixed defaultParallelism
    // fan-out costs rounds × stages × P near-empty tasks on a small graph
    // (measured 3× the loop's wall time at bench scale), while a sized
    // partitioner grows unbounded with the edge count at cluster scale.
    val part = new HashPartitioner((e.count() / 250000L).toInt + 1)
    val bidir = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }
      .distinct(part.numPartitions)
      .partitionBy(part)
      .persist()
    // seed: label = min(self, min neighbor) — partitioning-preserving
    var labels = bidir.reduceByKey(part, math.min(_: Long, _: Long))
      .mapPartitions(_.map { case (n, m) => (n, math.min(n, m)) },
        preservesPartitioning = true)
    labels.localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // labels heard over graph edges: co-partitioned join (narrow), then
      // re-keyed by the receiving endpoint for the min-reduce
      val viaEdge = bidir.join(labels).map { case (_, (v, l)) => (v, l) }
      // pointer jump: node → label(label(node)); keyed by label to look
      // the label's own label up in the same labels RDD — then a second
      // level (label^3) from the jumped pairs, quartering chains per round
      val byLabel = labels.map { case (n, l) => (l, n) }
      val viaJump = byLabel.join(labels)
        .map { case (_, (n, ll)) => (n, ll) }
      val viaJump2 = viaJump.map { case (n, l) => (l, n) }
        .join(labels)
        .map { case (_, (n, lll)) => (n, lll) }
      val next = labels.union(viaEdge).union(viaJump).union(viaJump2)
        .reduceByKey(part, math.min(_: Long, _: Long))
      next.localCheckpoint() // lazy: the count below materializes it
      // converged when no node's label moved this round (labels only ever
      // decrease, so "unchanged count" is a fixpoint test, not a
      // heuristic); next and labels share `part`, so this join is narrow
      // and the count is the round's single job
      val changed = next.join(labels)
        .filter { case (_, (a, b)) => a != b }.count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    bidir.unpersist()
    e.unpersist()
    require(converged, s"connectedComponents did not converge in $maxIter rounds " +
      "(pointer jumping needs ~log2(diameter); raise maxIter)")
    spark.createDataFrame(
      labels.map { case (n, c) => Row(n, c) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
  }

  /** [[connectedComponents]] for STRING node ids (canonical URLs, domain
    * names) — encodes both endpoints through [[Graphs.idDictionary]]'s
    * dense longs, runs the long-keyed pointer-jumping loop (every round
    * shuffles (long, long) pairs, never url-width strings), then decodes
    * and relabels so the output is dictionary-independent: component =
    * MIN NODE STRING in the cluster (one hash-agg + one node-keyed join
    * after the loop). Same contract as the long path: one row per node
    * appearing in an edge, deterministic on any engine.
    */
  def connectedComponentsStr(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 16
  ): DataFrame = {
    Lineage.checkpointed { lin =>
      val e = lin.keep(edges
        .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull))
      val dict = lin.keep(Graphs.idDictionary(
        e.select(col("src").as("node")).union(e.select(col("dst").as("node"))),
        "node"))
      val cc = connectedComponents(Graphs.encodeEdges(e, dict), "src", "dst", maxIter)
      val decoded = cc.join(dict, cc("node") === dict("node_id"))
        .select(dict("node"), cc("component").as("__comp"))
      lin.fill(decoded) // referenced by both the relabel agg and the join-back
      decoded
        .join(decoded.groupBy(col("__comp")).agg(min(col("node")).as("component")), "__comp")
        .select(col("node"), col("component"))
    }
  }

  /** Duplicate-cluster representative selection: given cluster labels
    * (e.g. [[connectedComponents]] over LSH candidate pairs) and a
    * per-item integer score, keep ONE item per cluster — the
    * highest-scoring, smallest-id-on-ties member — and report what the
    * choice discards. The "keep best, drop rest" step every dedup
    * pipeline ends with (RefinedWeb keeps one URL per MinHash cluster;
    * the longest-document heuristic is the common score).
    *
    * `labels`: (idCol, clusterCol); `scores`: (idCol, scoreCol). Output:
    * `(clusterCol, cluster_size, rep_id, rep_score, n_removed)` — one row
    * per cluster (singletons included, n_removed = 0).
    *
    * Plan: one doc-keyed equi-join (labels ⋈ scores — both sides one row
    * per item) then ONE hash-aggregate per cluster whose argmax is a
    * `min(struct(-score, id))` — partial-aggregable, so a degenerate
    * cluster holding half the corpus (the boilerplate blob every web
    * crawl has) collapses map-side instead of flooding one reducer. The
    * window-rank formulation this replaces would sort that cluster in a
    * single task.
    */
  def representatives(labels: DataFrame, scores: DataFrame,
                      idCol: String, clusterCol: String, scoreCol: String): DataFrame =
    labels.join(scores.select(col(idCol), col(scoreCol).cast("long").as("__score")), idCol)
      .groupBy(col(clusterCol))
      .agg(
        count(lit(1)).as("cluster_size"),
        min(struct((-col("__score")).as("ns"), col(idCol).as("id"))).as("__best"))
      .select(
        col(clusterCol),
        col("cluster_size"),
        col("__best.id").as("rep_id"),
        (-col("__best.ns")).as("rep_score"),
        (col("cluster_size") - 1L).as("n_removed"))
}
