package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-graph centrality for crawl curation. Web-scale training corpora
  * weight documents by the standing of the site that published them —
  * Common Crawl publishes harmonic-centrality and PageRank rankings for
  * exactly this purpose, and crawl frontiers seed from them (Page et al.
  * 1999, "The PageRank Citation Ranking"; public). The reference engine
  * stops at per-URL extraction; a curation pass needs the global signal:
  * a domain linked by many well-linked domains outranks one nobody cites,
  * regardless of either's raw document count (which spam inflates).
  *
  * Engine-portability: ranks are micro-units (1e6 = mass 1.0) and every
  * step is BIGINT arithmetic with floor division — `rank div outdeg`
  * shares, `(damping × inflow) div 100` mixing — so a DuckDB oracle
  * running the same chained iterations reproduces the output bit-for-bit.
  * Floating-point PageRank is merge-order-sensitive (sum order changes
  * the low bits); integer mass is not.
  */
object Graphs {

  /** Frontier-size ceiling for riding a removal frontier into the
    * adjacency as a BROADCAST ([[kCore]]): ~5M long ids ≈ 40 MB — small
    * enough for every executor, far under driver limits. Above it the
    * same join runs as a shuffle equi-join (identical result; the
    * round-1 frontier of a peel can be most of the graph).
    */
  private[graft] val BroadcastFrontierMaxRows: Long = 5000000L

  /** Canonical undirected distinct edge list (a < b, non-null, no self
    * loops) — the normalization every undirected-graph operator here
    * starts from. With `assumeCanonical = true` the caller CERTIFIES the
    * input already satisfies that contract (e.g. the QueryCaches
    * co-purchase slots, which persist the canonical distinct frame), and
    * the normalization collapses to a cast projection: the `distinct()`
    * exchange — a full shuffle of the edge list that a cached canonical
    * input re-pays on every operator invocation for nothing — disappears
    * from the plan. Results are bit-identical whenever the certificate
    * holds; a false certificate double-counts multi-edges, so only
    * slot-built frames pass `true`.
    */
  private def canonicalEdges(edges0: DataFrame, srcCol: String, dstCol: String,
                             assumeCanonical: Boolean): DataFrame =
    if (assumeCanonical)
      edges0.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    else
      edges0
        .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
          greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
        .distinct()

  /** Directed distinct edge list (src, dst as strings, neither null; self
    * loops kept) — the normalization the directed operators start from.
    */
  private def directedEdges(edges0: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  /** Every endpoint of a (src, dst) edge frame, once per edge end. */
  private def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).union(edges.select(col("dst").as("node")))

  private def nodesOf(edges: DataFrame): DataFrame = endpoints(edges).distinct()

  /** (src, dst, odeg): the out-degree rides each edge row, so an
    * iteration's join against the rank frame is single.
    */
  private def outEdgesOf(edges: DataFrame): DataFrame =
    edges.join(edges.groupBy("src").agg(count(lit(1)).as("odeg")), "src")

  /** (src, dst) string edges re-keyed to their [[idDictionary]] long ids. */
  private[graft] def encodeEdges(edges: DataFrame, dict: DataFrame): DataFrame =
    edges
      .join(dict.select(col("node").as("src"), col("node_id").as("__sid")), "src")
      .join(dict.select(col("node").as("dst"), col("node_id").as("__did")), "dst")
      .select(col("__sid").as("src"), col("__did").as("dst"))

  /** Both orientations of a canonical (a, b) edge list as (node, nbr). */
  private def adjacency(e: DataFrame): DataFrame =
    e.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nbr")))

  /** Milli ball-size estimate of a bottom-`k` KMV sketch column `hs`. */
  private def kmvEstimateSql(k: Int): String =
    s"""CAST(CASE WHEN size(hs) < $k THEN size(hs) * 1000L
       |  ELSE ((${k - 1}L * 1000L * ${graft.ext.ThetaSketch.HashSpace}L) div element_at(hs, $k))
       |END AS BIGINT)""".stripMargin

  /** Dense long ids for a (string) key column — the dictionary-encode
    * step web-scale graph work does upstream so every iteration shuffles
    * (long, long) rows instead of (url-string, long). GraphX requires
    * long vertex ids for the same reason; Common Crawl's own graph
    * releases ship as an id dictionary plus a long-keyed edge list.
    *
    * Assignment is deterministic (id = rank of the key in an arbitrary
    * but fixed total order), dense (ids are exactly 0..n-1), and built
    * WITHOUT a global sort or `zipWithIndex`: keys hash into `shards`
    * buckets, a bounded window over the ≤`shards`-row per-bucket counts
    * prefix-sums the bucket offsets, and a bucket-local `row_number`
    * (each bucket sorts only its own slice, all buckets in parallel)
    * adds the within-bucket rank — the same sharded-prefix-sum shape as
    * [[Packing.packSequences]]. `zipWithIndex` would cost an RDD
    * round-trip plus a barrier job; a global `row_number` window would
    * sort the entire key set in ONE task.
    *
    * Output: (`nodeCol`, node_id LONG) — one row per distinct non-null
    * key. Callers iterating against the dictionary should persist it
    * (it is referenced once per encoded column plus once to decode).
    */
  def idDictionary(df: DataFrame, nodeCol: String, shards: Int = 1024): DataFrame = {
    require(shards > 0, "shards must be positive")
    val nodes = df.select(col(nodeCol).cast("string").as("node"))
      .filter(col("node").isNotNull)
      .distinct()
      .withColumn("__shard", pmod(xxhash64(col("node")), lit(shards.toLong)))
    // bucket offsets: a window over at most `shards` rows — a catalog
    // constant, not data-sized — so the single-task sort is bounded
    val offsets = nodes.groupBy(col("__shard")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__offset",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__shard")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__shard"), col("__offset"))
    nodes.join(broadcast(offsets), "__shard")
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("__shard")).orderBy(col("node"))))
      .select(col("node").as(nodeCol),
        (col("__offset") + col("__rn") - lit(1L)).as("node_id"))
  }

  /** Exact-integer PageRank over a string-keyed edge list, fixed
    * `iters` power iterations.
    *
    * Semantics (deliberately simple and total):
    *   - the graph is `edges.distinct()`; self-loops are kept (a
    *     self-citation is a citation — and dropping them silently would
    *     make the oracle's edge set diverge from the operator's);
    *   - every node (source or target of any edge) starts at `scaleMu`
    *     micro-units;
    *   - each iteration: share(u) = rank(u) div outdeg(u) flows along
    *     every out-edge, and rank'(v) = base + (dampingPct × Σ inflow)
    *     div 100 with base = ((100 − dampingPct) × scaleMu) div 100;
    *   - dangling nodes (no out-edges) KEEP their rank but contribute
    *     nothing — their mass leaves the system, the standard "lost
    *     mass" simplification. Total mass therefore shrinks toward the
    *     teleport floor; rankings are unaffected, which is what the
    *     curation weight consumes. `redistributeDangling = true` opts in
    *     to the textbook conserved-mass formulation instead: each
    *     iteration the dangling nodes' total rank is shared uniformly —
    *     rank'(v) = base + (dampingPct × (inflow + danglingSum div N))
    *     div 100 — as one bounded aggregate over the (precomputed)
    *     dangling node set, broadcast as a single row into the update.
    *
    * Scale shape: per iteration exactly two shuffles — the rank⋈edges
    * equi-join on the source key (sort-merge; both sides are node/edge
    * sized, nothing is collected or broadcast) and the inflow hash-agg
    * on the target key, whose partial aggregation absorbs in-degree
    * skew map-side (a domain linked from everywhere sums locally before
    * the exchange). The per-iteration cost is O(E) rows of (string,
    * long) — at web scale, pass `encodeIds = true` to run the iterations
    * over [[idDictionary]]-assigned dense longs (2 shuffles × iters of
    * (long, long) rows; the encode/decode joins are paid once) with
    * bit-identical output. A generation is filled every 4th iteration
    * (kept shallower than the ~7-deep cliff where iterative DataFrame
    * plans start compounding — see [[Components]]),
    * so short runs execute as a single job; `iters` is fixed and small
    * (3-20 in practice), not a convergence loop. Every frame the run
    * persists is owned by one [[Lineage]] scope.
    *
    * Overflow: Σ shares ≤ nodes × scaleMu, so dampingPct × inflow stays
    * under 2^63 for corpora up to ~10^11 nodes at the default scale —
    * beyond that, lower `scaleMu`.
    *
    * Output: (node, rank_mu) for every node in the edge list.
    */
  def pageRankInt(edges0: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, scaleMu: Long = 1000000L,
                  dampingPct: Int = 85,
                  redistributeDangling: Boolean = false,
                  encodeIds: Boolean = false): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct must be in [0, 100]")
    // edges feeds four downstream builds (both node branches, the out-deg
    // agg, and the join probe) — filled, or the upstream extraction
    // (regexp scans, distinct shuffle) runs four times — and the loop reads
    // it through an anchor (see [[Lineage.anchor]]): the iterations nest
    // references to this frame, so the caller's extraction subtree would be
    // re-analyzed at every occurrence — driver time that measured multiples
    // of the actual compute on small graphs
    Lineage { lin =>
      val edgesChain = directedEdges(edges0, srcCol, dstCol)
      lin.fill(edgesChain)
      val edges = Lineage.anchor(edgesChain)
      if (!encodeIds) runPageRank(edges, iters, scaleMu, dampingPct, redistributeDangling)
      else Lineage.checkpointed { enc =>
        // dictionary-encode once up front (two node-keyed equi-joins), so
        // every ITERATION's join + hash-agg shuffles (long, long) rows
        // instead of string keys: iterations dominate (2 shuffles × iters
        // vs 2 encode joins + 1 decode join, paid once)
        val dict = idDictionary(endpoints(edges), "node")
        enc.fill(dict) // BEFORE the two encode joins scan it
        val encChain = encodeEdges(edges, dict)
        enc.fill(encChain)
        // the anchor matters most here: with the extract→distinct→
        // dictionary→encode subtree attached, each action re-analyzed it at
        // every occurrence — measured 12-24 s of pure DRIVER time on a
        // 26-node sf0.1 graph, >10× the whole string-keyed run
        val ranked = runPageRank(Lineage.anchor(encChain), iters, scaleMu, dampingPct,
          redistributeDangling)
        ranked.join(dict, ranked("node") === dict("node_id"))
          .select(dict("node"), ranked("rank_mu"))
      }
    }
  }

  /** The iteration loop over a normalized, filled (src, dst) edge
    * frame — key type is whatever the caller shuffles best (strings on
    * the direct path, dense longs via [[idDictionary]] when
    * `encodeIds`). Returns (node, rank_mu) checkpointed, internal
    * frames unpersisted.
    */
  private[graft] def runPageRank(edges: DataFrame, iters: Int, scaleMu: Long,
                          dampingPct: Int, redistributeDangling: Boolean): DataFrame =
    Lineage.checkpointed { lin =>
      // both are read by every iteration, the first job included
      val nodes = nodesOf(edges)
      val outEdges = outEdgesOf(edges)
      lin.fill(nodes, outEdges)
      val base = ((100L - dampingPct) * scaleMu) / 100L
      // dangling node set + node count: both fixed across iterations. The
      // count rides as a broadcast 1-row frame, NOT a driver scalar — a
      // nodes.count() here would cost a whole extra job per invocation just
      // to fetch a number the plan can carry itself
      val dangling =
        if (!redistributeDangling) None
        else {
          val danglingNodes = nodes.join(edges.select(col("src").as("node")).distinct(),
            Seq("node"), "left_anti")
          lin.fill(danglingNodes)
          Some((danglingNodes, nodes.agg(count(lit(1)).as("__n"))))
        }
      // Materialize a generation only every 4th iteration: each barrier is
      // a full job, and a 3-iteration run should be ONE job, not four. Four
      // is safely below the lineage-depth cliff where per-round Catalyst
      // re-planning and compounding size estimates start to bite (measured
      // around depth ~7 on self-joining iterative plans — see
      // [[Components]]'s rationale for leaving DataFrames entirely). With
      // redistribution each generation is referenced TWICE (inflow join +
      // dangling-sum aggregate), so the cadence drops to 2 there (4 evals
      // of cheap narrow ops beats a barrier per round at stage-floor scales)
      val matEvery = if (dangling.isDefined) 2 else 4
      val rank0 = nodes.withColumn("rank_mu", lit(scaleMu))
      lin.iterate(rank0, iters, matEvery, rollover = true) { (rank, _) =>
        iteration(outEdges, nodes, rank, base, dampingPct, dangling)
      }
    }

  /** One power iteration, exposed at package level so the plan audit can
    * pin its physical shape: an equi-join of rank onto out-edges, a
    * partial+final hash-agg of shares on the target key, and a left join
    * back onto the node set — never a product join, never a window.
    *
    * `outEdges` must carry (src, dst, odeg); `rank` carries
    * (node, rank_mu).
    */
  /** One UNEXECUTED power iteration over `edges0` from the uniform start
    * state — the frame whose physical plan IS the operator's scale story
    * (the public [[pageRankInt]] output is a checkpoint scan with no plan
    * left to read). Used by the plan audit and `graft.Bench --plans`.
    */
  private[graft] def iterationPlanFrame(edges0: DataFrame, srcCol: String,
                                        dstCol: String, scaleMu: Long = 1000000L,
                                        dampingPct: Int = 85): DataFrame =
    iterationPlanFrameOf(directedEdges(edges0, srcCol, dstCol), scaleMu, dampingPct)

  /** One unexecuted power iteration over a normalized (src, dst) frame. */
  private def iterationPlanFrameOf(edges: DataFrame, scaleMu: Long, dampingPct: Int): DataFrame = {
    val nodes = nodesOf(edges)
    val base = ((100L - dampingPct) * scaleMu) / 100L
    iteration(outEdgesOf(edges), nodes, nodes.withColumn("rank_mu", lit(scaleMu)), base, dampingPct)
  }

  /** [[iterationPlanFrame]] with `encodeIds` semantics: the dictionary
    * build, the encode joins, and one power iteration over the LONG-keyed
    * graph, all unexecuted — so the audit can pin that every iteration
    * exchange hashes dense long keys, not strings.
    */
  private[graft] def iterationPlanFrameEncoded(edges0: DataFrame, srcCol: String,
                                               dstCol: String, scaleMu: Long = 1000000L,
                                               dampingPct: Int = 85): DataFrame = {
    val edges = directedEdges(edges0, srcCol, dstCol)
    iterationPlanFrameOf(encodeEdges(edges, idDictionary(endpoints(edges), "node")),
      scaleMu, dampingPct)
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, "Near linear time algorithm to detect community structures in
    * large-scale networks"; public) over a string-keyed edge list, fixed
    * `iters` rounds. The curation use: a domain-level community is a
    * crawl neighborhood — a spam farm interlinks itself far more densely
    * than it links out, so its members converge onto one label within a
    * round or two, and a pipeline caps per-community document budgets the
    * same way it caps per-domain budgets.
    *
    * Semantics (deterministic by construction — classic LPA tie-breaks
    * randomly; here every choice is total-ordered):
    *   - the graph is undirected: adjacency = edges ∪ reversed(edges),
    *     distinct, self-loops dropped (a self-vote would just echo the
    *     node's current label and damp convergence);
    *   - labels start as the node's own key;
    *   - each round, SYNCHRONOUSLY: label'(v) = the label with the most
    *     occurrences among v's neighbors' current labels, ties broken by
    *     the lexicographically smallest label. Every node in the edge
    *     list has ≥1 neighbor (it is incident to an edge), so there is no
    *     isolated-node branch.
    *
    * Scale shape: a round is one equi-join (labels onto adjacency, on the
    * neighbor key) and TWO hash-aggregates — (node, label) vote counts,
    * then per-node argmax via `min(struct(-count, label))`. The argmax is
    * deliberately an aggregate, not a `row_number` window: partial
    * aggregation absorbs vote skew map-side and nothing sorts. Every 4th
    * round is filled and read through an anchor ([[Lineage.iterate]]), so
    * the self-nesting plan never re-canonicalizes its prefix.
    *
    * Output: (node, label) for every node in the edge list.
    */
  def labelPropagation(edges0: DataFrame, srcCol: String, dstCol: String,
                       iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val e = edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    Lineage.checkpointed { lin =>
      val adjChain = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .select(col("src").as("node"), col("dst").as("nbr"))
      lin.fill(adjChain)
      // the loop references this frame once per round and nests the
      // references: read it through an anchor (see runPageRank)
      val adj = Lineage.anchor(adjChain)
      val labels0 = adj.select(col("node")).distinct().withColumn("label", col("node"))
      lin.iterate(labels0, iters, every = 4, rollover = true) { (labels, _) =>
        lpRound(adj, labels)
      }
    }
  }

  /** Newman modularity of a node→community assignment over the simple
    * undirected graph (Newman & Girvan 2004): `Q = Σ_c (in_c/m −
    * (tot_c/2m)²)` where `in_c` counts intra-community edges, `tot_c`
    * sums member degrees, and `m` is the edge count — THE community-
    * quality score read beside label-propagation output (Q > 0 means
    * denser-than-random communities; LPA collapsing everything to one
    * label scores exactly 0).
    *
    * Exact-integer form: Q·(4m²) = 4m·intra − Σtot_c², reported in basis
    * points through the non-negative SHIFT `(num + 4m²)·10⁴ div 4m² −
    * 10⁴` so floor division is engine-identical (Spark `div` truncates
    * toward zero, DuckDB `//` floors — they agree only at ≥ 0; the shift
    * is valid because `num ≥ −Σtot_c² ≥ −4m²`). The exact branch holds to
    * m ≤ 10⁷ edges; past it the expression switches to one rounded-double
    * division (the selfJoinSizeAudit wrap-guard shape) — per-community
    * `tot_c²` itself wraps only at tot_c > 3·10⁹, a community holding
    * most of a 1.5·10⁹-edge graph.
    *
    * Shape: one distinct, one degree aggregate, two node-keyed label
    * joins over the edge list, three scalar roll-ups crossed broadcast —
    * no window, no product, nothing wider than (node, label).
    *
    * Output: one row — (n_nodes, n_edges, n_communities, intra_edges,
    * sum_tot_sq, modularity_bp).
    */
  def modularity(edges0: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, nodeCol: String = "node",
                 labelCol: String = "label"): DataFrame = {
    val e = edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val ed = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val lab = labels.select(col(nodeCol).cast("string").as("node"),
      col(labelCol).cast("string").as("label"))
    val deg = ed.select(col("a").as("node"))
      .unionByName(ed.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("__deg"))
    val totAgg = deg.join(lab, Seq("node"))
      .groupBy(col("label")).agg(sum(col("__deg")).as("__tot"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("__tot") * col("__tot")).as("sum_tot_sq"))
    val nodesAgg = deg.agg(count(lit(1)).as("n_nodes"))
    val edgesAgg = ed.agg(count(lit(1)).as("n_edges"))
    val intraAgg = ed
      .join(lab.select(col("node").as("a"), col("label").as("__la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("__lb")), Seq("b"))
      .agg(coalesce(sum(when(col("__la") === col("__lb"), 1L).otherwise(0L)), lit(0L))
        .as("intra_edges"))
    nodesAgg.crossJoin(broadcast(edgesAgg)).crossJoin(broadcast(totAgg))
      .crossJoin(broadcast(intraAgg))
      .select(col("n_nodes"), col("n_edges"), col("n_communities"),
        col("intra_edges"), col("sum_tot_sq"),
        expr("""CASE WHEN n_edges = 0 THEN 0L
          | WHEN n_edges <= 10000000L THEN
          |  ((4 * n_edges * intra_edges - sum_tot_sq) + 4 * n_edges * n_edges)
          |    * 10000 div (4 * n_edges * n_edges) - 10000
          | ELSE CAST(round(
          |  (4.0 * n_edges * intra_edges - CAST(sum_tot_sq AS DOUBLE)) * 10000.0
          |    / (4.0 * n_edges * n_edges)) AS BIGINT) END""".stripMargin)
          .as("modularity_bp"))
  }

  /** Degree assortativity (Newman, PRL 2002): the Pearson correlation of
    * endpoint degrees over the directed-both-ways edge list — THE
    * one-number summary of whether hubs attach to hubs (social graphs,
    * r > 0) or to leaves (product/technological graphs, r < 0; a crawl
    * graph's disassortativity is a spam-farm signal). All moments
    * (Σx, Σx², Σxy over the 2m directed rows; marginals symmetric by
    * construction) are EXACT BIGINT sums; only the final correlation is
    * one fixed-association double expression rounded once to milli (the
    * sim_bp convention — `M·Σxy` alone can pass 2⁶³ on a hub graph, so
    * the division must happen in the double domain).
    *
    * Shape: the marginal moments need NO join — node v appears as a
    * source in exactly d(v) directed rows, so `Σx = Σ_v d(v)²` and
    * `Σx² = Σ_v d(v)³` fall out of ONE node-sized aggregate (d³ caps the
    * exact regime at d ≤ 2·10⁶ — beyond any real hub). Only the cross
    * moment touches edges: one edge⋈degree join, collapsed PER TARGET
    * NODE (`Σxy = Σ_y d(y)·Σ_{x∼y} d(x)`) so the second degree lookup is
    * a node-sized join, not a second pass over edges. Measured 5.1 s →
    * (see bench) against the two-edge-join formulation.
    *
    * Output: one row — (n_nodes, n_edges, sum_deg_src, sum_deg_sq,
    * sum_deg_prod, assortativity_milli).
    */
  def assortativity(edges0: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // node ids keep their NATIVE type: the operator is purely structural
    // (no label mixing), and numeric keys shuffle at a fraction of the
    // string-cast width (the pagerank_url_encoded lesson)
    val e = edges0
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val ed = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val dir = ed.select(col("a").as("x"), col("b").as("y"))
      .unionByName(ed.select(col("b").as("x"), col("a").as("y")))
    // the degree frame feeds three consumers (marginal moments, the
    // source-degree attach, the target-degree attach) — persist it for
    // the computation and LOCALIZE the 1-row result (the kmeansFit
    // discipline: an audit returning one row has no reason to leave a
    // cache entry or re-derive the graph per downstream action)
    val deg = dir.groupBy(col("x").as("node")).agg(count(lit(1)).as("__d")).persist()
    try {
      // fill the cache before the three consumers share one job, or two of
      // their tasks can compute the same cached partition at once
      deg.count()
      val nn = deg.agg(count(lit(1)).as("n_nodes"),
        sum(col("__d")).as("m2"),
        sum(col("__d") * col("__d")).as("sum_deg_src"),
        sum(col("__d") * col("__d") * col("__d")).as("sum_deg_sq"))
      val inflow = dir
        .join(deg.select(col("node").as("x"), col("__d").as("__dx")), Seq("x"))
        .groupBy(col("y")).agg(sum(col("__dx")).as("__sdx"))
      val mo = inflow
        .join(deg.select(col("node").as("y"), col("__d").as("__dy")), Seq("y"))
        .agg(sum(col("__dy") * col("__sdx")).as("sum_deg_prod"))
      val out = nn.crossJoin(broadcast(mo))
        .select(col("n_nodes"), (col("m2") / 2L).cast("long").as("n_edges"),
          col("sum_deg_src"), col("sum_deg_sq"), col("sum_deg_prod"),
          expr("""CASE WHEN m2 * CAST(sum_deg_sq AS DOUBLE)
            |   - CAST(sum_deg_src AS DOUBLE) * sum_deg_src <= 0 THEN 0L
            | ELSE CAST(round(
            |   (m2 * CAST(sum_deg_prod AS DOUBLE)
            |     - CAST(sum_deg_src AS DOUBLE) * sum_deg_src) * 1000.0
            |   / (m2 * CAST(sum_deg_sq AS DOUBLE)
            |     - CAST(sum_deg_src AS DOUBLE) * sum_deg_src)) AS BIGINT) END"""
            .stripMargin).as("assortativity_milli"))
      val spark = edges0.sparkSession
      val rows = out.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
    } finally deg.unpersist()
  }

  /** One synchronous round of Louvain-style local moving (Blondel,
    * Guillaume, Lambiotte & Lefebvre 2008, phase 1): every node
    * considers joining each NEIGHBORING community and moves to the one
    * with the largest modularity gain, if that gain strictly beats
    * staying put. The standard gain comparison, scaled by `2m²` so it is
    * EXACT BIGINT arithmetic: for node i and candidate community c,
    * `G(c) = 2m·k_{i,c} − k_i·tot_{c\\i}` where `k_{i,c}` counts i's
    * edges into c, `k_i` is i's degree, and `tot_{c\\i}` is c's degree
    * mass without i — argmax G over candidates ∪ own, move only when the
    * winner strictly exceeds G(own), ties broken by smallest label
    * (deterministic; replayed verbatim by the q314 oracle). Synchronous:
    * every decision reads the INPUT labels, so the round is one
    * deterministic dataflow, not a sweep-order-dependent scan (the
    * classic sequential Louvain is order-dependent; the synchronous
    * variant trades some per-round progress for replayability — the
    * same trade [[labelPropagation]] makes).
    *
    * Candidates are restricted to communities with label ≤ own — the
    * MINIMUM-LABEL rule from parallel Louvain (Lu, Halappanavar &
    * Kalyanaraman 2015): simultaneous decisions against frozen labels
    * can otherwise form swap cycles (i moves to j's community exactly as
    * j moves to i's — 2 "moves", the identical partition relabeled, zero
    * modularity gained; measured as 25 no-op moves on the citation graph
    * before the rule). Ordering the moves breaks every such cycle while
    * keeping the round deterministic; moves toward larger labels just
    * wait for a later round under the relabeled partition.
    *
    * Overflow: `k_i·tot_c ≤ 2m²` wraps signed 64-bit at m ≈ 2.1·10⁹
    * edges — beyond any single modularity computation's reach and the
    * same documented regime as [[modularity]]'s exact branch.
    *
    * Shape: one adjacency build, one (node, nbr_label) hash-aggregate,
    * label-keyed joins for tot/deg, one per-node argmax as
    * `min(struct(-G, label))` (map-side combinable — never a rank
    * window). Output: (node, label) — the refined assignment.
    */
  def modularityRefine(edges0: DataFrame, srcCol: String, dstCol: String,
                       labels: DataFrame, nodeCol: String = "node",
                       labelCol: String = "label"): DataFrame = {
    val e = edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val ed = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val adj = ed.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(ed.select(col("b").as("node"), col("a").as("nbr")))
    val lab = labels.select(col(nodeCol).cast("string").as("node"),
      col(labelCol).cast("string").as("label"))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("__ki"))
    val tot = deg.join(lab, Seq("node"))
      .groupBy(col("label")).agg(sum(col("__ki")).as("__tot"))
    val m2 = ed.agg((count(lit(1)) * 2L).as("__2m"))
    // k_{i,c}: i's edge count into each neighboring community c
    val kic = adj
      .join(lab.select(col("node").as("nbr"), col("label").as("__c")), Seq("nbr"))
      .groupBy(col("node"), col("__c")).agg(count(lit(1)).as("__kic"))
    // candidates = neighboring communities ∪ own (own may be absent from
    // kic when i has no same-community neighbor — the left join fills 0)
    val own = lab.select(col("node"), col("label").as("__own"))
    val cand = kic.select(col("node"), col("__c"), col("__kic"))
      .unionByName(own.select(col("node"), col("__own").as("__c"), lit(0L).as("__kic")))
      .groupBy(col("node"), col("__c")).agg(max(col("__kic")).as("__kic"))
    val scored = cand
      .join(own, Seq("node"))
      .filter(col("__c") <= col("__own")) // the minimum-label cycle breaker
      .join(deg, Seq("node"))
      .join(tot.select(col("label").as("__c"), col("__tot")), Seq("__c"))
      .crossJoin(broadcast(m2))
      .select(col("node"), col("__c"), col("__own"),
        expr("""__2m * __kic - __ki *
          | (CASE WHEN __c = __own THEN __tot - __ki ELSE __tot END)""".stripMargin)
          .as("__g"))
    val best = scored
      .groupBy(col("node"), col("__own"))
      .agg(
        min(struct((-col("__g")).as("__ng"), col("__c").as("__c"))).as("__best"),
        max(when(col("__c") === col("__own"), col("__g"))).as("__gown"))
      .select(col("node"),
        when(col("__best.__ng") < -col("__gown"), col("__best.__c"))
          .otherwise(col("__own")).as("label"))
    best
  }

  /** One synchronous LPA round, exposed so the plan audit can pin its
    * physical shape: an equi-join on the neighbor key and two
    * hash-aggregates — never a window, never a sort.
    */
  private[graft] def lpRound(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.select(col("node").as("nbr"), col("label")), "nbr")
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("__c"))
      .groupBy(col("node"))
      .agg(min(struct((-col("__c")).as("__negc"), col("label").as("label"))).as("__best"))
      .select(col("node"), col("__best.label").as("label"))

  /** One unexecuted LPA round over `edges0` from the self-label start
    * state, for `graft.Bench --plans` and the plan audit.
    */
  private[graft] def lpRoundPlanFrame(edges0: DataFrame, srcCol: String,
                                      dstCol: String): DataFrame = {
    val e = edges0
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
    val adj = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .select(col("src").as("node"), col("dst").as("nbr"))
    lpRound(adj, adj.select(col("node")).distinct().withColumn("label", col("node")))
  }

  /** Exact per-node triangle counts + local clustering coefficient over an
    * undirected graph, via DEGREE-ORDERED edge orientation (Schank &
    * Wagner 2005; the MapReduce shape is Suri & Vassilvitskii, WWW 2011).
    *
    * Each undirected edge is oriented from the (degree, id)-LOWER endpoint
    * to the higher one; wedges are enumerated only from a node's
    * out-edges, so per-node join fan-out is bounded by its out-degree —
    * O(m^1.5) total wedges on any graph instead of Σ deg² (a hub with
    * degree d contributes ~0 wedges as a source because nearly all its
    * edges point IN). Exactly one node of every triangle sees the other
    * two as out-neighbors under a strict total order, so each triangle is
    * found exactly once and per-node counts need no dedup. Three shuffles
    * total (degree agg, wedge self-join, closing-edge join) — no windows,
    * no collect.
    *
    * Output: (node, degree, n_triangles, clustering_bp) for every node
    * with ≥1 edge; clustering_bp = 2·tri·10000 div (deg·(deg−1)) in exact
    * integer basis points, 0 for degree-1 nodes.
    */
  def triangleCounts(edges0: DataFrame, srcCol: String, dstCol: String,
                     assumeCanonical: Boolean = false): DataFrame = {
    // canonical undirected distinct edge list (a < b)
    val e = canonicalEdges(edges0, srcCol, dstCol, assumeCanonical)
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
    // orient low (degree, id) → high; (degree, id) is a strict total order
    val lowFirst = col("__da") < col("__db") || (col("__da") === col("__db") && col("a") < col("b"))
    val o = withDeg.select(
      when(lowFirst, col("a")).otherwise(col("b")).as("u"),
      when(lowFirst, col("b")).otherwise(col("a")).as("v"))
    // wedges from each source's out-edges, one per unordered neighbor pair
    val wedges = o.as("e1")
      .join(o.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("u"), col("e1.v").as("v1"), col("e2.v").as("v2"))
    val tri = wedges.join(e,
        least(col("v1"), col("v2")) === col("a") &&
          greatest(col("v1"), col("v2")) === col("b"))
      .select(col("u"), col("v1"), col("v2"))
    val perNode = tri
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_bp",
        when(col("degree") >= 2,
          expr("(n_triangles * 20000L) div (degree * (degree - 1L))"))
          .otherwise(lit(0L)))
  }

  /** Personalized PageRank (topic-sensitive teleport, Haveliwala 2002;
    * public): the random surfer teleports only to the `seeds0` node set,
    * so mass concentrates around the seeds' neighborhoods — "standing
    * relative to OUR trusted sources" rather than global standing; the
    * seed-proximity signal a curation pass reads next to q87's global
    * rank (TrustRank uses exactly this shape for spam demotion).
    *
    * Arithmetic is [[pageRankInt]]'s exact-BIGINT convention with the
    * uniform base replaced by a per-node base FRAME: seeds hold
    * `(100−damping)% · scaleMu · N div |S|` (total teleport mass equals
    * the uniform case, so ranks are comparable across the two),
    * non-seeds hold 0; the start state puts all `N · scaleMu` mass on the
    * seeds. N and |S| ride as a broadcast 1-row frame, never driver
    * scalars.
    *
    * Scale: identical per-iteration shape to [[pageRankInt]] — one edge
    * join + one node-keyed hash-agg — plus one node-keyed left join onto
    * the base frame (which replaces the uniform-base node join, so the
    * shuffle count per iteration is unchanged). The base frame is filled
    * once and read through a [[Lineage.anchor]].
    *
    * Output: (node, rank_mu) for every node in the edge list.
    */
  def personalizedPageRankInt(edges0: DataFrame, srcCol: String, dstCol: String,
                              seeds0: DataFrame, seedCol: String, iters: Int,
                              scaleMu: Long = 1000000L,
                              dampingPct: Int = 85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct must be in [0, 100]")
    Lineage.checkpointed { lin =>
      val edgesChain = directedEdges(edges0, srcCol, dstCol)
      lin.fill(edgesChain)
      val edges = Lineage.anchor(edgesChain)
      // nodes is read several times by the seed check and the base frame,
      // and both by every iteration
      val nodes = nodesOf(edges)
      val outEdges = outEdgesOf(edges)
      lin.fill(nodes, outEdges)
      val sd = nodes.join(
        seeds0.select(col(seedCol).cast("string").as("node")).distinct(),
        Seq("node"))
      require(!sd.isEmpty, "no seed node appears in the edge list")
      val totals = broadcast(nodes.agg(count(lit(1)).as("__n"))
        .crossJoin(sd.agg(count(lit(1)).as("__s"))))
      val baseChain = nodes
        .join(sd.select(col("node"), lit(1L).as("__seed")), Seq("node"), "left")
        .crossJoin(totals)
        .select(col("node"),
          when(col("__seed").isNotNull,
            expr(s"((100L - ${dampingPct}L) * ${scaleMu}L * __n) div (100L * __s)"))
            .otherwise(lit(0L)).as("base_mu"),
          when(col("__seed").isNotNull, expr(s"(${scaleMu}L * __n) div __s"))
            .otherwise(lit(0L)).as("rank0_mu"))
      lin.fill(baseChain)
      // the loop references the base frame every round — read it through an
      // anchor so later generations do not re-analyze the seed-join subtree
      val baseF = Lineage.anchor(baseChain)
      val rank0 = baseF.select(col("node"), col("rank0_mu").as("rank_mu"))
      lin.iterate(rank0, iters, every = 4, rollover = true) { (rank, _) =>
        val inflow = outEdges.join(rank, col("src") === col("node"))
          .select(col("dst").as("node"), expr("rank_mu div odeg").as("__share"))
          .groupBy("node").agg(sum(col("__share")).as("__inflow"))
        baseF.join(inflow, Seq("node"), "left")
          .select(col("node"),
            (col("base_mu") +
              expr(s"(${dampingPct}L * coalesce(__inflow, 0L)) div 100"))
              .as("rank_mu"))
      }
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment"; public): on a directed link graph, a good
    * HUB points at good authorities and a good AUTHORITY is pointed at by
    * good hubs — the complementary pair of signals next to PageRank for
    * crawl-frontier curation (a hub page is a harvest list; an authority
    * is content worth keeping).
    *
    * Iteration k: `auth ← Σ_{j→i} hub(j)`, `hub ← Σ_{j→i} auth(i)`, each
    * phase L1-normalized to `scaleMu` total mass. All arithmetic is BIGINT
    * with floor division (`raw · scaleMu div Σraw`) — the L1 norm replaces
    * the textbook L2 (same ranking, exact integers an oracle replays
    * bit-for-bit; documented variant). Nodes with no in-edges hold
    * authority 0, no out-edges hub 0.
    *
    * Scale: each phase is one edge join + one node-keyed hash-agg — the
    * PageRank iteration shape exactly, so the same posture applies (the
    * edge frame is materialized once and iterations shuffle only
    * (node, mass) rows; `iters` is fixed and small, not a convergence
    * loop). The Σraw totals are 1-row broadcasts.
    *
    * Output: (node, hub_mu, auth_mu) for every node in the edge list.
    */
  def hitsInt(edges0: DataFrame, srcCol: String, dstCol: String,
              iters: Int, scaleMu: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    Lineage.checkpointed { lin =>
      val edgesChain = directedEdges(edges0, srcCol, dstCol)
      lin.fill(edgesChain)
      val edges = Lineage.anchor(edgesChain)
      val nodes = nodesOf(edges)
      def normalize(raw: DataFrame, massCol: String): DataFrame = {
        val total = broadcast(raw.agg(
          coalesce(sum(col(massCol)), lit(0L)).as("__tot")))
        nodes.join(raw, Seq("node"), "left").crossJoin(total)
          .select(col("node"),
            when(col("__tot") > 0L,
              expr(s"coalesce($massCol, 0L) * ${scaleMu}L div __tot"))
              .otherwise(lit(0L)).as(massCol))
      }
      var hub = nodes.select(col("node"), lit(scaleMu).as("hub_mu"))
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        auth = normalize(
          edges.join(hub, col("src") === col("node"))
            .groupBy(col("dst").as("node")).agg(sum(col("hub_mu")).as("auth_mu"))
            .select(col("node"), col("auth_mu")),
          "auth_mu")
        hub = normalize(
          edges.join(auth, col("dst") === col("node"))
            .groupBy(col("src").as("node")).agg(sum(col("auth_mu")).as("hub_mu"))
            .select(col("node"), col("hub_mu")),
          "hub_mu")
      }
      hub.join(auth, Seq("node"))
        .select(col("node"), col("hub_mu"), col("auth_mu"))
    }
  }

  /** ONE HITS phase (auth update + L1 normalize) as a plannable frame —
    * [[hitsInt]]'s returned frame is a checkpoint scan, so plan audits and
    * `graft.Bench --plans` read the load-bearing per-phase plan from here
    * (the [[iterationPlanFrame]] pattern).
    */
  private[graft] def hitsPhasePlanFrame(edges0: DataFrame, srcCol: String,
                                        dstCol: String): DataFrame = {
    val edges = directedEdges(edges0, srcCol, dstCol)
    val nodes = nodesOf(edges)
    val hub = nodes.select(col("node"), lit(1000000L).as("hub_mu"))
    val raw = edges.join(hub, col("src") === col("node"))
      .groupBy(col("dst").as("node")).agg(sum(col("hub_mu")).as("auth_mu"))
      .select(col("node"), col("auth_mu"))
    val total = broadcast(raw.agg(
      coalesce(sum(col("auth_mu")), lit(0L)).as("__tot")))
    nodes.join(raw, Seq("node"), "left").crossJoin(total)
      .select(col("node"),
        when(col("__tot") > 0L,
          expr("coalesce(auth_mu, 0L) * 1000000L div __tot"))
          .otherwise(lit(0L)).as("auth_mu"))
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003; Liben-Nowell &
    * Kleinberg 2003, "The link prediction problem for social networks";
    * public): for every NON-adjacent node pair sharing at least one
    * neighbor, `score = Σ_{z ∈ Γ(u)∩Γ(v)} 1/ln(deg(z))` — rare shared
    * neighbors are strong evidence, ubiquitous ones are nearly none. The
    * densification signal for a co-occurrence graph: which pairs are one
    * observation away from being an edge.
    *
    * Exact integers: each common neighbor contributes
    * `1e9 div round(ln(deg)·1000)` (the milli-nat convention; a shared
    * neighbor always has deg ≥ 2, so the divisor is ≥ 693 — never zero).
    *
    * Scale: wedge mass is quadratic in neighbor-list length, so hubs
    * above `maxDeg` are EXCLUDED as wedge centers before enumeration
    * (documented truncation, the standard practice — a hub's 1/ln(deg)
    * contribution is asymptotically negligible exactly when its d² pair
    * cost explodes). Wedges are NOT produced by a self-join: each capped
    * center's sorted neighbor list collects once and the (u < v) pairs
    * explode from a per-row HOF (≤ maxDeg²/2 structs), landing directly
    * in the (u, v) hash-aggregate's MAP-SIDE partial — the only
    * pair-keyed shuffle carries combined partials, never raw wedges
    * (the former centers⋈centers join shuffled Σdeg² raw pair rows).
    * Existing edges leave by an anti-join on the canonical (a < b) key
    * AFTER aggregation (score-invariant, frame already pair-distinct);
    * the final cut is a TakeOrderedAndProject, not a global sort.
    *
    * Output: top-k (u, v, common_neighbors, aa_micro) by score.
    */
  def adamicAdar(edges0: DataFrame, srcCol: String, dstCol: String,
                 maxDeg: Int, k: Int, assumeCanonical: Boolean = false): DataFrame = {
    require(maxDeg >= 2 && k >= 1, "maxDeg must be >= 2 and k >= 1")
    val e = canonicalEdges(edges0, srcCol, dstCol, assumeCanonical)
    val adj = e.select(col("a").as("z"), col("b").as("n"))
      .unionAll(e.select(col("b").as("z"), col("a").as("n")))
    // the hub cap applies BEFORE neighbor lists collect (a semi-shaped
    // equi-join on the degree frame — same z-partitioning as the list
    // aggregate, so the exchange is reused), keeping per-group collect
    // state bounded by maxDeg even when the raw graph has mega-hubs
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("zdeg"))
    val pairs = adj
      .join(deg.filter(col("zdeg") <= maxDeg && col("zdeg") >= 2), Seq("z"))
      .groupBy(col("z"), col("zdeg"))
      .agg(sort_array(collect_list(col("n"))).as("ns"))
      // two stacked generators (anchor element, then its suffix) — ~2×
      // cheaper than flattening a maxDeg²/2 struct array per center
      .select(col("zdeg"), col("ns"), posexplode(col("ns")).as(Seq("__i", "u")))
      .select(col("u"),
        explode(expr("slice(ns, __i + 2, size(ns))")).as("v"),
        expr("1000000000L div cast(round(ln(zdeg) * 1000) as long)").as("__w"))
    val scored = pairs
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("__w")).as("aa_micro"))
    // SHUFFLE_HASH: the anti probe side is already hash-partitioned by
    // (u, v) from the aggregate; hashing the (far smaller) edge side
    // avoids sort-merge's full sort of the scored pairs, and the build
    // memory is edges/num-partitions — scales with the shuffle width
    scored
      .join(e.hint("SHUFFLE_HASH"),
        scored("u") === e("a") && scored("v") === e("b"), "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("v"))
      .limit(k)
  }

  /** k-core peeling (Seidman 1983; Matula & Beck's algorithm, here the
    * synchronous bulk variant — the BSP shape Quick et al. and every
    * Pregel-style system use): repeatedly drop every node whose degree
    * within the SURVIVING subgraph is below `k`, for a FIXED number of
    * `rounds` so an oracle replays the identical frontier sequence.
    *
    * Each round is two survivor semi-joins on the node key + one
    * hash-aggregate — never a window, never a product; the adjacency
    * and every round's survivor set are kept behind a [[Lineage.anchor]],
    * so plan depth stays constant in `rounds`. At 100 TB the peel converges in
    * few synchronous rounds on power-law graphs (the frontier collapses
    * geometrically); the fixed budget makes cost predictable and the
    * `converged` flag reports whether the last round was a fixpoint.
    *
    * Output: one row per node — (node, removed_round ∈ [1..rounds] or 0
    * for core members, core_deg = degree within the final survivor
    * subgraph for members else 0, in_core, converged).
    */
  def kCore(edges0: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int, assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val e = canonicalEdges(edges0, srcCol, dstCol, assumeCanonical)
    Lineage.checkpointed { lin =>
      // kept, not filled: the round-1 frontier fill's degree aggregate
      // scans the adjacency in full, filling this cache in the SAME job —
      // an up-front materialization barrier here was pure stage-floor
      // waste (one of rounds+2 jobs on a 6-round peel)
      val adj = Lineage.anchor(lin.keep(adjacency(e)))

      // Matula-Beck frontier peeling in BSP form: degrees are MAINTAINED,
      // not recomputed — round r removes survivors with deg < k, then only
      // the removed nodes' neighbors lose degree (one frontier join over
      // the streaming adjacency + one frontier-sized aggregate). The full
      // graph pays exactly ONE degree aggregate (round 1); every later
      // round costs the edges incident to what was just removed. Results
      // are bit-identical to recomputing the induced subgraph.
      //
      // ONE job per round: only the frontier fill (whose count drives the
      // short-circuit AND the broadcast-vs-shuffle choice) is an eager
      // barrier; the degree frames are kept and materialize as the next
      // round's fill (or the single final action) pulls them.
      var degs = Lineage.anchor(lin.keep(adj.groupBy("node").agg(count(lit(1)).as("deg"))))
      var removed: Option[DataFrame] = None
      var lastRemoved = -1L
      var r = 1
      while (r <= rounds && lastRemoved != 0L) {
        val remNodesChain = degs.filter(col("deg") < k).select("node")
        lastRemoved = lin.fill(remNodesChain).head
        val remNodes = Lineage.anchor(remNodesChain)
        val rem = remNodes.select(col("node"), lit(r.toLong).as("removed_round"))
        removed = Some(removed.fold(rem)(_.unionByName(rem)))
        if (lastRemoved > 0L) {
          // the round-1 frontier is every node below k — potentially most
          // of the graph — so broadcast only when the just-counted frontier
          // is provably small; otherwise the delta is a shuffle equi-join
          // (same result, no driver-memory cliff at 100 TB)
          val remRef = remNodes.select(col("node").as("nbr"))
          val remSide =
            if (lastRemoved <= BroadcastFrontierMaxRows) broadcast(remRef)
            else remRef
          val delta = adj
            .join(remSide, "nbr")
            .groupBy("node").agg(count(lit(1)).as("__rm"))
          // survivors are degs MINUS the frontier — and the frontier IS
          // `deg < k` over the same single-row-per-node aggregate, so the
          // anti-join is a plain filter: one fewer join (and its exchange)
          // per round, bit-identical rows
          degs = Lineage.anchor(lin.keep(degs.filter(col("deg") >= k)
            .join(delta, Seq("node"), "left")
            .select(col("node"),
              (col("deg") - coalesce(col("__rm"), lit(0L))).as("deg"))))
        }
        r += 1
      }
      // fixpoint iff the LAST peel removed nothing (a short-circuited run
      // is by construction converged; the skipped rounds are identities)
      val converged = lastRemoved == 0L
      val core = degs
        .select(col("node"), lit(0L).as("removed_round"),
          col("deg").as("core_deg"), lit(true).as("in_core"))
      removed.get
        .select(col("node"), col("removed_round"),
          lit(0L).as("core_deg"), lit(false).as("in_core"))
        .unionByName(core)
        .withColumn("converged", lit(converged))
    }
  }

  /** HyperANF-style neighborhood function (Boldi, Rosa & Vigna WWW 2011;
    * Palmer et al.'s ANF lineage): per node, a mergeable bottom-k sketch
    * of the set of nodes within t hops, advanced one hop per round by
    * unioning each node's sketch with its neighbors' — the trick that
    * computes N(t) = #{(u,v) : d(u,v) ≤ t} and the mean-distance curve
    * on graphs where all-pairs BFS is unthinkable. The original uses
    * HyperLogLog counters; this uses the suite's exactly-replayable KMV
    * bottom-k ([[graft.functions.KmvMinValues]] over md5-derived 40-bit
    * hashes) so an oracle reproduces every estimate bit for bit.
    *
    * Per round: one adjacency equi-join + one O(k)-state hash-aggregate
    * over the sketch ARRAYS themselves
    * ([[graft.functions.KmvMergeArrays]] — the map-side partial merges
    * whole sketches, so the shuffle carries combined partials, never
    * exploded edges×k element rows); sketches are kept behind
    * [[Lineage.anchor]]s. Per-node sketches grow monotonically
    * (bottom-k of a superset), so the per-round deltas are provably
    * non-negative.
    *
    * Output, one row per hop t = 0..rounds: `nf_milli` (Σ per-node
    * ball-size estimates, milli), `delta_milli` (new pairs at exactly
    * distance t), `mean_dist_milli` (running mean distance over pairs
    * within t).
    */
  def hyperAnf(edges0: DataFrame, srcCol: String, dstCol: String,
               rounds: Int, k: Int, assumeCanonical: Boolean = false): DataFrame = {
    require(rounds >= 1 && k >= 16, "rounds >= 1 and k >= 16")
    val e = canonicalEdges(edges0, srcCol, dstCol, assumeCanonical)
    // the adjacency is kept REPARTITIONED on its per-round join key and
    // used directly, NOT behind an anchor ([[Lineage.keep]]):
    // every round's equi-join reuses ONE exchange of the adjacency instead
    // of re-shuffling it per hop — the anchored form paid that re-shuffle
    // in all `rounds` joins (the probe showed the same adjacency exchange
    // bytes written once per round). Its lineage is one hop, so the
    // anchor's plan-depth protection isn't needed.
    Lineage.checkpointed { lin =>
      val adj = lin.keep(adjacency(e).repartition(col("nbr")))
      lin.fill(adj)
      val estSql = kmvEstimateSql(k)
      def roundSum(sk: DataFrame, t: Int): DataFrame =
        sk.select(expr(estSql).as("__est"))
          .agg(sum(col("__est")).as("nf_milli"))
          .select(lit(t.toLong).as("t"), col("nf_milli"))

      var sk = adj.select(col("node")).distinct()
        .withColumn("hs", array(graft.ext.ThetaSketch.hash40(col("node"))))
      var sums = roundSum(sk, 0)
      for (t <- 1 to rounds) {
        val fromNbrs = adj
          .join(sk.select(col("node").as("nbr"), col("hs")), "nbr")
          .select(col("node"), col("hs"))
        val own = sk.select(col("node"), col("hs"))
        // sketches merge as ARRAYS via the O(k)-state KmvMergeArrays
        // aggregate — the map-side partial holds one merged buffer per
        // (node, task), so the round's shuffle carries combined partials,
        // never the former explode's edges×k element rows.
        // kept WITHOUT a fill: the single final action (the eager
        // checkpoint below) materializes every round once, caching as it
        // goes — per-round barriers would add a full job launch per hop
        sk = Lineage.anchor(lin.keep(fromNbrs.unionByName(own)
          .groupBy("node")
          .agg(graft.functions.GraftFunctions.kmvMergeArrays(col("hs"), k).as("hs"))))
        sums = sums.unionByName(roundSum(sk, t))
      }
      val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
      sums
        .withColumn("delta_milli",
          col("nf_milli") - coalesce(lag(col("nf_milli"), 1).over(Window.orderBy("t")), lit(0L)))
        .withColumn("__wd", sum(col("t") * col("delta_milli")).over(w))
        .withColumn("__td", sum(col("delta_milli")).over(w))
        .select(col("t"), col("nf_milli"), col("delta_milli"),
          expr("CAST(CASE WHEN __td > 0 THEN (__wd * 1000) div __td ELSE 0 END AS BIGINT)")
            .as("mean_dist_milli"))
    }
  }

  /** Harmonic centrality via the [[hyperAnf]] sketch loop (Boldi & Vigna
    * WWW 2011 §5 — the application HyperANF was built for: centrality
    * from per-node neighborhood-function deltas, computable on graphs
    * where all-pairs BFS is unthinkable): per node,
    * `H(v) = Σ_{t≥1} (|B_t(v)| − |B_{t−1}(v)|) / t` — each newly
    * reachable node weighted by the reciprocal of its (first) distance —
    * estimated from the same exactly-replayable KMV bottom-k ball
    * sketches as [[hyperAnf]], so an oracle reproduces every estimate
    * bit for bit. Exact integers: per-node ball estimates in milli, each
    * round's delta floors by t independently (non-negative by sketch
    * monotonicity, so Spark `div` and DuckDB `//` agree), and the
    * per-node accumulation is a fixed `rounds`-term sum.
    *
    * Per round: one adjacency equi-join + one O(k)-state array-merge
    * hash-aggregate (the [[hyperAnf]] shuffle posture — combined partials,
    * never edges×k element rows), with the running (prev-estimate,
    * harmonic) pair carried THROUGH the aggregate as `max` of
    * zero-padded union rows (every node has exactly one own-row, so max
    * selects it — no second per-round join). The top-k cut is a
    * TakeOrdered, never a node sort.
    *
    * Output: top `topK` rows (node, ball_milli = |B_rounds| estimate,
    * harmonic_milli), by (harmonic desc, node).
    */
  def harmonicCentrality(edges0: DataFrame, srcCol: String, dstCol: String,
                         rounds: Int, k: Int, topK: Int,
                         assumeCanonical: Boolean = false): DataFrame = {
    require(rounds >= 1 && k >= 16, "rounds >= 1 and k >= 16")
    require(topK >= 1, "topK must be >= 1")
    val e = canonicalEdges(edges0, srcCol, dstCol, assumeCanonical)
    // repartitioned, un-anchored adjacency cache
    // ([[Lineage.keep]]): all `rounds` equi-joins reuse ONE
    // adjacency exchange instead of re-shuffling it per hop
    Lineage.checkpointed { lin =>
      val adj = lin.keep(adjacency(e).repartition(col("nbr")))
      lin.fill(adj)
      val estSql = kmvEstimateSql(k)
      var sk = adj.select(col("node")).distinct()
        .withColumn("hs", array(graft.ext.ThetaSketch.hash40(col("node"))))
        .withColumn("__prev", lit(1000L)) // |B_0| = the node itself
        .withColumn("harmonic_milli", lit(0L))
      for (t <- 1 to rounds) {
        val fromNbrs = adj
          .join(sk.select(col("node").as("nbr"), col("hs")), "nbr")
          .select(col("node"), col("hs"),
            lit(0L).as("__prev"), lit(0L).as("harmonic_milli"))
        val own = sk.select(col("node"), col("hs"), col("__prev"), col("harmonic_milli"))
        sk = Lineage.anchor(lin.keep(fromNbrs.unionByName(own)
          .groupBy("node")
          .agg(graft.functions.GraftFunctions.kmvMergeArrays(col("hs"), k).as("hs"),
            max(col("__prev")).as("__prev"),
            max(col("harmonic_milli")).as("harmonic_milli"))
          .withColumn("__est", expr(estSql))
          .withColumn("harmonic_milli",
            col("harmonic_milli") + expr(s"(__est - __prev) div ${t}L"))
          .select(col("node"), col("hs"),
            col("__est").as("__prev"), col("harmonic_milli"))))
      }
      sk
        .select(col("node"), col("__prev").as("ball_milli"), col("harmonic_milli"))
        .orderBy(col("harmonic_milli").desc, col("node"))
        .limit(topK)
    }
  }

  /** Pivot-sampled betweenness centrality (Brandes 2001's dependency
    * accumulation, under the pivot sampling of Brandes & Pich 2007 /
    * Bader et al.'s approximation — the only way betweenness exists at
    * scale, since exact is O(nm)): from each of `pivots` sampled sources
    * (the md5-smallest node ids — the suite's deterministic sample), a
    * synchronous BFS of `rounds` hops counts shortest paths σ, then the
    * backward pass accumulates each node's dependency
    * δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ(w)) by DESCENDING distance,
    * and betweenness is the pivot sum of δ excluding each pivot itself.
    *
    * Exact integers: σ are exact BIGINT path counts; each backward term
    * quantizes independently as `(σ_v · (1000 + δ_w)) div σ_w` (milli,
    * term-wise floor — order-independent to sum), so both engines replay
    * every level bit for bit. Fixed `rounds` bounds the horizon (the
    * kCore replay convention; beyond-horizon pairs contribute 0, which
    * pivot-sampled betweenness accepts by construction).
    *
    * Scale shape: forward = per-level adjacency equi-join + (pivot, node)
    * hash-aggregate + visited anti-join; backward = per-level two keyed
    * joins + one aggregate; every frame is kept behind a
    * [[Lineage.anchor]], state is
    * pivots × reachable rows. σ/δ headroom: path counts compound with
    * density — the fixed horizon and pivot count keep σ·(1000+δ) far
    * inside BIGINT on diameter-bounded graphs; a 100 TB run picks
    * `rounds` ≤ the effective diameter exactly as HyperANF does.
    *
    * Output: top `topK` (node, bc_milli, n_pivots) by (bc desc, node),
    * where n_pivots counts the pivot BFS trees that REACHED the node
    * within the horizon (the node's own tree is excluded, matching the
    * δ exclusion) — a coverage diagnostic, NOT a count of non-zero
    * contributions: a tree that reached the node with δ = 0 still
    * counts, and the DuckDB oracle replays the same rule.
    */
  def betweenness(edges0: DataFrame, srcCol: String, dstCol: String,
                  pivots: Int, rounds: Int, topK: Int,
                  assumeCanonical: Boolean = false): DataFrame = {
    require(pivots >= 1 && rounds >= 1 && topK >= 1,
      "pivots, rounds, topK must be >= 1")
    val e = canonicalEdges(edges0, srcCol, dstCol, assumeCanonical)
    // the adjacency is kept REPARTITIONED on its join key and used
    // directly, NOT behind an anchor ([[Lineage.keep]]): all
    // 2·rounds level joins reuse ONE exchange of the big side instead of
    // re-shuffling it per level (the anchored form lost both stats and
    // partitioning — measured 12.2 s → the re-shuffle was the whole
    // overage). Its lineage is one hop, so the anchor's plan-depth
    // protection isn't needed here.
    Lineage.checkpointed { lin =>
      val adj = lin.keep(adjacency(e).repartition(col("node")))

      // deterministic pivot sample: md5-order over the node set (broadcast
      // — `pivots` rows)
      val pv = Lineage.anchor(lin.keep(adj.select(col("node")).distinct()
        .orderBy(md5(col("node").cast("string")), col("node"))
        .limit(pivots)
        .select(col("node").as("pivot"))))

      // forward: levels of (pivot, node, sigma); the per-level frames are
      // KEPT (the backward pass reads exactly one level per side, so
      // filtering a visited union per depth would re-scan every cached
      // level 2·rounds times for nothing); visited exists only for the
      // frontier anti-join
      val levels = new scala.collection.mutable.ArrayBuffer[DataFrame]
      var level = Lineage.anchor(lin.keep(pv.select(col("pivot"), col("pivot").as("node"),
        lit(1L).as("sigma"))))
      levels += level
      var visited = Lineage.anchor(lin.keep(level.select(col("pivot"), col("node"))))
      for (t <- 1 to rounds) {
        val cand = adj.join(level, "node")
          .groupBy(col("pivot"), col("nbr").as("node"))
          .agg(sum(col("sigma")).as("sigma"))
        val next = Lineage.anchor(lin.keep(cand
          .join(visited, Seq("pivot", "node"), "left_anti")))
        levels += next
        visited = Lineage.anchor(lin.keep(
          visited.unionByName(next.select(col("pivot"), col("node")))))
        level = next
      }

      // backward: dependency by descending distance; nodes at the horizon
      // have delta 0
      var delta = Lineage.anchor(lin.keep(levels(rounds)
        .select(col("pivot"), col("node"), lit(0L).as("delta"))))
      var deltaAll = delta
      for (d <- (rounds - 1) to 0 by -1) {
        val vd = levels(d).select(col("pivot"), col("node"), col("sigma"))
        val wd = levels(d + 1)
          .select(col("pivot"), col("node").as("nbr"), col("sigma").as("__sw"))
          .join(delta.select(col("pivot"), col("node").as("nbr"), col("delta")),
            Seq("pivot", "nbr"))
        // successor terms union zero-seed rows and fold in ONE aggregate —
        // a terms-then-left-join form would pay an extra exchange per
        // level just to re-attach the no-successor nodes' zeros
        val terms = vd.join(adj, "node")
          .join(wd, Seq("pivot", "nbr"))
          .select(col("pivot"), col("node"),
            expr("(sigma * (1000L + delta)) div __sw").as("__t"))
        delta = Lineage.anchor(lin.keep(terms
          .unionByName(vd.select(col("pivot"), col("node"), lit(0L).as("__t")))
          .groupBy(col("pivot"), col("node"))
          .agg(sum(col("__t")).as("delta"))))
        deltaAll = Lineage.anchor(lin.keep(deltaAll.unionByName(delta)))
      }
      deltaAll
        .filter(col("node") =!= col("pivot"))
        .groupBy(col("node"))
        .agg(sum(col("delta")).as("bc_milli"), count(lit(1)).as("n_pivots"))
        .filter(col("bc_milli") > 0L)
        .orderBy(col("bc_milli").desc, col("node"))
        .limit(topK)
    }
  }

  /** One unexecuted betweenness forward level (the [[betweenness]] BFS
    * body from the pivot state), for the plan audit: the adjacency
    * equi-join, the (pivot, node) σ-sum hash-aggregate, and the visited
    * anti-join — never a product, never a window.
    */
  private[graft] def betweennessRoundPlanFrame(edges0: DataFrame, srcCol: String,
                                               dstCol: String, pivots: Int): DataFrame = {
    val adj = adjacency(canonicalEdges(edges0, srcCol, dstCol, assumeCanonical = false))
    val pv = adj.select(col("node")).distinct()
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(pivots)
      .select(col("node").as("pivot"))
    val level = pv.select(col("pivot"), col("pivot").as("node"), lit(1L).as("sigma"))
    adj.join(level, "node")
      .groupBy(col("pivot"), col("nbr").as("node"))
      .agg(sum(col("sigma")).as("sigma"))
      .join(level.select(col("pivot"), col("node")), Seq("pivot", "node"), "left_anti")
  }

  /** One unexecuted harmonic-centrality sketch round (the
    * [[harmonicCentrality]] loop body from the round-0 state), for the
    * plan audit: the adjacency equi-join, the O(k)-state array-merge
    * aggregate with the (prev, harmonic) max-carry, and the per-node
    * delta/t projection — never a product, never an element explode.
    */
  private[graft] def harmonicRoundPlanFrame(edges0: DataFrame, srcCol: String,
                                            dstCol: String, k: Int): DataFrame = {
    val adj = adjacency(canonicalEdges(edges0, srcCol, dstCol, assumeCanonical = false))
    val estSql = kmvEstimateSql(k)
    val sk = adj.select(col("node")).distinct()
      .withColumn("hs", array(graft.ext.ThetaSketch.hash40(col("node"))))
      .withColumn("__prev", lit(1000L))
      .withColumn("harmonic_milli", lit(0L))
    val fromNbrs = adj
      .join(sk.select(col("node").as("nbr"), col("hs")), "nbr")
      .select(col("node"), col("hs"),
        lit(0L).as("__prev"), lit(0L).as("harmonic_milli"))
    fromNbrs.unionByName(
        sk.select(col("node"), col("hs"), col("__prev"), col("harmonic_milli")))
      .groupBy("node")
      .agg(graft.functions.GraftFunctions.kmvMergeArrays(col("hs"), k).as("hs"),
        max(col("__prev")).as("__prev"),
        max(col("harmonic_milli")).as("harmonic_milli"))
      .withColumn("__est", expr(estSql))
      .select(col("node"),
        (col("harmonic_milli") + expr("(__est - __prev) div 1L")).as("harmonic_milli"))
  }

  /** One unexecuted k-core frontier-peel round (the [[kCore]] loop body:
    * degree maintenance, not recomputation) from the all-nodes start
    * state, for the plan audit: the removed frontier rides a BROADCAST
    * into the streaming adjacency, the degree delta is one
    * frontier-sized aggregate, and survivors are the plain `deg >= k`
    * FILTER (the round-12 rewrite — remNodes IS `deg < k` over the same
    * keyed aggregate, so no anti-join belongs here) — never a window,
    * never a product, never a second full-graph pass.
    */
  private[graft] def kCoreRoundPlanFrame(edges0: DataFrame, srcCol: String,
                                         dstCol: String, k: Int): DataFrame = {
    val adj = adjacency(canonicalEdges(edges0, srcCol, dstCol, assumeCanonical = false))
    val degs = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val remNodes = degs.filter(col("deg") < k).select("node")
    val delta = adj
      .join(broadcast(remNodes.select(col("node").as("nbr"))), "nbr")
      .groupBy("node").agg(count(lit(1)).as("__rm"))
    degs.filter(col("deg") >= k)
      .join(delta, Seq("node"), "left")
      .select(col("node"), (col("deg") - coalesce(col("__rm"), lit(0L))).as("deg"))
  }

  private[graft] def iteration(outEdges: DataFrame, nodes: DataFrame,
                               rank: DataFrame, base: Long, dampingPct: Int,
                               dangling: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val inflow = outEdges.join(rank, col("src") === col("node"))
      .select(col("dst").as("node"), expr("rank_mu div odeg").as("__share"))
      .groupBy("node").agg(sum(col("__share")).as("__inflow"))
    val joined = nodes.join(inflow, Seq("node"), "left")
    dangling match {
      case None =>
        joined.select(col("node"),
          (lit(base) + expr(s"(${dampingPct}L * coalesce(__inflow, 0L)) div 100"))
            .as("rank_mu"))
      case Some((danglingNodes, nFrame)) =>
        // two bounded aggregates (the dangling subset's rank total and the
        // node count) ride into the update as broadcast single rows
        val dSum = broadcast(rank.join(danglingNodes, "node")
          .agg(coalesce(sum(col("rank_mu")), lit(0L)).as("__dsum")))
        joined.crossJoin(dSum).crossJoin(broadcast(nFrame))
          .select(col("node"),
            (lit(base) + expr(s"(${dampingPct}L * (coalesce(__inflow, 0L)" +
              s" + __dsum div __n)) div 100")).as("rank_mu"))
    }
  }
}
