package graft.ext

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ArrayType(FloatType)`) —
  * extension tier (SURVEY.md §7.4).
  *
  * All math uses higher-order functions (`zip_with`/`aggregate`) so it stays
  * inside whole-stage codegen — no UDFs, no per-row JVM boxing beyond the
  * array itself. Dot products are computed in double precision with a fixed
  * left-to-right fold, which keeps results bit-identical across engines.
  *
  * Scale posture:
  *   - brute-force top-k is the correctness baseline: broadcast the (small)
  *     query set against the corpus — one scan, no shuffle of the corpus,
  *     per-partition top-k via the rank window on (query, sim).
  *   - `signBucket` is the LSH scale path: a deterministic
  *     sign-random-projection bucket (here: the signs of the leading
  *     dimensions). Candidates are an equi-join on the bucket id, so the
  *     corpus is probed per-bucket instead of in full; recall is traded for
  *     a ~2^bits reduction in compared pairs. At 100 TB the corpus would be
  *     pre-partitioned (bucketBy) on this id so probes touch one partition.
  */
object VectorSearch {

  /** Cast a float array to double for engine-portable exact arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-to-right summed dot product of two double arrays (higher-order
    * function form — portable to any session).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Dot product picking the codegen'd native expression
    * ([[graft.functions.DotProductD]]) when the graft extensions are on the
    * session, else the HOF form. Value-identical either way (same
    * left-to-right fold); the native form runs as one Java loop per row
    * instead of an interpreted expression tree per element.
    */
  private def dotFn(spark: SparkSession): (Column, Column) => Column =
    if (GraftFunctions.installed(spark)) GraftFunctions.dot else dot

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double arrays (null when either norm is 0). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  /** Deterministic sign-projection LSH bucket: bit i set iff element i+1 of
    * the embedding is >= 0. Sign comparisons are exact (no float tolerance),
    * so bucketing is reproducible across engines.
    */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(v, i + 1) >= 0f, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)

  /** Sign bucket over dimensions offset+1 .. offset+bits (1-based) — the
    * "next `bits` sign bits" used to split an over-full bucket. Identical
    * vectors agree on every dimension, so they agree on any refinement.
    * Dimensions past the vector's length contribute a 0 bit (try_element_at
    * returns null → otherwise branch), so short vectors still refine
    * deterministically instead of erroring.
    */
  def signBucketAt(v: Column, offset: Int, bits: Int): Column =
    (0 until bits)
      .map(i => when(try_element_at(v, lit(offset + i + 1)) >= 0f, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)

  /** Brute-force cosine top-k: for every query row, the `k` nearest corpus
    * rows. Similarity is rounded to `roundDigits` before ranking (with the
    * corpus id as tiebreak) so the ordering is total and portable.
    * Output: (qid, id, sim, rank).
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int, roundDigits: Int = 4
  ): DataFrame = {
    val d = dotFn(queries.sparkSession)
    val q = broadcast(
      queries.select(col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv"))
        .withColumn("__qn", sqrt(d(col("__qv"), col("__qv")))))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("__cn", sqrt(d(col("__cv"), col("__cv"))))
    rankTopK(q.join(c), k, roundDigits, d)
  }

  /** MMR-diversified re-rank (Carbonell & Goldstein 1998, "The use of MMR,
    * diversity-based reranking"): from each query's `candK` most relevant
    * candidates, greedily select `k` maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` — the retrieval-side
    * diversification step RAG pipelines run after ANN top-k, so near-
    * duplicate passages don't crowd the context window. Exact-integer
    * scoring: relevance and pair similarities are rounded to basis points
    * (`round(round(cos, 4)·10000)`), λ is permille, and the emitted
    * `mmr_score = λ·rel_bp − (1000−λ)·maxsim_bp` replays bit-for-bit in a
    * DuckDB oracle (ties by id, seed = pure-relevance argmax).
    *
    * Shape: stage 1 is [[bruteForceTopK]] (at corpus scale, swap in
    * [[ivfTopK]]/[[lshTopK]] routing — same output contract). The
    * candidate set (queries × candK rows) broadcasts against the corpus
    * once to re-attach vectors, pair similarities are a qid-keyed self-join
    * of that bounded frame, and the greedy loop — inherently sequential
    * per query, O(k·candK) with candK² similarity state — runs inside one
    * per-query UDF over collected arrays: ONE shuffle keyed by qid, task
    * state bounded by candK², parallel across queries. An unrolled
    * DataFrame formulation would pay 3 shuffles per selection step.
    *
    * Output: (qid, id, mmr_score, rnk), `k` rows per query (fewer when
    * the corpus has fewer than `k` candidates). The result is eagerly
    * materialized (it is queries × k rows — bounded) so the internal
    * candidate cache can be released.
    */
  def mmrRerank(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      candK: Int, k: Int, lambdaPermille: Long
  ): DataFrame = {
    require(candK >= k, "need candK >= k")
    Lineage.checkpointed { lin =>
      // filled: the pair self-join and the relevance roll-up both read the
      // bounded candidate-vector frame
      val cv = mmrCandidateVectors(queries, corpus, qIdCol, qVecCol, idCol, vecCol, candK)
      lin.fill(cv)
      mmrSelect(cv, k, lambdaPermille) // queries × k rows
    }
  }

  /** [[mmrRerank]]'s stage 1, unexecuted: candidates with vectors
    * re-attached — the candidate set is the bounded build side, the
    * corpus streams by once. Exposed at package level (with
    * [[mmrSelect]]) so the plan audit can read the operator's physical
    * shape; the public output is a checkpoint scan with no plan left.
    */
  private[graft] def mmrCandidateVectors(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      candK: Int
  ): DataFrame = {
    val d = dotFn(queries.sparkSession)
    val cands = bruteForceTopK(queries, corpus, qIdCol, qVecCol, idCol, vecCol, candK)
      .withColumn("rel_bp", round(col("sim") * 10000, 0).cast("long"))
      // a zero-norm vector has null cosine with everything (rankTopK's
      // convention); it cannot be meaningfully re-ranked, and a null
      // rel_bp would NPE inside the greedy UDF — drop it here, which
      // also guarantees every pair similarity downstream is non-null
      // (both endpoints then have nonzero norms)
      .filter(col("rel_bp").isNotNull)
      .select(col("qid"), col("id"), col("rel_bp"))
    corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .join(broadcast(cands), "id")
      .withColumn("__n", sqrt(d(col("__v"), col("__v"))))
  }

  /** [[mmrRerank]]'s stages 2-3, unexecuted: the qid-keyed pair self-join
    * and the per-query greedy UDF over collected bounded arrays.
    */
  private[graft] def mmrSelect(cv: DataFrame, k: Int, lambdaPermille: Long): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000,
      "lambdaPermille must be in [0, 1000]")
    val d = dotFn(cv.sparkSession)
    val a = cv.select(col("qid"), col("id").as("__ia"), col("__v").as("__va"), col("__n").as("__na"))
    val b = cv.select(col("qid"), col("id").as("__ib"), col("__v").as("__vb"), col("__n").as("__nb"))
    val denom = col("__na") * col("__nb")
    val pairs = a.join(b, Seq("qid")).filter(col("__ia") =!= col("__ib"))
      .withColumn("__s", round(round(
        when(denom =!= 0.0, d(col("__va"), col("__vb")) / denom), 4) * 10000, 0).cast("long"))
      .select(col("qid"), col("__ia"), col("__ib"), col("__s"))
    val kk = k; val lam = lambdaPermille
    val greedy = udf((cs: Seq[org.apache.spark.sql.Row], sims: Seq[org.apache.spark.sql.Row]) => {
      val rel  = cs.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val simM = Option(sims).getOrElse(Seq.empty)
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val chosen = scala.collection.mutable.LinkedHashSet[Long]()
      val out = Seq.newBuilder[(Long, Long, Long)]
      var rank = 1L
      while (rank <= kk && chosen.size < rel.size) {
        var bestId = Long.MinValue; var bestScore = Long.MinValue
        rel.foreach { case (id, r) =>
          if (!chosen.contains(id)) {
            val ms = if (chosen.isEmpty) 0L
              else chosen.iterator.map(s => simM.getOrElse((id, s), 0L)).max
            val sc = lam * r - (1000L - lam) * ms
            if (sc > bestScore) { bestScore = sc; bestId = id }
          }
        }
        out += ((bestId, bestScore, rank))
        chosen += bestId
        rank += 1
      }
      out.result()
    })
    val candArr = cv.groupBy(col("qid"))
      .agg(collect_list(struct(col("id"), col("rel_bp"))).as("__cs"))
    val pairArr = pairs.groupBy(col("qid"))
      .agg(collect_list(struct(col("__ia"), col("__ib"), col("__s"))).as("__ss"))
    candArr.join(pairArr, Seq("qid"), "left")
      .select(col("qid"), explode(greedy(col("__cs"), col("__ss"))).as("__m"))
      .select(col("qid"), col("__m._1").as("id"), col("__m._2").as("mmr_score"),
        col("__m._3").as("rnk"))
  }

  /** Hard-negative mining for contrastive training: for every anchor, the
    * `k` most cosine-similar corpus rows whose label DIFFERS from the
    * anchor's — the near-miss negatives that make contrastive batches
    * informative (easy negatives are already far away; hard ones sit just
    * across the decision boundary). Same broadcast-anchor shape as
    * [[bruteForceTopK]] — the anchor set is the small side (a curated
    * probe set), the corpus streams by untouched — with the label
    * inequality riding the join as a residual predicate, so same-label
    * rows are dropped inside the join, never ranked. At corpus scale the
    * same signature composes with the [[lshTopK]]/[[ivfTopK]] routing
    * instead of the broadcast product.
    * Output: (qid, id, sim, rank) — rank over different-label rows only.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, qLabelCol: String,
      idCol: String, vecCol: String, labelCol: String,
      k: Int, roundDigits: Int = 4
  ): DataFrame = {
    val d = dotFn(queries.sparkSession)
    val q = broadcast(
      queries.select(col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv"),
          col(qLabelCol).cast("long").as("__qlbl"))
        .withColumn("__qn", sqrt(d(col("__qv"), col("__qv")))))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"),
        col(labelCol).cast("long").as("__clbl"))
      .withColumn("__cn", sqrt(d(col("__cv"), col("__cv"))))
    rankTopK(q.join(c, col("__qlbl") =!= col("__clbl")), k, roundDigits, d)
  }

  /** LSH-bucketed approximate top-k: candidates are corpus rows in the same
    * sign bucket as the query — an equi-join instead of a cross join.
    * Same output shape as [[bruteForceTopK]]; queries whose bucket is empty
    * produce no rows (the recall trade).
    *
    * @param maxBucketSize skew guard: corpus buckets larger than this are
    *   refined by `extraBits` additional sign bits, and a query probing a
    *   hot bucket only compares against its own sub-bucket. Sign buckets
    *   over correlated embeddings skew badly — one hot bucket turns the
    *   candidate join quadratic at 100× data; the guard caps any (query ×
    *   hot-bucket) fan-out to ~1/2^extraBits of the bucket. The sub-bucket
    *   predicate rides the bucket equi-join as a residual condition, so
    *   non-candidates are dropped inside the join, never materialized.
    *   Default keeps the plain single-level join (no corpus shuffle).
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int, bits: Int, roundDigits: Int = 4,
      maxBucketSize: Int = Int.MaxValue, extraBits: Int = 6
  ): DataFrame = {
    val d = dotFn(queries.sparkSession)
    val q = broadcast(queries.select(
      col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv"),
      signBucket(col(qVecCol), bits).as("__bkt"),
      signBucketAt(col(qVecCol), bits, extraBits).as("__qsub"))
      .withColumn("__qn", sqrt(d(col("__qv"), col("__qv")))))
    val c = corpus.select(
      col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"),
      signBucket(col(vecCol), bits).as("__bkt"),
      signBucketAt(col(vecCol), bits, extraBits).as("__csub"))
      .withColumn("__cn", sqrt(d(col("__cv"), col("__cv"))))
    val joined =
      if (maxBucketSize == Int.MaxValue)
        q.drop("__qsub").join(c.drop("__csub"), "__bkt")
      else {
        // Bucket sizes come from a pre-aggregated BROADCAST frame, not a
        // count(*) window: the window form exchanges+sorts the whole
        // corpus by __bkt, while the aggregate reduces map-side to
        // ≤ 2^bits narrow rows and the broadcast join leaves the corpus
        // partitioning untouched. (Keep `bits` small enough that 2^bits
        // rows broadcast — ≤ ~20 — which sign-LSH wants anyway: buckets
        // must stay populous for recall.)
        val cnt = corpus.select(signBucket(col(vecCol), bits).as("__bkt"))
          .groupBy(col("__bkt")).agg(count(lit(1)).as("__cnt"))
        val cc = c.join(broadcast(cnt), "__bkt")
        q.join(cc,
          q("__bkt") === cc("__bkt") &&
            (cc("__cnt") <= maxBucketSize || cc("__csub") === q("__qsub")))
      }
    rankTopK(joined, k, roundDigits, d)
  }

  /** Norms (`__qn`/`__cn`) are precomputed per ROW before the pair join —
    * the arithmetic (sqrt of self-dot, then one multiply per pair) is
    * identical to inlining `cosine`, but the O(dim) norm work is done once
    * per vector instead of once per pair.
    */
  private def rankTopK(joined: DataFrame, k: Int, roundDigits: Int,
                       d: (Column, Column) => Column): DataFrame = {
    val denom = col("__qn") * col("__cn")
    val sim = round(
      when(denom =!= 0.0, d(col("__qv"), col("__cv")) / denom), roundDigits)
    val w   = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    joined
      .withColumn("sim", sim)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rnk"))
  }

  /** Matryoshka-style prefix-dimension top-k (Kusupati et al. 2022, MRL:
    * nested representations rank usefully with only a PREFIX of the
    * dimensions): for every tier d in `dims`, the corpus is ranked by
    * cosine over the FIRST d components and the per-(tier, query) top-k
    * emitted. Joined against the full-dimension exact top-k this yields
    * the recall-vs-dimension calibration curve — the artifact that tells
    * a serving stack how many leading dimensions its coarse pass can
    * truncate to (shrinking index bytes and scan cost d/D-fold) before
    * recall drops below target.
    *
    * Scale shape: ONE broadcast-queries × corpus scan computes every
    * tier's prefix dot products per row (tiers are a per-row explode of a
    * literal array, never a join), then one rank window keyed by
    * (dim_tier, qid). At corpus scale the scan stage swaps for a routed
    * index ([[ivfTopKTrained]]) built on the truncated prefix — the
    * output contract is the same.
    *
    * Output: (dim_tier, qid, id, sim, rnk), `k` rows per (tier, query);
    * sim rounded to `roundDigits` with id tie-break, the engine-portable
    * ranking convention used across this file.
    */
  def prefixDimTopK(queries: DataFrame, corpus: DataFrame,
                    qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
                    k: Int, dims: Seq[Int], roundDigits: Int = 4): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), "dims must be >= 1")
    val tiers = dims.distinct.sorted
    val d = dotFn(queries.sparkSession)
    val q = broadcast(queries.select(col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv")))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
    val tierSims = tiers.map { t =>
      val qs  = slice(col("__qv"), 1, t)
      val cs  = slice(col("__cv"), 1, t)
      val den = sqrt(d(qs, qs)) * sqrt(d(cs, cs))
      struct(lit(t.toLong).as("dim_tier"),
        round(when(den =!= 0.0, d(qs, cs) / den), roundDigits).as("sim"))
    }
    val w = Window.partitionBy(col("dim_tier"), col("qid"))
      .orderBy(col("sim").desc, col("id"))
    q.join(c)
      .select(col("qid"), col("id"), explode(array(tierSims: _*)).as("__t"))
      .select(col("qid"), col("id"), col("__t.dim_tier").as("dim_tier"), col("__t.sim").as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("dim_tier"), col("qid"), col("id"), col("sim"), col("rnk"))
  }

  /** IVF-style approximate top-k: a coarse quantizer built from one sampled
    * representative per `listCol` value (deterministic — no float-summed
    * centroid training, so the same quantizer falls out on any engine);
    * each query probes only the inverted list whose representative is most
    * cosine-similar (`nprobe` lists for higher recall at `nprobe`/nlists
    * of the scan cost). The classic IVF trade: a cheap routing step
    * cuts the scanned corpus to ~1/nlists. At 100 TB the corpus would be
    * partitioned (bucketBy) on the list id so a probe touches one partition.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String, listCol: String,
      k: Int, roundDigits: Int = 4, nprobe: Int = 1
  ): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val d = dotFn(queries.sparkSession)
    // representative per list = the member with the smallest id; min_by
    // resolves it in ONE partial-aggregable shuffle (an earlier min-id
    // groupBy + join-back variant cost an extra join and broadcast stage —
    // pure scheduling overhead on the critical path)
    val reps = broadcast(
      corpus.groupBy(col(listCol).as("__list"))
        .agg(min_by(col(vecCol), col(idCol)).as("__rv0"))
        .select(col("__list"), asDouble(col("__rv0")).as("__rv"))
        .withColumn("__rn", sqrt(d(col("__rv"), col("__rv")))))
    val q = queries.select(col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv"))
      .withColumn("__qn", sqrt(d(col("__qv"), col("__qv"))))
    // route each query to its best list (rounded sim, list id tiebreak);
    // zero-norm guard mirrors rankTopK so engines agree on degenerate vectors
    val routeDenom = col("__qn") * col("__rn")
    val routed = broadcast(q.join(reps)
      .withColumn("__rsim",
        round(when(routeDenom =!= 0.0, d(col("__qv"), col("__rv")) / routeDenom), roundDigits))
      .withColumn("__rrnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("__rsim").desc, col("__list"))))
      .filter(col("__rrnk") <= nprobe)
      .select(col("qid"), col("__qv"), col("__qn"), col("__list")))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"),
      col(listCol).as("__list"))
      .withColumn("__cn", sqrt(d(col("__cv"), col("__cv"))))
    rankTopK(routed.join(c, "__list"), k, roundDigits, d)
  }

  /** IVF top-k with a TRAINED coarse quantizer: inverted lists come from
    * nearest-[[kmeansFit]]-centroid assignment and queries route to their
    * `nprobe` nearest centroids under the SAME exact-integer L2 metric the
    * trainer used (routing and quantization must agree — [[ivfTopK]]'s
    * sampled-representative router loses recall because a min-id member is
    * a poor proxy for the list's mass; measured 8% → 26% recall@5 at
    * nprobe=1 with the same 10 lists on the sf0.01 embeddings). In-list
    * scoring stays rounded cosine, so output shape and tie-breaks match
    * [[ivfTopK]]. Centroid cells are broadcast into both the assignment
    * and the routing; at 100 TB the corpus would be bucketBy'd on the
    * assigned list so a probe touches one bucket.
    *
    * @param centroids (label, dim, c_bp) cells from [[kmeansFit]] — train
    *   once per corpus and memoize; this operator never retrains.
    */
  def ivfTopKTrained(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      centroids: DataFrame, k: Int, roundDigits: Int = 4, nprobe: Int = 1
  ): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val d = dotFn(queries.sparkSession)
    val lists = assignToNearestCentroid(corpus, idCol, vecCol, centroids)
      .select(col("id"), col("label").as("__list"))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
      .join(lists, "id")
      .withColumn("__cn", sqrt(d(col("__cv"), col("__cv"))))
    val qCells = queries.select(col(qIdCol).as("qid"),
        posexplode(col(qVecCol)).as(Seq("__pos", "__x")))
      .select(col("qid"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("q_bp"))
    val diff = col("q_bp") - col("c_bp")
    val routed = broadcast(
      qCells.join(broadcast(centroids), "dim")
        .groupBy(col("qid"), col("label"))
        .agg(sum(diff * diff).as("__d2"))
        .withColumn("__rrnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("__d2"), col("label"))))
        .filter(col("__rrnk") <= nprobe)
        .select(col("qid"), col("label").as("__list")))
    val q = queries.select(col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv"))
      .withColumn("__qn", sqrt(d(col("__qv"), col("__qv"))))
    rankTopK(broadcast(q.join(routed, "qid")).join(c, "__list"), k, roundDigits, d)
  }

  /** The [[ivfTopKTrained]] recall/cost frontier in ONE pass: top-k per
    * query at EVERY probe width in `nprobes`, so a recall eval (or a
    * capacity planner) reads the whole nprobe curve from a single plan.
    * Routing ranks are computed once to `max(nprobes)`; each candidate is
    * scored once (rounded cosine, id tiebreak — identical to
    * [[ivfTopKTrained]] at the same nprobe); then one projection fans each
    * scored candidate out to the probe tiers that include its list
    * (`route_rank <= nprobe`) and one window ranks per (nprobe, qid).
    * Running the curve costs one corpus probe at the WIDEST tier — not
    * |nprobes| separate probes — which is what makes the calibration
    * artifact affordable at 100 TB: the narrow tiers are subsets of the
    * wide tier's candidates, so they ride the same scan.
    *
    * Output: (nprobe, qid, id, sim, rnk ≤ k), one block per probe width.
    */
  def ivfTopKTrainedCurve(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      centroids: DataFrame, k: Int, nprobes: Seq[Int], roundDigits: Int = 4
  ): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be >= 1")
    // a repeated tier would emit duplicate (nprobe, qid, id) blocks — the
    // curve is keyed by probe width, so tiers are a set
    val tiers = nprobes.distinct
    val d = dotFn(queries.sparkSession)
    val maxProbe = tiers.max
    val lists = assignToNearestCentroid(corpus, idCol, vecCol, centroids)
      .select(col("id"), col("label").as("__list"))
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
      .join(lists, "id")
      .withColumn("__cn", sqrt(d(col("__cv"), col("__cv"))))
    val qCells = queries.select(col(qIdCol).as("qid"),
        posexplode(col(qVecCol)).as(Seq("__pos", "__x")))
      .select(col("qid"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("q_bp"))
    val diff = col("q_bp") - col("c_bp")
    val routed = broadcast(
      qCells.join(broadcast(centroids), "dim")
        .groupBy(col("qid"), col("label"))
        .agg(sum(diff * diff).as("__d2"))
        .withColumn("__rrnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("__d2"), col("label"))))
        .filter(col("__rrnk") <= maxProbe)
        .select(col("qid"), col("__rrnk"), col("label").as("__list")))
    val q = queries.select(col(qIdCol).as("qid"), asDouble(col(qVecCol)).as("__qv"))
      .withColumn("__qn", sqrt(d(col("__qv"), col("__qv"))))
    val denom = col("__qn") * col("__cn")
    val scored = broadcast(q.join(routed, "qid")).join(c, "__list")
      .withColumn("sim",
        round(when(denom =!= 0.0, d(col("__qv"), col("__cv")) / denom), roundDigits))
      .select(col("qid"), col("__rrnk"), col("id"), col("sim"))
    val w = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("sim").desc, col("id"))
    scored
      .withColumn("nprobe",
        explode(array(tiers.map(n => lit(n.toLong)): _*)))
      .filter(col("__rrnk") <= col("nprobe"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("nprobe"), col("qid"), col("id"), col("sim"), col("rnk"))
  }

  /** IVFADC — the composed FAISS-style billion-scale index (Jégou et al.
    * 2011 §IV): a trained coarse quantizer prunes the corpus to `nprobe`
    * inverted lists, and the surviving candidates are scored through
    * their PQ codes with the asymmetric-distance LUT — so a query reads
    * ~nprobe/nlists of the corpus, at m table lookups per candidate
    * instead of d multiplications. All three sides broadcast (routed
    * (qid, list) pairs, the queries × m × K LUT, the coarse centroids);
    * the corpus side is the (id, list, codes) layout a 100 TB store
    * scans, bucketBy'd on the list id so a probe touches one bucket.
    * Routing uses the same exact-integer L2 as the coarse trainer
    * ([[ivfTopKTrained]]); scoring ranks like [[pqAdcTopK]] (adc asc, id
    * tiebreak).
    *
    * Output: (qid, id, adc_bp2, rnk ≤ k) — only ids in routed lists.
    */
  def ivfAdcTopK(queries: DataFrame, qIdCol: String, qVecCol: String,
                 codes: DataFrame, codebooks: DataFrame,
                 lists: DataFrame, centroids: DataFrame,
                 k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val qCells = queries.select(col(qIdCol).as("qid"),
        posexplode(col(qVecCol)).as(Seq("__pos", "__x")))
      .select(col("qid"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("q_bp"))
    val rDiff = col("q_bp") - col("c_bp")
    val routed = broadcast(
      qCells.join(broadcast(centroids), "dim")
        .groupBy(col("qid"), col("label"))
        .agg(sum(rDiff * rDiff).as("__d2"))
        .withColumn("__rrnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("__d2"), col("label"))))
        .filter(col("__rrnk") <= nprobe)
        .select(col("qid"), col("label").as("__list")))
    val lDiff = col("q_bp") - col("c_bp")
    val lut = broadcast(qCells.join(broadcast(codebooks), "dim")
      .groupBy(col("qid"), col("subspace"), col("code"))
      .agg(sum(lDiff * lDiff).as("lut_bp2")))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_bp2"), col("id"))
    codes.join(lists.select(col("id"), col("label").as("__list")), "id")
      .join(routed, "__list")
      .join(lut, Seq("qid", "subspace", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("lut_bp2")).as("adc_bp2"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("adc_bp2"), col("rnk"))
  }

  /** Semantic deduplication (SemDeDup — Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540; public): cluster embeddings with k-means, then flag
    * documents whose embedding scores rounded-cosine ≥ `threshold` against
    * a LOWER-id document in the SAME cluster (keep-lowest-id
    * canonicalization; duplicate CHAINS compose with
    * [[graft.ext.Components]] for closure, the q60 pattern). The cluster
    * blocking is what makes web-scale semantic dedup feasible: the pair
    * join is an equi-join on the cluster id, never a corpus
    * cross-product, and k scales with the corpus so cluster occupancy
    * stays bounded — the paper's own posture. For degenerate embedding
    * collapse (a mode where one cluster swallows the corpus regardless of
    * k), `maxClusterSize` sub-splits oversized clusters on `extraBits`
    * further sign bits before the pair join — the [[nearDupPairs]] guard:
    * the hot cluster's pair count drops to ~(|c|/2^extraBits)² per
    * sub-bucket, the cluster sizes come from a ≤ k-row broadcast
    * aggregate (never a corpus window), and identical vectors agree on
    * every sign bit, so exact duplicates are STILL never missed (they
    * always share a cluster — equal distances, same tie-break — and a
    * sub-bucket); near-dups split across a refinement bit are the
    * documented recall trade. Default keeps clusters whole.
    *
    * Output: (id, cluster, n_dups, is_dup) — n_dups counts the smaller-id
    * same-cluster(-and-sub-bucket) neighbors at or above the threshold.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double,
                    roundDigits: Int = 4,
                    maxClusterSize: Int = Int.MaxValue,
                    extraBits: Int = 6): DataFrame = {
    val d = dotFn(df.sparkSession)
    val assigned = assignToNearestCentroid(df, idCol, vecCol, centroids)
      .select(col("id"), col("label").as("cluster"))
    // the refinement bits are only evaluated when the guard is on (they
    // index vector elements the caller's dims may not have otherwise)
    val refine =
      if (maxClusterSize == Int.MaxValue) lit(0L)
      else signBucket(col(vecCol), extraBits)
    val keyed = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"),
        refine.as("__s"))
      .join(assigned, "id")
      .withColumn("__n", sqrt(d(col("__v"), col("__v"))))
    val c =
      if (maxClusterSize == Int.MaxValue)
        keyed.withColumn("__blk", col("cluster").cast("string")).drop("__s")
      else {
        val cnt = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("__cnt"))
        keyed.join(broadcast(cnt), "cluster")
          .withColumn("__blk", concat(col("cluster").cast("string"),
            when(col("__cnt") > maxClusterSize,
              concat(lit("/"), col("__s").cast("string"))).otherwise(lit(""))))
          .drop("__s", "__cnt")
      }
    val denom = col("a.__n") * col("b.__n")
    val dupCounts = c.as("a").join(c.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.id") < col("b.id"))
      .withColumn("__sim", round(
        when(denom =!= 0.0, d(col("a.__v"), col("b.__v")) / denom), roundDigits))
      .filter(col("__sim") >= threshold)
      .groupBy(col("b.id").as("id"))
      .agg(count(lit(1)).as("n_dups"))
    c.select(col("id"), col("cluster"))
      .join(dupCounts, Seq("id"), "left")
      .withColumn("n_dups", coalesce(col("n_dups"), lit(0L)))
      .withColumn("is_dup", col("n_dups") > 0)
  }

  /** Batch-incremental SemDeDup — the [[semanticDedup]] admission test run
    * against a PERSISTED cluster index (the paragraph-dedup q108 pattern
    * one tier up): admit only batch vectors with no semantic duplicate
    * (cosine ≥ threshold) among (a) smaller-id batch rows in the same
    * cluster and (b) already-indexed rows in the same cluster. Exact id
    * re-deliveries are dropped first (anti join on id), which also makes
    * replay idempotent: a re-delivered batch finds every prior admit in
    * the index and admits nothing new.
    *
    * `index` carries (idCol, cluster, vec: array<double>) — the frame this
    * function's own output accumulates into. Scale posture: both probes
    * are cluster-keyed equi-joins (never a corpus product), the centroids
    * stay a broadcast k×dims frame, and the batch is the build side while
    * the corpus-sized index streams — per-batch cost is bounded by batch
    * size times cluster occupancy, not corpus size.
    *
    * Output: admitted rows as (idCol, cluster, vec), ready to append to
    * the index.
    */
  /** Semantic-dedup yield-vs-threshold planning curve — [[graft.ext
    * .TextDedup.dedupYieldCurve]]'s sibling on the embedding side: for
    * every cosine cutoff tier (basis points), how many vectors survive
    * the greedy smaller-id-wins drop under [[semanticDedup]]'s
    * cluster-blocked pair rule. SemDeDup's epsilon is THE knob its paper
    * tunes against retained-data volume (Abbas et al. 2023 §4 sweep
    * exactly this curve); this emits it as a table.
    *
    * One cluster-blocked pair join at the LOOSEST tier feeds every
    * tier's victim filter (a per-row explode + filter, never a re-join);
    * victims are distinct larger-side ids.
    *
    * Output per tier: (threshold_bp, n_vectors, n_vectors_kept, kept_bp).
    */
  def semanticYieldCurve(df: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, tiersBp: Seq[Int],
                         roundDigits: Int = 4): DataFrame = {
    require(tiersBp.nonEmpty && tiersBp.forall(t => t > 0 && t <= 10000),
      "tiers are cosine cutoffs in (0, 10000] basis points")
    val ts = tiersBp.distinct.sorted
    val spark = df.sparkSession
    import spark.implicits._
    val d = dotFn(spark)
    val assigned = assignToNearestCentroid(df, idCol, vecCol, centroids)
      .select(col("id"), col("label").as("cluster"))
    val keyed = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__v"))
      .join(assigned, "id")
      .withColumn("__n", sqrt(d(col("__v"), col("__v"))))
    val denom = col("a.__n") * col("b.__n")
    val tierArr = array(ts.map(t => lit(t.toLong)): _*)
    val victims = keyed.as("a").join(keyed.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("__sim", round(
        when(denom =!= 0.0, d(col("a.__v"), col("b.__v")) / denom), roundDigits))
      .filter(col("__sim") * 10000.0 >= lit(ts.min.toDouble))
      .select(col("b.id").as("id"), col("__sim"),
        explode(tierArr).as("threshold_bp"))
      .filter(col("__sim") * 10000.0 >= col("threshold_bp").cast("double"))
      .select(col("threshold_bp"), col("id")).distinct()
    val removed = victims.groupBy(col("threshold_bp"))
      .agg(count(lit(1)).as("__rm"))
    val totals = df.agg(count(lit(1)).as("n_vectors"))
    ts.map(_.toLong).toDF("threshold_bp")
      .join(removed, Seq("threshold_bp"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__rm", coalesce(col("__rm"), lit(0L)))
      .select(col("threshold_bp"), col("n_vectors"),
        (col("n_vectors") - col("__rm")).as("n_vectors_kept"))
      .withColumn("kept_bp", expr("(n_vectors_kept * 10000L) div n_vectors"))
  }

  def semanticDedupIncremental(batch: DataFrame, index: DataFrame,
                               idCol: String, vecCol: String,
                               centroids: DataFrame, threshold: Double,
                               roundDigits: Int = 4): DataFrame = {
    val d = dotFn(batch.sparkSession)
    val assigned = assignToNearestCentroid(batch, idCol, vecCol, centroids)
      .select(col("id").as(idCol), col("label").as("cluster"))
    val keyed = batch.select(col(idCol), asDouble(col(vecCol)).as("vec"))
      .join(assigned, idCol)
      .withColumn("__n", sqrt(d(col("vec"), col("vec"))))
    // exact re-delivery drop: ids already indexed never re-admit
    val fresh = keyed.join(index.select(col(idCol)), Seq(idCol), "left_anti")
    val idx = index.select(col(idCol).as("__iid"), col("cluster"),
      col("vec").as("__iv"))
      .withColumn("__in", sqrt(d(col("__iv"), col("__iv"))))
    def simAtLeast(va: Column, na: Column, vb: Column, nb: Column): Column = {
      val denom = na * nb
      round(when(denom =!= 0.0, d(va, vb) / denom), roundDigits) >= threshold
    }
    // (a) within-batch: smaller id in the same cluster wins
    val batchDup = fresh.as("a").join(fresh.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .filter(simAtLeast(col("a.vec"), col("a.__n"), col("b.vec"), col("b.__n")))
      .select(col(s"b.$idCol").as(idCol)).distinct()
    // (b) vs the persisted index: any same-cluster indexed neighbor kills
    val indexDup = fresh.join(idx, "cluster")
      .filter(simAtLeast(col("vec"), col("__n"), col("__iv"), col("__in")))
      .select(col(idCol)).distinct()
    fresh
      .join(batchDup, Seq(idCol), "left_anti")
      .join(indexDup, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"), col("vec"))
  }

  /** Sign random projection (the Johnson–Lindenstrauss-style sketch with a
    * ±1 matrix — Achlioptas, "Database-friendly random projections", PODS
    * 2001): project each embedding onto `outDims` fixed ±1 directions,
    * the cheap dimensionality reduction that shrinks vectors before ANN
    * routing or coarse clustering. The projection matrix is DERIVED, not
    * stored: sign(i,j) = parity of md5("i|j"), so any engine (and any
    * re-run) reconstructs the identical matrix from the dimension indices
    * alone.
    *
    * Exact-integer house arithmetic: coordinates are scaled to micro-units
    * (round(x·1e6) as BIGINT, the [[labelCentroids]] pattern) before the
    * signed sum, so results are bit-reproducible under any partitioning
    * and engine. Pure projection — no shuffle, no state; |out| ≤
    * inDims·1e6 per component, far inside BIGINT.
    *
    * Output: (id, dim [0-based output index], proj_micro).
    */
  /** [[signRandomProjection]] packaged as one reduced VECTOR per row
    * (`proj: array<long>`, outDims components in order) — the shape the
    * reduced-space distance computations consume. Same dense ±1
    * Johnson–Lindenstrauss matrix ([[signAt]]), same micro-unit basis;
    * pure projection, no shuffle.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                inDims: Int, outDims: Int): DataFrame = {
    val micro = transform(asDouble(col(vecCol)), x => round(x * 1e6).cast("long"))
    val projs = (0 until outDims).map { j =>
      val signs = array((0 until inDims).map(i => lit(signAt(i, j).toLong)): _*)
      aggregate(zip_with(micro, signs, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    }
    df.select(col(idCol).as("id"), array(projs: _*).as("proj"))
  }

  /** Exact integer-L2 top-k over long-vector columns: queries broadcast
    * (bounded query set — the [[quantizedTopK]] contract), every
    * (query, candidate) distance is one codegen'd zip_with fold, and the
    * per-query rank window sorts only that query's candidates. Ties break
    * by (distance, id) so every engine ranks identically.
    *
    * Output: (qid, id, d2, rnk ≤ k).
    */
  def intL2TopK(queries: DataFrame, corpus: DataFrame,
                qIdCol: String, qVecCol: String,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).as("qid"), col(qVecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("__cv"))
    val d2 = aggregate(zip_with(col("__qv"), col("__cv"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("qid")).orderBy(col("d2"), col("id"))
    q.join(c)
      .withColumn("d2", d2)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("d2"), col("rnk"))
  }

  def signRandomProjection(
      df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int
  ): DataFrame = {
    val micro = transform(asDouble(col(vecCol)), x => round(x * 1e6).cast("long"))
    val projs = (0 until outDims).map { j =>
      val signs = array((0 until inDims).map(i => lit(signAt(i, j).toLong)): _*)
      aggregate(zip_with(micro, signs, (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    }
    df.select(col(idCol), posexplode(array(projs: _*)))
      .select(col(idCol), col("pos").cast("long").as("dim"),
        col("col").as("proj_micro"))
  }

  /** Per-vector int8 quantization for embedding storage: scale each
    * coordinate into [-127, 127] against the vector's own min/max — the
    * 4× storage cut (float32 → int8 + two scale longs) that makes a
    * 100 TB embedding store a 25 TB one. All arithmetic is exact:
    * coordinates go to micro-units first (round(x·1e6) as BIGINT), min /
    * max / the scale quotient are integer ops, so codes are
    * bit-reproducible on any engine — floor((m − mn)·254 / (mx − mn)) is
    * exact here because the numerator stays ≪ 2^52 and can never sit
    * closer than 2.5e-7 to an integer boundary without being exact.
    * Constant vectors (mx = mn) code to 0. Pure projection, no shuffle.
    *
    * Output long-format: (id, dim [1-based], code, mn_micro, mx_micro) —
    * the two scale values ride every row (narrow longs) so a reader can
    * dequantize without a second lookup.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val micro = transform(asDouble(col(vecCol)), x => round(x * 1e6).cast("long"))
    df.select(col(idCol), micro.as("__m"))
      .withColumn("__mn", array_min(col("__m")))
      .withColumn("__mx", array_max(col("__m")))
      .select(col(idCol), col("__mn"), col("__mx"), posexplode(col("__m")))
      .select(
        col(idCol),
        (col("pos") + 1).cast("long").as("dim"),
        when(col("__mx") === col("__mn"), 0L)
          .otherwise(floor((col("col") - col("__mn")) * 254L /
            (col("__mx") - col("__mn"))).cast("long") - 127L).as("code"),
        col("__mn").as("mn_micro"),
        col("__mx").as("mx_micro"))
  }

  /** Retrieval over the QUANTIZED representation: top-k by dot product
    * computed entirely on int8-reconstructed integers — the search path
    * that pairs with [[quantizeInt8]]'s storage cut (scan 1/4 the bytes,
    * rank, optionally re-score survivors on the full floats). Same
    * broadcast-query shape as [[bruteForceTopK]]; only the scoring
    * representation changes.
    *
    * Exactness: coordinates are quantized at MILLI scale (round(x·1e3)),
    * codes by the same min/max rule as [[quantizeInt8]], and each
    * coordinate reconstructs as the integer `mn·254 + (code+127)·(mx−mn)`
    * — i.e. the dequantized value ×254, with no division after the code
    * step (the one `div` has a non-negative numerator, where Spark `div`
    * and DuckDB `//` agree). Milli, not micro, is what keeps the dot
    * exact: reconstructed magnitudes stay ≤ 254·2·|x|·1e3, so a 64-dim
    * dot of unit-ish embeddings peaks ~1e13 ≪ 2^63, where micro-scale
    * products would overflow BIGINT. The int8 step (254 levels) dominates
    * the milli rounding (≥1000 levels), so ranking quality is unchanged.
    *
    * Output: (qid, id, qdot [reconstructed dot ×254², exact BIGINT], rnk).
    */
  def quantizedTopK(
      queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      k: Int
  ): DataFrame = {
    def recon(df: DataFrame, id: String, vec: String, idAs: String, outAs: String): DataFrame =
      df.select(col(id).as(idAs),
          transform(asDouble(col(vec)), x => round(x * 1e3).cast("long")).as("__m"))
        .withColumn("__mn", array_min(col("__m")))
        .withColumn("__mx", array_max(col("__m")))
        .select(col(idAs), expr(
          """transform(__m, m -> __mn * 254L +
            |  (CASE WHEN __mx = __mn THEN 0L
            |        ELSE ((m - __mn) * 254L) div (__mx - __mn) END) * (__mx - __mn))"""
            .stripMargin).as(outAs))
    val q = broadcast(recon(queries, qIdCol, qVecCol, "qid", "__qr"))
    val c = recon(corpus, idCol, vecCol, "id", "__cr")
    val score = aggregate(zip_with(col("__qr"), col("__cr"), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("id"))
    q.join(c)
      .withColumn("qdot", score)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("qdot"), col("rnk"))
  }

  /** Product-quantization codebooks: per (subspace, code) centroid cells.
    * PQ splits the d dims into `m` contiguous subspaces and represents
    * each vector by its nearest codeword PER SUBSPACE — m small codes
    * instead of d floats (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"; public). Here the codewords are the
    * per-label centroids restricted to each subspace ([[centroidsBp]]
    * cells tagged with `subspace = (dim−1) div subDim`): deterministic,
    * engine-reproducible (exact-integer cells), and exactly the
    * label-structure ANN already exploits — where real systems run
    * per-subspace k-means, the SHAPE (bounded codebook broadcast,
    * per-subspace argmin, LUT search) is identical and that is the part
    * that must survive 100 TB.
    *
    * Output: (subspace, code, dim, c_bp) — m × codewords × subDim cells.
    */
  def pqCodebooks(df: DataFrame, vecCol: String, labelCol: String,
                  m: Int, dims: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims ($dims) must divide into m ($m) subspaces")
    val subDim = dims / m
    centroidsBp(df, vecCol, labelCol)
      .select(expr(s"(dim - 1L) div $subDim").as("subspace"),
        col("label").as("code"), col("dim"), col("c_bp"))
  }

  /** PQ codebooks from SIGN-BUCKET pseudo-labels — the finer, label-free
    * codebook [[pqCodebooks]]'s label shortcut cannot give: per subspace,
    * each vector lands in the bucket formed by the sign bits of its first
    * `bits` subvector coordinates (up to 2^bits codewords per subspace),
    * and the codeword is that bucket's centroid. Fully data-derived and
    * engine-reproducible (the sign test and the integer centroid both
    * replay exactly in SQL) — where real systems run per-subspace
    * k-means, this is the deterministic stand-in at the same codebook
    * cardinality, and empirically it is what makes ADC discriminate
    * (label codewords collapse same-label vectors into identical code
    * profiles; see q93's recall eval).
    *
    * Output: (subspace, code, dim, c_bp); empty buckets are simply
    * absent.
    */
  def pqCodebooksSign(df: DataFrame, idCol: String, vecCol: String,
                      m: Int, dims: Int, bits: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims ($dims) must divide into m ($m) subspaces")
    val subDim = dims / m
    require(bits > 0 && bits <= subDim, s"bits ($bits) must fit in a $subDim-dim subspace")
    val cells = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("id"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("x_bp"))
    val buckets = (0 until m).map { s =>
      df.select(col(idCol).as("id"), lit(s.toLong).as("subspace"),
        signBucketAt(col(vecCol), s * subDim, bits).as("code"))
    }.reduce(_ unionByName _)
    cells.withColumn("subspace", expr(s"(dim - 1L) div $subDim"))
      .join(buckets, Seq("id", "subspace"))
      .groupBy(col("subspace"), col("code"), col("dim"))
      .agg(round(sum(col("x_bp")).cast("double") / count(lit(1)), 0)
        .cast("long").as("c_bp"))
  }

  /** PQ codebooks from per-subspace Lloyd's k-means — the trained codebook
    * of Jégou et al. 2011 §III (each subspace gets its own k-means run),
    * replacing [[pqCodebooksSign]]'s sign-bucket stand-in whose centroids
    * cost recall (sign buckets split on coordinate signs, not data
    * density). All m subspaces train SIMULTANEOUSLY in the same shuffles:
    * points are (id, subspace) keyed subvector cells, the E-step is one
    * [[pqEncode]] pass against the current generation (broadcast codebook
    * arrays, codegen'd distance folds — never an exploded cell join), and
    * the M-step is one hash-aggregate on (subspace, code, dim). Seeding is
    * deterministic hash-lowest (the k corpus rows with the smallest
    * (hash16(id), id) become codes 0..k-1, each contributing its
    * subvectors), every centroid is an exact-integer basis-point cell, and
    * ties break toward the smaller code — so an external engine replays
    * the whole training chain bit-for-bit (q90/q91/q93's DuckDB oracles
    * iterate the same CTEs). Like [[kmeansFit]], each generation is
    * persisted and materialized to keep lineage one iteration deep, and
    * the final m × k × subDim cell frame is localized (bounded — it
    * broadcasts into every consumer anyway) so no caller drags the
    * iteration chain in its plan. Empty codes drop out per standard
    * Lloyd's.
    *
    * Output: (subspace, code, dim [global 1-based], c_bp).
    */
  def pqCodebooksKmeans(df: DataFrame, idCol: String, vecCol: String,
                        m: Int, dims: Int, k: Int, iters: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims ($dims) must divide into m ($m) subspaces")
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    val subDim = dims / m
    val cells = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("id"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("x_bp"))
      .withColumn("subspace", expr(s"(dim - 1L) div $subDim"))
    val seedW = Window.orderBy(Sampling.hashBucket16(col("id")), col("id"))
    val seeds = df.select(col(idCol).as("id"))
      .orderBy(Sampling.hashBucket16(col("id")), col("id"))
      .limit(k)
      .withColumn("code", (row_number().over(seedW) - 1).cast("long"))
    var cent = cells.join(seeds, "id")
      .select(col("subspace"), col("code"), col("dim"), col("x_bp").as("c_bp"))
      .persist()
    cent.count()
    for (_ <- 1 to iters) {
      val assigned = pqEncode(df, idCol, vecCol, cent, m, dims)
        .select(col("id"), col("subspace"), col("code"))
      val next = cells.join(assigned, Seq("id", "subspace"))
        .groupBy(col("subspace"), col("code"), col("dim"))
        .agg(round(sum(col("x_bp")).cast("double") / count(lit(1)), 0)
          .cast("long").as("c_bp"))
        .persist()
      next.count() // materialize before dropping the previous generation
      cent.unpersist()
      cent = next
    }
    val spark  = df.sparkSession
    val result = cent.collect()
    cent.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(result.toIndexedSeq, 1), cent.schema)
  }

  /** PQ encoding: each vector → its nearest codeword per subspace, in
    * exact-integer basis points (argmin of squared L2 over the subspace's
    * dims; ties break toward the smallest code). A d-dim float vector
    * becomes m small integers — at d=64, m=4 that is a 64× storage cut,
    * the representation a 100 TB embedding store actually scans.
    *
    * Shape at scale: encode cost is inherently N × m × K distance
    * evaluations, so the formulation keeps the ROW count at N × m × K
    * with the subDim-length distance as one codegen'd zip_with fold per
    * row — NOT N × d × K exploded cells through a join + hash-agg, which
    * at K = 256 is a 16× row blowup that dominated the bench (measured
    * 17 s → ~2 s at sf0.1 on this change). Codebooks fold to one array
    * row per (subspace, code) and broadcast; the per-(id, subspace)
    * argmin is a `min(struct(dist, code))` aggregate — no window, ties
    * break toward the smaller code by struct ordering.
    *
    * Output: (id, subspace, code, dist_bp2).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int, dims: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims ($dims) must divide into m ($m) subspaces")
    val subDim = dims / m
    // one array row per codeword, cells ordered by dim
    val cbArr = codebooks
      .groupBy(col("subspace"), col("code"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c_bp")))).as("__cells"))
      .select(col("subspace"), col("code"),
        expr("transform(__cells, c -> c.c_bp)").as("__cvec"))
    // subspace fan-out is a LITERAL explode (m is a parameter), so the
    // only join in the plan is the broadcast equi-join on the subspace key
    val subs = array((0 until m).map(s => struct(
      lit(s.toLong).as("subspace"), lit(s * subDim + 1).as("__off"))): _*)
    val dist = expr(
      """aggregate(zip_with(__svec, __cvec, (a, b) -> (a - b) * (a - b)),
        |  0L, (acc, x) -> acc + x)""".stripMargin)
    df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .select(col("id"), col("__v"), explode(subs).as("__s"))
      .select(col("id"), col("__s.subspace").as("subspace"), expr(
        s"transform(slice(__v, __s.__off, $subDim), x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
        .as("__svec"))
      .join(broadcast(cbArr), Seq("subspace"))
      .withColumn("__d", dist)
      .groupBy(col("id"), col("subspace"))
      .agg(min(struct(col("__d"), col("code"))).as("__best"))
      .select(col("id"), col("subspace"),
        col("__best.code").as("code"), col("__best.__d").as("dist_bp2"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * exact, the corpus is its codes. Per query × subspace × codeword, a
    * lookup table of exact-integer distances (queries × m × codewords
    * rows — broadcast-sized by construction, the PQ trick that replaces
    * d multiplications per corpus vector with m table reads); the
    * corpus-code join against the LUT is map-side, and one hash-agg per
    * (query, id) sums the m subspace reads. Ranking ties break on id.
    *
    * Output: (qid, id, adc_bp2, rnk ≤ k).
    */
  def pqAdcTopK(queries: DataFrame, qIdCol: String, qVecCol: String,
                codes: DataFrame, codebooks: DataFrame, k: Int): DataFrame = {
    val qCells = queries.select(col(qIdCol).as("qid"),
        posexplode(col(qVecCol)).as(Seq("__pos", "__x")))
      .select(col("qid"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("q_bp"))
    val diff = col("q_bp") - col("c_bp")
    val lut = qCells.join(codebooks, "dim")
      .groupBy(col("qid"), col("subspace"), col("code"))
      .agg(sum(diff * diff).as("lut_bp2"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc_bp2"), col("id"))
    codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("lut_bp2")).as("adc_bp2"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("adc_bp2"), col("rnk"))
  }

  /** The ±1 entry (i, j) of the derived projection matrix: parity of the
    * first byte of md5("i|j"). Deterministic and engine-free — the oracle
    * recomputes the same literals from the same formula.
    */
  def signAt(i: Int, j: Int): Int = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i|$j".getBytes("UTF-8")).head
    if ((b & 1) == 1) 1 else -1
  }

  /** Per-label centroid of an embedding column, one output row per
    * (label, dimension): the mean of each coordinate in exact-integer
    * micro-units (each float is scaled by 1e6 and rounded to BIGINT before
    * summing, so partial aggregation order can never change the sum; the
    * single final division is the only float op). Output:
    * (label, dim [1-based], n, centroid_micro).
    *
    * Shape at scale: posexplode (rows stay narrow: label, dim, long) → one
    * partial-aggregable hash aggregate keyed by (label, dim) — the classic
    * mean-pooling layout; dims × labels output rows regardless of corpus
    * size. A float-summed `avg` would be partition-order-dependent;
    * integer-scaled sums are reproducible bit-for-bit.
    */
  def labelCentroids(df: DataFrame, vecCol: String, labelCol: String,
                     roundDigits: Int = 4): DataFrame =
    df.select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("label"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 1000000d, 0).cast("long").as("__micro"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("__micro")).as("__sum"))
      .select(col("label"), col("dim"), col("n"),
        round(col("__sum").cast("double") / col("n"), roundDigits).as("centroid_micro"))

  /** Per-label centroids in exact-integer basis points, long format
    * (label, dim, c_bp) — the fixed-point companion to [[labelCentroids]]
    * used by [[assignToNearestCentroid]]: coordinates scaled by 1e4 and
    * rounded to BIGINT before summing (order-independent), one final
    * division + round per cell.
    */
  def centroidsBp(df: DataFrame, vecCol: String, labelCol: String): DataFrame =
    df.select(col(labelCol).cast("long").as("label"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("label"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("__bp"))
      .groupBy(col("label"), col("dim"))
      .agg(round(sum(col("__bp")).cast("double") / count(lit(1)), 0).cast("long").as("c_bp"))

  /** Embedding-space drift monitor — the vector twin of
    * [[graft.ext.TextStats.tokenDrift]]: per label, the squared L2
    * distance (in bp² cells) between two cohorts' mean embeddings. An
    * embedding pipeline watches this across snapshots exactly like the
    * token monitor: a label whose cohort means separate signals encoder
    * drift / upstream distribution shift before any downstream recall eval
    * catches it. Means use [[centroidsBp]]'s fixed-point arithmetic
    * (bp-scaled cells, order-independent sums, one rounded division per
    * cell), so the drift number replays bit-for-bit.
    *
    * Labels present in only one cohort are omitted (drift needs both
    * means). Output: (label, n_a, n_b, drift_bp2).
    *
    * Scale shape: ONE corpus scan — cohort membership rides the exploded
    * (label, dim, bp) cells into a single conditional-sum hash-aggregate
    * — then a per-label roll-up of dims-width rows. No join, no window.
    */
  def embeddingDrift(df: DataFrame, vecCol: String, labelCol: String,
                     cohortACol: String): DataFrame = {
    val cells = df.select(col(labelCol).cast("long").as("label"),
        col(cohortACol).as("__a"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("label"), col("__a"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("__bp"))
    cells.groupBy(col("label"), col("dim"))
      .agg(
        sum(when(col("__a"), col("__bp"))).as("__sa"),
        count(when(col("__a"), 1)).as("__ca"),
        sum(when(!col("__a"), col("__bp"))).as("__sb"),
        count(when(!col("__a"), 1)).as("__cb"))
      .filter(col("__ca") > 0 && col("__cb") > 0)
      .select(col("label"), col("__ca"), col("__cb"),
        (round(col("__sa").cast("double") / col("__ca"), 0).cast("long") -
          round(col("__sb").cast("double") / col("__cb"), 0).cast("long")).as("__d"))
      .groupBy(col("label"))
      .agg(max(col("__ca")).as("n_a"), max(col("__cb")).as("n_b"),
        sum(col("__d") * col("__d")).as("drift_bp2"))
  }

  /** K-means assignment step (E-step), engine-distributed: each vector is
    * assigned to the centroid minimizing squared L2 distance, computed in
    * exact-integer basis points so the argmin is identical on every
    * engine (float distance sums are partial-order-dependent; integer
    * cells are not). Ties break toward the smallest label.
    *
    * Shape at scale: posexplode corpus (narrow (id, dim, bp) rows) →
    * equi-join centroids on dim (broadcast: centroids are labels × dims
    * cells, tiny by construction) → one hash aggregate keyed by
    * (id, label) → per-id argmin window. No driver-side centroid
    * materialization; iterate M-step ([[centroidsBp]] over the assigned
    * frame) → E-step for full Lloyd's at any corpus size.
    * Output: (id, label, dist_bp2) — one row per vector.
    */
  def assignToNearestCentroid(df: DataFrame, idCol: String, vecCol: String,
                              centroids: DataFrame): DataFrame = {
    val cells = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("id"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("x_bp"))
    val diff = col("x_bp") - col("c_bp")
    val w = Window.partitionBy(col("id")).orderBy(col("dist_bp2"), col("label"))
    cells
      .join(broadcast(centroids), "dim")
      .groupBy(col("id"), col("label"))
      .agg(sum(diff * diff).as("dist_bp2"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Simplified (centroid-based) silhouette audit of a trained quantizer
    * (Hruschka et al.'s simplified silhouette — the O(n·k) variant of
    * Rousseeuw 1987 that scores each point against CENTROIDS instead of
    * the O(n²) all-pairs form, the only silhouette that exists at corpus
    * scale): per vector `a` = squared integer-L2 to its OWN (nearest)
    * centroid, `b` = squared L2 to the nearest OTHER centroid, and
    * `s = (b − a)/max(a, b)` — here `max(a,b) = b` by construction, so
    * `s_bp = (b − a)·10⁴ div b`, exact integers end to end (squared
    * distances keep the score sqrt-free; monotone in the usual
    * distance-ratio variant). s_bp ∈ [0, 10⁴]; tight clusters with far
    * neighbors score near 10⁴, boundary points near 0.
    *
    * Shape: one cell explode meeting the BROADCAST k×dims centroid frame,
    * one (id, label) hash-aggregate, a 2-row-per-id rank window, one
    * conditional-aggregate collapse, one per-cluster roll-up — the
    * [[assignToNearestCentroid]] plan plus two bounded aggregates.
    * `centroids` must carry ≥ 2 labels in the (label, dim, c_bp) layout.
    *
    * Output: (cluster, n_vectors, mean_sil_bp, min_sil_bp, max_sil_bp).
    */
  def silhouette(df: DataFrame, idCol: String, vecCol: String,
                 centroids: DataFrame): DataFrame = {
    val cells = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("id"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("x_bp"))
    val diff = col("x_bp") - col("c_bp")
    val w = Window.partitionBy(col("id")).orderBy(col("dist_bp2"), col("label"))
    val ab = cells
      .join(broadcast(centroids), "dim")
      .groupBy(col("id"), col("label"))
      .agg(sum(diff * diff).as("dist_bp2"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 2)
      .groupBy(col("id"))
      .agg(max(when(col("__rn") === 1, col("label"))).as("cluster"),
        max(when(col("__rn") === 1, col("dist_bp2"))).as("__a2"),
        max(when(col("__rn") === 2, col("dist_bp2"))).as("__b2"))
    ab.select(col("cluster"),
        expr("CASE WHEN __b2 = 0 THEN 0L ELSE (__b2 - __a2) * 10000 div __b2 END")
          .as("__s_bp"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(__s_bp) div count(1)").as("mean_sil_bp"),
        min(col("__s_bp")).as("min_sil_bp"),
        max(col("__s_bp")).as("max_sil_bp"))
  }

  /** Mini-batch k-means centroid update (Sculley 2010, "Web-scale k-means
    * clustering"; public) — the maintenance step that keeps a trained
    * quantizer (IVF router, SemDeDup clusters, PQ coarse level) tracking
    * corpus drift WITHOUT retraining: assign the arriving batch to the
    * frozen centroids, then move each centroid to the count-weighted mean
    * of its history and its batch arrivals.
    *
    * Exact-integer semantics: with per-centroid history counts n (from
    * [[assignToNearestCentroid]] over the corpus the quantizer was
    * trained on — recomputable, deterministic), batch per-(label, dim)
    * sums s_bp and batch counts b,
    * `c_bp' = (c_bp · n + s_bp) div (n + b)` and `n' = n + b` —
    * the running-mean update with floor division, replayed bit-for-bit
    * by an oracle. Centroids with no batch arrivals pass through
    * unchanged (including their counts).
    *
    * Output: (label, dim, c_bp, n) — the same cell layout the consumers
    * take, plus the updated history count to feed the NEXT update.
    *
    * Scale shape: one batch-side explode to (id, dim, bp) cells meeting
    * the broadcast centroid frame (the [[assignToNearestCentroid]]
    * plan), one (label, dim) hash-aggregate over batch cells, and a
    * k×dims-row join to produce the update — the history corpus never
    * re-enters; its entire contribution is the k-row count frame.
    * Overflow: |c_bp| ≤ 1e4·1e4, so c_bp·n holds to n ~ 10^10 vectors
    * per centroid.
    */
  def kmeansUpdateBatch(batch: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, counts: DataFrame): DataFrame = {
    val assigned = assignToNearestCentroid(batch, idCol, vecCol, centroids)
      .select(col("id"), col("label"))
    val batchCells = batch.select(col(idCol).as("id"),
        posexplode(asDouble(col(vecCol))).as(Seq("__pos", "__x")))
      .select(col("id"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x") * 10000d, 0).cast("long").as("x_bp"))
      .join(assigned, "id")
    val upd = batchCells.groupBy(col("label"), col("dim"))
      .agg(sum(col("x_bp")).as("__s"), count(lit(1)).as("__b"))
    centroids.join(broadcast(counts.select(col("label"), col("n"))), Seq("label"), "left")
      .join(upd, Seq("label", "dim"), "left")
      .select(col("label"), col("dim"),
        when(col("__b").isNotNull,
          expr("(c_bp * coalesce(n, 0L) + __s) div (coalesce(n, 0L) + __b)"))
          .otherwise(col("c_bp")).as("c_bp"),
        (coalesce(col("n"), lit(0L)) +
          coalesce(col("__b"), lit(0L))).as("n"))
  }

  /** Full Lloyd's k-means over an embedding column, k-way, `iters`
    * iterations: deterministic hash-lowest seeding, then alternating
    * [[assignToNearestCentroid]] (E) and integer-basis-point centroid
    * recomputation (M). Returns the final centroid cells
    * (label ∈ [0, k), dim, c_bp).
    *
    * Scale shape: every iteration is two shuffles (assignment hash-agg +
    * centroid hash-agg) over narrow rows; centroids (k × dims cells) are
    * the only broadcast. Each iteration's centroids are persisted and
    * materialized so the lineage stays one-iteration deep — without this
    * the plan doubles per iteration. Nothing but k×dims cells ever sits
    * on the driver's side of a barrier.
    *
    * A cluster that captures no points drops out of the next generation
    * (standard Lloyd's behavior) — callers needing exactly-k should
    * re-seed from the surviving centroids' farthest points.
    */
  /** Greedy k-center (farthest-point) selection — Gonzalez (1985)'s
    * 2-approximation of the k-center objective, the diversity-selection
    * pass data pipelines run to pick maximally-spread exemplars (coreset
    * seeding, eval-set diversification, k-means++-style init). Exact
    * integer basis-point L2; the seed is the hash-lowest corpus row
    * (deterministic), then k−1 rounds each pick the point farthest from
    * everything already chosen.
    *
    * Scale shape: the chosen set is ≤ k rows and rides the scoring pass
    * as LITERALS (a codegen'd `least` over ≤ k zip_with folds — no join
    * side at all); each round is one corpus scan + one TakeOrdered(1);
    * the only driver materialization is one row per round (the
    * [[kmeansFit]] bounded-localization contract). The quantized points
    * frame persists across the k rounds and unpersists before return.
    *
    * Output: (sel_idx 0-based, id, d2_bp2) — d2_bp2 is the squared
    * distance to the nearest previously-chosen point at selection time,
    * the decreasing coverage-radius sequence k-center publishes (0 for
    * the seed).
    */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col(idCol).cast("long").as("id"),
        transform(asDouble(col(vecCol)), x => round(x * 10000d).cast("long")).as("__bp"),
        Sampling.hashBucket16(col(idCol)).as("__bkt"))
      .persist()
    val seed = pts.orderBy(col("__bkt"), col("id")).limit(1)
      .select(col("id"), col("__bp")).collect().head
    var chosen = Vector((seed.getLong(0), seed.getSeq[Long](1), 0L))
    for (_ <- 1 until k) {
      val dists = chosen.map { case (_, v, _) =>
        val litVec = array(v.map(lit): _*)
        aggregate(zip_with(col("__bp"), litVec, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }
      val minDist = dists.reduce(least(_, _))
      val next = pts.filter(!col("id").isin(chosen.map(_._1): _*))
        .withColumn("__md", minDist)
        .orderBy(col("__md").desc, col("id"))
        .limit(1)
        .select(col("id"), col("__bp"), col("__md"))
        .collect().head
      chosen = chosen :+ ((next.getLong(0), next.getSeq[Long](1), next.getLong(2)))
    }
    pts.unpersist()
    chosen.zipWithIndex.map { case ((id, _, d), i) => (i.toLong, id, d) }
      .toDF("sel_idx", "id", "d2_bp2")
  }

  /** One k-center round's frame for plan audits: min-dist to a literal
    * chosen set + TakeOrdered(1). [[kCenterSelect]]'s returned frame is
    * driver-local (k collected rows), so the load-bearing per-round plan
    * is exposed here for `graft.Bench --plans` and PlanAuditSpec.
    */
  private[graft] def kCenterRoundPlanFrame(df: DataFrame, idCol: String,
                                           vecCol: String): DataFrame = {
    val pts = df.select(col(idCol).cast("long").as("id"),
      transform(asDouble(col(vecCol)), x => round(x * 10000d).cast("long")).as("__bp"),
      Sampling.hashBucket16(col(idCol)).as("__bkt"))
    val seed = pts.orderBy(col("__bkt"), col("id")).limit(1)
      .select(col("id"), col("__bp")).collect().head
    val litVec = array(seed.getSeq[Long](1).map(lit): _*)
    val d2c = aggregate(zip_with(col("__bp"), litVec, (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    pts.filter(col("id") =!= seed.getLong(0))
      .withColumn("__md", d2c)
      .orderBy(col("__md").desc, col("id"))
      .limit(1)
      .select(col("id"), col("__md"))
  }

  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    // deterministic seeds: the k corpus rows with the lowest (hash, id);
    // TakeOrdered keeps the global sort distributed, then the k-row frame
    // gets labels 0..k-1 (single-partition window over k rows only)
    val seedW = Window.orderBy(Sampling.hashBucket16(col("id")), col("id"))
    val seeds = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .orderBy(Sampling.hashBucket16(col("id")), col("id"))
      .limit(k)
      .withColumn("label", (row_number().over(seedW) - 1).cast("long"))
    var cent = seeds
      .select(col("label"), posexplode(col("__v")).as(Seq("__pos", "__x")))
      .select(col("label"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("c_bp"))
      .persist()
    cent.count()
    val cells = df.select(col(idCol).as("id"),
        posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .select(col("id"), (col("__pos") + 1).cast("long").as("dim"),
        round(col("__x").cast("double") * 10000d, 0).cast("long").as("x_bp"))
    for (_ <- 1 to iters) {
      val assigned = assignToNearestCentroid(df, idCol, vecCol, cent)
        .select(col("id"), col("label"))
      val next = cells.join(assigned, "id")
        .groupBy(col("label"), col("dim"))
        .agg(round(sum(col("x_bp")).cast("double") / count(lit(1)), 0).cast("long").as("c_bp"))
        .persist()
      next.count() // materialize before dropping the previous generation
      cent.unpersist()
      cent = next
    }
    // hand back a frame with NO lineage into the iteration chain, then drop
    // the last cached generation: k×dims cells is broadcast-sized by
    // construction (it ships to every executor during assignment anyway),
    // so localizing it is bounded — and leaving `cent` persisted would leak
    // one cache entry per fit on a long-lived session
    val spark  = df.sparkSession
    val result = cent.collect()
    cent.unpersist()
    spark.createDataFrame(spark.sparkContext.parallelize(result.toIndexedSeq, 1), cent.schema)
  }

  /** Embedding near-duplicate pairs: same sign bucket AND rounded cosine >=
    * `threshold`. The bucket equi-join is the blocking step that makes this
    * feasible at scale; identical vectors always land in the same bucket, so
    * exact duplicates are never missed.
    * Output: (id_a, id_b, sim) with id_a < id_b.
    *
    * @param maxBucketSize skew guard: the within-bucket self-join is Σ|b|²
    *   pairs, so one hot sign bucket (correlated embeddings guarantee them)
    *   is quadratic at scale. Buckets larger than the cap are split on
    *   `extraBits` further sign bits before the join, bounding the hot
    *   bucket's pair count to ~(|b|/2^extraBits)² per sub-bucket. Identical
    *   vectors agree on every sign bit, so exact duplicates are still never
    *   missed; near-dups differing in a refinement bit are the (documented)
    *   recall trade. The refined key keeps the join a pure equi-join.
    *   Default keeps every bucket whole (no count shuffle).
    */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int, threshold: Double, roundDigits: Int = 4,
      maxBucketSize: Int = Int.MaxValue, extraBits: Int = 6
  ): DataFrame = {
    val d = dotFn(df.sparkSession)
    val keyed = df.select(
      col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("__b"),
      signBucketAt(col(vecCol), bits, extraBits).as("__s"))
      .withColumn("nrm", sqrt(d(col("v"), col("v"))))
    val side =
      if (maxBucketSize == Int.MaxValue)
        keyed.withColumn("bkt", col("__b").cast("string")).drop("__b", "__s")
      else {
        // pre-aggregated broadcast bucket counts instead of a count(*)
        // window — same rationale as lshTopK: no corpus-wide
        // exchange+sort just to learn ≤ 2^bits bucket sizes
        val cnt = df.select(signBucket(col(vecCol), bits).as("__b"))
          .groupBy(col("__b")).agg(count(lit(1)).as("__cnt"))
        keyed.join(broadcast(cnt), "__b")
          .withColumn("bkt", concat(col("__b").cast("string"),
            when(col("__cnt") > maxBucketSize,
              concat(lit("/"), col("__s").cast("string"))).otherwise(lit(""))))
          .drop("__b", "__s", "__cnt")
      }
    val denom = col("a.nrm") * col("b.nrm")
    side.as("a")
      .join(side.as("b"), col("a.bkt") === col("b.bkt") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(when(denom =!= 0.0, d(col("a.v"), col("b.v")) / denom), roundDigits).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Approximate k-nearest-neighbor GRAPH over one embedding corpus: for
    * every vector, its top-`k` most-cosine-similar LSH-bucket co-members.
    * The kNN graph is the substrate for graph-based curation — SemDeDup
    * prunes its edges, graph ANN indexes (HNSW/NSG families) refine it,
    * and [[graft.ext.Components]] over its high-similarity edges yields
    * near-duplicate clusters without a quadratic pass.
    *
    * Construction is [[nearDupPairs]]' bucketed self-join made DIRECTED
    * (both (a,b) and (b,a) survive, a node ranks its own candidate list)
    * with the same hot-bucket refinement: buckets over `maxBucketSize`
    * members split on the next `extraBits` sign bits, capping the
    * per-bucket quadratic term. Ranking is rounded-cosine with the
    * neighbor id as tie-break (total order, engine-portable). Vectors
    * whose bucket is a singleton emit no rows — a kNN graph over an LSH
    * candidate set is approximate by contract (q109's recall-calibration
    * curve measures exactly this trade).
    *
    * Output: (id, nbr_id, sim, rnk), rnk = 1..k per id.
    *
    * Scale shape: one narrow scan computes buckets, the self-join
    * shuffles on the bucket key (candidate pairs never materialize
    * corpus²: the equi-join key IS the blocking key), and the per-id
    * top-k is a `row_number` window partitioned by id — each partition
    * sorts only that node's ≤ bucket-cap candidates. Skew is bounded by
    * `maxBucketSize` BEFORE the join, not discovered after.
    */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               bits: Int, roundDigits: Int = 4,
               maxBucketSize: Int = Int.MaxValue, extraBits: Int = 6): DataFrame = {
    require(k > 0, "k must be positive")
    val d = dotFn(df.sparkSession)
    val keyed = df.select(
      col(idCol).as("id"), asDouble(col(vecCol)).as("v"),
      signBucket(col(vecCol), bits).as("__b"),
      signBucketAt(col(vecCol), bits, extraBits).as("__s"))
      .withColumn("nrm", sqrt(d(col("v"), col("v"))))
    val side =
      if (maxBucketSize == Int.MaxValue)
        keyed.withColumn("bkt", col("__b").cast("string")).drop("__b", "__s")
      else {
        val cnt = df.select(signBucket(col(vecCol), bits).as("__b"))
          .groupBy(col("__b")).agg(count(lit(1)).as("__cnt"))
        keyed.join(broadcast(cnt), "__b")
          .withColumn("bkt", concat(col("__b").cast("string"),
            when(col("__cnt") > maxBucketSize,
              concat(lit("/"), col("__s").cast("string"))).otherwise(lit(""))))
          .drop("__b", "__s", "__cnt")
      }
    val denom = col("a.nrm") * col("b.nrm")
    val scored = side.as("a")
      .join(side.as("b"), col("a.bkt") === col("b.bkt") && col("a.id") =!= col("b.id"))
      .select(
        col("a.id").as("id"), col("b.id").as("nbr_id"),
        round(when(denom =!= 0.0, d(col("a.v"), col("b.v")) / denom), roundDigits).as("sim"))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("sim").desc, col("nbr_id"))).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** The persisted state behind [[knnGraphIncremental]]: one row per
    * indexed vector — (idCol, vec DOUBLE[], mv BIGINT[], n2, bkt) with the
    * [[signBucket]] blocking key precomputed, so an ingest batch probes
    * it by bucket without touching the raw corpus. `mv` is the
    * milli-fixed-point cell array (the q73/q74 quantization) and `n2` its
    * exact BIGINT squared norm — similarity ranking downstream is computed
    * from these exact integers, never from a float fold, so the rank
    * order is bit-identical across engines. Production keeps this frame
    * partitioned/persisted; the hot-bucket refinement of [[knnGraph]] is
    * a REBUILD-time concern (splitting needs corpus-wide bucket counts),
    * mirroring q108's index-compaction story.
    */
  def knnGraphIndex(df: DataFrame, idCol: String, vecCol: String,
                    bits: Int): DataFrame =
    df.select(col(idCol), asDouble(col(vecCol)).as("vec"),
        signBucket(col(vecCol), bits).as("bkt"))
      .withColumn("mv", transform(col("vec"), x => round(x * 1e3).cast("long")))
      .withColumn("n2",
        aggregate(zip_with(col("mv"), col("mv"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x))

  /** Batch-incremental kNN-graph maintenance — the ingest shape: a new
    * embedding batch arrives, and the graph must gain the new nodes'
    * adjacency WITHOUT re-ranking the corpus. Emits, per surviving batch
    * vector, its top-`k` bucket co-members across index ∪ batch
    * (direction `out`), and for every INDEXED vector sharing a bucket
    * with the batch, its top-`k` candidates among the new vectors alone
    * (direction `in`) — the consumer merges `in` rows against a node's
    * stored adjacency by similarity, which is a monotone top-k merge, so
    * replay converges (re-delivered ids are dropped exactly, the
    * q81/q108 rule).
    *
    * Scale shape: one anti join on the id (re-delivery drop), then two
    * bucket-keyed equi-joins whose probe side is the BATCH — per-batch
    * cost tracks batch size × bucket occupancy, never index size; the
    * index side streams. Rank windows partition by the probing node, so
    * each sort holds one node's candidates.
    *
    * Output: (id, nbr_id, sim, rnk, direction).
    */
  def knnGraphIncremental(batch: DataFrame, index: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          bits: Int): DataFrame = {
    val keyed = knnGraphIndex(batch, idCol, vecCol, bits)
    val fresh = keyed.join(index.select(col(idCol)), Seq(idCol), "left_anti")
    knnGraphIncrementalFromFresh(fresh, index, idCol, k)
  }

  /** [[knnGraphIncremental]] with the anti-joined fresh set precomputed —
    * the streaming sink persists `fresh` because the edge emit and the
    * index append both consume it. `fresh` and `index` must carry the
    * [[knnGraphIndex]] layout (idCol, vec, mv, n2, bkt).
    *
    * Similarity is `sim_bp`: the exact BIGINT milli-cell dot over the
    * exact integer squared norms, scaled to basis points in ONE scalar
    * double expression — `round(dot * 10000.0 / sqrt(n2a * n2b))`. Both
    * engines evaluate the identical IEEE op sequence on identical exact
    * integers, so rank boundaries can never flip on a last-ulp float
    * disagreement (the suite's exact-integer similarity convention;
    * previously this ranked a `round(double, 4)` cosine and was the one
    * similarity query off the convention).
    */
  def knnGraphIncrementalFromFresh(fresh: DataFrame, index: DataFrame,
                                   idCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val cand = index.select(col(idCol), col("mv"), col("n2"), col("bkt"))
      .unionByName(fresh.select(col(idCol), col("mv"), col("n2"), col("bkt")))
    def sim(ma: Column, na: Column, mb: Column, nb: Column): Column = {
      val dotL = aggregate(zip_with(ma, mb, (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      when(na =!= 0L && nb =!= 0L,
        round(dotL * lit(10000.0) /
          sqrt(na.cast("double") * nb.cast("double"))).cast("long"))
    }
    def ranked(df: DataFrame): DataFrame = df
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("sim_bp").desc, col("nbr_id"))).cast("long"))
      .filter(col("rnk") <= k)
    val out = ranked(fresh.as("a")
      .join(cand.as("b"), col("a.bkt") === col("b.bkt") &&
        col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id"), col(s"b.$idCol").as("nbr_id"),
        sim(col("a.mv"), col("a.n2"), col("b.mv"), col("b.n2")).as("sim_bp")))
      .withColumn("direction", lit("out"))
    val in = ranked(index.as("a")
      .join(fresh.as("b"), col("a.bkt") === col("b.bkt"))
      .select(col(s"a.$idCol").as("id"), col(s"b.$idCol").as("nbr_id"),
        sim(col("a.mv"), col("a.n2"), col("b.mv"), col("b.n2")).as("sim_bp")))
      .withColumn("direction", lit("in"))
    out.unionByName(in)
  }

  /** Monotone top-k merge of maintenance edges into a persisted
    * adjacency — the consumer side of [[knnGraphIncrementalFromFresh]]'s
    * contract: 'out' rows carry a fresh node's full adjacency, 'in' rows
    * carry candidate updates for indexed nodes, and both fold into the
    * stored (id, nbr_id, sim_bp) edge set by rank. Re-delivered edges
    * collapse exactly (same key ⇒ same exact-integer sim_bp ⇒ the
    * groupBy max is the identity), so replaying a batch is a no-op and
    * the merge is convergent — the q81/q108 idempotence rule at the
    * graph tier.
    *
    * Scale shape: one (id, nbr_id) hash-aggregate + one per-id rank
    * window over adjacency ∪ edges — both frames are k-bounded per node,
    * so the shuffle is O(nodes × k), never corpus².
    */
  def mergeAdjacency(adj: DataFrame, edges: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val u = adj.select(col("id"), col("nbr_id"), col("sim_bp"))
      .unionByName(edges.select(col("id"), col("nbr_id"), col("sim_bp")))
      .groupBy(col("id"), col("nbr_id")).agg(max(col("sim_bp")).as("sim_bp"))
    u.withColumn("rnk", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("sim_bp").desc, col("nbr_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("id"), col("nbr_id"), col("sim_bp"))
  }

  /** Graph-based ANN beam search over a prebuilt neighbor graph — the
    * navigable-small-world family (Malkov & Yashunin 2018, HNSW layer-0
    * analog; DiskANN/Vamana use the same greedy-expand loop): start every
    * query at a fixed entry set, and for `rounds` synchronous rounds
    * expand the current per-query top-`beam` candidates through the
    * (symmetrized) adjacency, re-rank, and keep the beam. Emits the
    * per-query top-`k` AFTER EVERY round as a `round_tier` column — the
    * recall-vs-rounds calibration curve (the q110/q218 artifact shape):
    * round 0 is entry-points-only, and recall climbs as the walk
    * approaches the query's graph neighborhood.
    *
    * Entry points come from the caller (`entryIds`, a 1-column id frame;
    * the Int overload takes the `entries` smallest corpus ids). A
    * bucket-blocked neighbor graph ([[knnGraph]]) is DISCONNECTED across
    * buckets, so navigable seeding means one representative per bucket —
    * the IVF-flavored seeding production graph indexes use when the
    * graph has no long-range links; with it the walk explores the best
    * buckets' neighborhoods instead of being trapped in the entry's.
    *
    * Determinism: sims round to `roundDigits` with id tie-breaks, entry
    * selection is caller-deterministic, and rounds are synchronous
    * whole-frontier expansions — no data-dependent ordering, so an
    * unrolled SQL replay reproduces every tier bit-for-bit.
    *
    * Scale shape: per round, ONE adjacency equi-join probed by the
    * (queries × beam)-sized frontier and ONE corpus equi-join probed by
    * the bounded candidate set (≤ entries + rounds·beam·degree per
    * query) — the candidate side broadcasts, the corpus/graph sides
    * stream. At 100 TB both sides are persisted state id-partitioned by
    * [[knnGraphIndex]], so each round is a co-partitioned lookup, and
    * distance evaluations per query are O(rounds·beam·degree), not O(N) —
    * the whole point of graph ANN.
    *
    * Output: (round_tier ∈ [0, rounds], qid, id, sim, rnk ≤ k).
    */
  def graphSearchCurve(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                       qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
                       k: Int, beam: Int, rounds: Int, entries: Int,
                       roundDigits: Int): DataFrame =
    graphSearchCurve(queries, corpus, graph, qIdCol, qVecCol, idCol, vecCol,
      k, beam, rounds,
      corpus.select(col(idCol).as("id")).orderBy(col("id")).limit(entries),
      roundDigits)

  def graphSearchCurve(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                       qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
                       k: Int, beam: Int, rounds: Int, entries: Int): DataFrame =
    graphSearchCurve(queries, corpus, graph, qIdCol, qVecCol, idCol, vecCol,
      k, beam, rounds, entries, 4)

  def graphSearchCurve(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                       qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
                       k: Int, beam: Int, rounds: Int, entryIds: DataFrame,
                       roundDigits: Int = 4,
                       graphIsAdjacency: Boolean = false): DataFrame = {
    require(k > 0 && beam >= k, "need beam >= k > 0")
    require(rounds >= 0, "need rounds >= 0")
    val d = dotFn(queries.sparkSession)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
    val q = broadcast(queries.select(col(qIdCol).as("qid"),
      asDouble(col(qVecCol)).as("__qv")))
    val entry = broadcast(entryIds.select(col(entryIds.columns.head).as("id")))
    def score(cands: DataFrame): DataFrame = {
      val den = sqrt(d(col("__qv"), col("__qv"))) * sqrt(d(col("__cv"), col("__cv")))
      cands.join(c, "id").join(q, "qid")
        .select(col("qid"), col("id"),
          round(when(den =!= 0.0, d(col("__qv"), col("__cv")) / den),
            roundDigits).as("sim"))
    }
    val wq = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    def topN(scored: DataFrame, n: Int): DataFrame = scored
      .withColumn("rnk", row_number().over(wq).cast("long"))
      .filter(col("rnk") <= n)
    def tier(scored: DataFrame, r: Int): DataFrame =
      topN(scored, k).withColumn("round_tier", lit(r.toLong))
    Lineage.checkpointed { lin =>
      // callers sweeping a parameter (the q225 beam sweep) pass the
      // symmetrized adjacency once via graphIsAdjacency — ONE distinct
      // shuffle shared by every walk instead of one per walk
      val adj =
        if (graphIsAdjacency) graph
        else {
          val adjChain = graph.select(col("id"), col("nbr_id"))
            .unionByName(graph.select(col("nbr_id").as("id"), col("id").as("nbr_id")))
            .distinct()
          lin.fill(adjChain)
          Lineage.anchor(adjChain)
        }
      val scored0 = score(q.select(col("qid")).crossJoin(entry))
      lin.fill(scored0)
      // each round references the previous generation TWICE (frontier +
      // candidate union), so every second generation is filled; the tiers
      // still read the earlier generations, so none is released before
      // the output is checkpointed
      val tiers = Seq.newBuilder[DataFrame]
      val last = lin.iterate(Lineage.anchor(scored0), rounds, every = 2, rollover = false) {
        (scored, r) =>
          tiers += tier(scored, r - 1)
          val frontier = topN(scored, beam).select(col("qid"), col("id"))
          val expand = frontier.join(adj, "id")
            .select(col("qid"), col("nbr_id").as("id"))
          score(scored.select(col("qid"), col("id")).unionByName(expand).distinct())
      }
      tiers += tier(last, rounds)
      tiers.result().reduce(_ unionByName _)
        .select(col("round_tier"), col("qid"), col("id"), col("sim"), col("rnk"))
    }
  }

  /** [[graphSearchCurve]] for a WHOLE beam sweep in one walk: `beam_tier`
    * rides as a column (the [[prefixDimTopK]] tier trick), so the sweep
    * pays one set of per-round jobs instead of |beams| walks — each
    * round's frontier filter is `rnk <= beam_tier` under a
    * (beam_tier, qid)-keyed rank window, and every tier's candidate set
    * evolves exactly as its standalone walk would (verified against
    * per-beam [[graphSearchCurve]] runs by the q225 oracle). Returns the
    * FINAL round's top-`k` per (beam_tier, qid).
    *
    * `adj` must be the symmetrized adjacency (the [[graphSearchCurve]]
    * `graphIsAdjacency` contract), persisted by the caller.
    */
  def graphSearchBeamSweep(queries: DataFrame, corpus: DataFrame, adj: DataFrame,
                           qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
                           k: Int, beams: Seq[Int], rounds: Int, entryIds: DataFrame,
                           roundDigits: Int = 4): DataFrame = {
    require(beams.nonEmpty && beams.forall(_ >= k) && k > 0, "need every beam >= k > 0")
    require(rounds >= 0, "need rounds >= 0")
    val d = dotFn(queries.sparkSession)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
    val q = broadcast(queries.select(col(qIdCol).as("qid"),
      asDouble(col(qVecCol)).as("__qv")))
    val entry = broadcast(entryIds.select(col(entryIds.columns.head).as("id")))
    val tierArr = array(beams.distinct.sorted.map(b => lit(b.toLong)): _*)
    def score(cands: DataFrame): DataFrame = {
      val den = sqrt(d(col("__qv"), col("__qv"))) * sqrt(d(col("__cv"), col("__cv")))
      cands.join(c, "id").join(q, "qid")
        .select(col("beam_tier"), col("qid"), col("id"),
          round(when(den =!= 0.0, d(col("__qv"), col("__cv")) / den),
            roundDigits).as("sim"))
    }
    val wq = Window.partitionBy(col("beam_tier"), col("qid"))
      .orderBy(col("sim").desc, col("id"))
    def ranked(scored: DataFrame): DataFrame = scored
      .withColumn("rnk", row_number().over(wq).cast("long"))
    Lineage.checkpointed { lin =>
      val scored0 = score(q.select(col("qid")).crossJoin(entry)
        .select(explode(tierArr).as("beam_tier"), col("qid"), col("id")))
      lin.fill(scored0)
      val last = lin.iterate(Lineage.anchor(scored0), rounds, every = 2, rollover = false) {
        (scored, _) =>
          val frontier = ranked(scored)
            .filter(col("rnk") <= col("beam_tier"))
            .select(col("beam_tier"), col("qid"), col("id"))
          val expand = frontier.join(adj, "id")
            .select(col("beam_tier"), col("qid"), col("nbr_id").as("id"))
          score(scored.select(col("beam_tier"), col("qid"), col("id"))
            .unionByName(expand).distinct())
      }
      ranked(last).filter(col("rnk") <= k)
        .select(col("beam_tier"), col("qid"), col("id"), col("sim"), col("rnk"))
    }
  }

  /** One UNEXECUTED beam-search round from the entry state — the frame
    * whose physical plan IS the operator's scale story (the public
    * [[graphSearchCurve]] output is a checkpoint scan with no plan left
    * to read; the Graphs `iterationPlanFrame` pattern). Shape to pin:
    * entry scoring, a per-query rank window, an id-keyed adjacency
    * equi-join, the candidate union, and the re-score corpus equi-join —
    * no product beyond the bounded query × entry seeding.
    */
  private[graft] def graphSearchRoundPlanFrame(
      queries: DataFrame, corpus: DataFrame, graph: DataFrame, entries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      beam: Int, roundDigits: Int = 4): DataFrame = {
    val d = dotFn(queries.sparkSession)
    val c = corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("__cv"))
    val q = broadcast(queries.select(col(qIdCol).as("qid"),
      asDouble(col(qVecCol)).as("__qv")))
    val adj = graph.select(col("id"), col("nbr_id"))
      .unionByName(graph.select(col("nbr_id").as("id"), col("id").as("nbr_id")))
      .distinct()
    val entryIds = broadcast(entries.select(col(entries.columns.head).as("id")))
    def score(cands: DataFrame): DataFrame = {
      val den = sqrt(d(col("__qv"), col("__qv"))) * sqrt(d(col("__cv"), col("__cv")))
      cands.join(c, "id").join(q, "qid")
        .select(col("qid"), col("id"),
          round(when(den =!= 0.0, d(col("__qv"), col("__cv")) / den),
            roundDigits).as("sim"))
    }
    val wq = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    val s0 = score(q.select(col("qid")).crossJoin(entryIds))
    val frontier = s0
      .withColumn("rnk", row_number().over(wq).cast("long"))
      .filter(col("rnk") <= beam).select(col("qid"), col("id"))
    val expand = frontier.join(adj, "id")
      .select(col("qid"), col("nbr_id").as("id"))
    score(s0.select(col("qid"), col("id")).unionByName(expand).distinct())
  }

  /** [[graphSearchCurve]]'s final tier only: the per-query top-`k` after
    * all `rounds` expansions — the serving-path call.
    */
  def graphSearchTopK(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
                      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
                      k: Int, beam: Int, rounds: Int, entries: Int,
                      roundDigits: Int = 4): DataFrame =
    graphSearchCurve(queries, corpus, graph, qIdCol, qVecCol, idCol, vecCol,
      k, beam, rounds, entries, roundDigits)
      .filter(col("round_tier") === rounds.toLong)
      .drop("round_tier")

  /** Per-bucket entry points for [[graphSearchCurve]] over a
    * [[knnGraph]]-style bucket-blocked graph: the smallest id per
    * [[signBucket]] value — one navigable seed per connected region.
    */
  def bucketEntryPoints(corpus: DataFrame, idCol: String, vecCol: String,
                        bits: Int): DataFrame =
    corpus.select(col(idCol).as("id"), signBucket(col(vecCol), bits).as("__b"))
      .groupBy(col("__b")).agg(min(col("id")).as("id"))
      .select(col("id"))
}
