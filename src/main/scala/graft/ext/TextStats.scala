package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (extension tier,
  * SURVEY.md §7.4): token counting, quality scoring, language-ID heuristics.
  *
  * All pure column expressions over built-in string/regex functions — fully
  * codegen'd, embarrassingly parallel, no shuffle until the caller
  * aggregates. Ratios are computed in integer basis points (floor division)
  * so scores are exact and portable across engines.
  */
object TextStats {

  /** Subword-ish tokens: runs of letters, runs of digits, or single other
    * non-space chars — a deterministic BPE-shaped proxy for token counting.
    */
  val SubwordPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Per-document token statistics.
    * Output: id, n_chars, n_tokens, n_distinct_tokens, n_subword_tokens.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextDedup.tokens(col(textCol))
    df.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      size(regexp_extract_all(col(textCol), lit(SubwordPattern), lit(0))).cast("long").as("n_subword_tokens")
    )
  }

  /** Heuristic quality signals in exact integer basis points:
    *   - stop_bp: stopword share of tokens ×10000 (floor),
    *   - space_bp: whitespace share of chars ×10000 (floor),
    *   - ttr_bp: type-token ratio (distinct/total) ×10000 (floor),
    * plus a coarse `quality_bin` (good / short / low_diversity).
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = Seq("the", "a", "of", "to", "and")): DataFrame = {
    val toks    = TextDedup.tokens(col(textCol))
    val nTok    = size(toks).cast("long")
    val nStop   = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("long")
    val nChars  = length(col(textCol)).cast("long")
    val nSpace  = (nChars - length(regexp_replace(col(textCol), " ", ""))).cast("long")
    val nDist   = size(array_distinct(toks)).cast("long")
    // floor(a/b) on positive longs in this range is exact in double, and
    // matches DuckDB's integer `//`
    def intDiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val stopBp  = when(nTok > 0, intDiv(nStop * 10000L, nTok)).otherwise(0L).cast("long")
    val spaceBp = when(nChars > 0, intDiv(nSpace * 10000L, nChars)).otherwise(0L).cast("long")
    val ttrBp   = when(nTok > 0, intDiv(nDist * 10000L, nTok)).otherwise(0L).cast("long")
    df.select(
      col(idCol),
      nTok.as("n_tokens"),
      stopBp.as("stop_bp"),
      spaceBp.as("space_bp"),
      ttrBp.as("ttr_bp"),
      when(nTok < 10, "short")
        .when(ttrBp < 3000L, "low_diversity")
        .otherwise("good")
        .as("quality_bin")
    )
  }

  /** Corpus vocabulary by document frequency: one row per token with the
    * number of documents containing it (`df_docs`) and its total occurrence
    * count (`tf_total`), top `k` by (df_docs desc, token asc).
    *
    * Shape at scale: explode → two partial-aggregable hash aggregates →
    * TakeOrderedAndProject. The distinct-per-doc pass and the occurrence
    * pass share one exploded scan; nothing wide ever shuffles (rows are
    * (token) or (id, token)).
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(TextDedup.tokens(col(textCol))).as("token"))
    ex.groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df_docs"), sum(col("tf")).as("tf_total"))
      .orderBy(col("df_docs").desc, col("token"))
      .limit(k)
  }

  /** Top-`k` characteristic terms per document by an exact-integer tf-idf
    * surrogate: `tfidf_bp = (tf * 10000 * N) intdiv df` — monotone in
    * tf/df, computed entirely in BIGINT so every engine ranks identically
    * (a float `ln`-idf differs in the last ulp across libm
    * implementations, which a hash-compare oracle would catch).
    * Output: (id, token, tf, df_docs, tfidf_bp, rnk).
    *
    * Shape: one exploded scan → per-(doc,token) tf agg → per-token df via
    * an ORDER-BY-less count window (whole-partition frame) → per-doc top-k
    * window. The window form computes the tf frame ONCE — a groupBy-df +
    * self-join formulation evaluates the explode+tf aggregation twice
    * (once per join branch, measured ~30% slower). The corpus size N joins
    * in as a broadcast 1-row aggregate — no driver-side collect.
    */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(TextDedup.tokens(col(textCol))).as("token"))
    val tf = ex.groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
    val n  = df.agg(count(lit(1)).as("__n"))
    val wTok = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    // TRUE integral division (SQL `div`), not floor(double-/): a double
    // quotient can round up across an integer boundary once tf*10000*N is
    // large, silently diverging from an engine that computes the exact
    // floor quotient (DuckDB's `//`). `div` keeps both engines on the same
    // integer arithmetic for any product < 2^63.
    val score = expr("(tf * 10000L * __n) div df_docs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("tfidf_bp").desc, col("token"))
    tf.withColumn("df_docs", count(lit(1)).over(wTok))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_bp", score)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("id"), col("token"), col("tf"), col("df_docs"), col("tfidf_bp"), col("rnk"))
  }

  /** Within-document repetition (the Gopher/MassiveText duplicate-n-gram
    * quality filter, Rae et al. 2021 §A1.1): what fraction of a document's
    * word n-grams are repeats of an earlier n-gram in the same document.
    * Boilerplate, scraped navigation, and degenerate generations score
    * high; natural prose scores near zero. Pure per-document projection —
    * the n-gram set never leaves the row, nothing shuffles.
    *
    * Output: id, n_shingles, n_distinct_shingles, rep_bp (repeated share
    * ×10000, floor). Documents with no n-gram (fewer than n tokens) score
    * rep_bp = 0.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int): DataFrame = {
    val sh = TextDedup.wordShingles(TextDedup.tokens(col(textCol)), shingleN)
    df.select(
        col(idCol),
        size(sh).cast("long").as("n_shingles"),
        size(array_distinct(sh)).cast("long").as("n_distinct_shingles"))
      .select(
        col(idCol), col("n_shingles"), col("n_distinct_shingles"),
        when(col("n_shingles") > 0,
          expr("((n_shingles - n_distinct_shingles) * 10000L) div n_shingles"))
          .otherwise(0L).as("rep_bp"))
  }

  /** PII detection (the scan half of a scrub pipeline — q56 is the rewrite
    * half): count email addresses, URLs, and long digit runs (phone/ID
    * shaped) per document and flag documents needing redaction. Patterns
    * are deliberately conservative regexes that mean the same thing in
    * any RE2-style engine; a production system would swap in a curated
    * pattern pack, the *shape* (pure regex projection, no shuffle) is the
    * scale contract.
    * Output: id, n_emails, n_urls, n_digit_runs, has_pii.
    */
  val EmailPattern    = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
  val UrlPattern      = "https?://[^\\s]+"
  val DigitRunPattern = "[0-9]{7,}"

  def piiStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def hits(p: String) =
      size(regexp_extract_all(col(textCol), lit(p), lit(0))).cast("long")
    df.select(
        col(idCol),
        hits(EmailPattern).as("n_emails"),
        hits(UrlPattern).as("n_urls"),
        hits(DigitRunPattern).as("n_digit_runs"))
      .withColumn("has_pii",
        col("n_emails") + col("n_urls") + col("n_digit_runs") > 0)
  }

  /** Per-domain URL rollup — the signal behind C4-style domain filtering
    * (Raffel et al. 2020 §2.2 curate by source domain; blocklists apply
    * downstream as a join or isin filter on `domain`). Extract every URL
    * ([[UrlPattern]]), take its authority component, and aggregate how
    * many documents and how many URL mentions each domain has. Explode +
    * one hash-aggregate on the domain key; n_docs needs the distinct
    * (domain, doc) pairs, which the partial aggregate dedups map-side —
    * at 100 TB the shuffle carries (domain, doc_id) pairs, not documents.
    *
    * Output: (domain, n_docs, n_urls).
    */
  def domainStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))).as("__url"))
      .withColumn("domain", regexp_extract(col("__url"), "https?://([^/\\s]+)", 1))
      .groupBy(col("domain"))
      .agg(countDistinct(col("__id")).as("n_docs"), count(lit(1)).as("n_urls"))

  /** Canonical URL form for crawl-level dedup grouping — the step before
    * any URL-keyed dedup or revisit policy: the same page is crawled as
    * `http://` and `https://`, with and without `www.`, with tracking
    * query strings and trailing slashes, and those raw strings must
    * collapse to one key. Rules (deliberately aggressive — canonical
    * keys GROUP candidates; a content hash downstream verifies):
    * scheme normalized to https, host lowercased with a leading `www.`
    * stripped, query string and fragment dropped entirely, trailing
    * slashes trimmed. Pure codegen projection, and every rule is a
    * regexp DuckDB evaluates identically.
    */
  def canonicalUrl(u: Column): Column = {
    val host = regexp_replace(
      lower(regexp_extract(u, "^https?://([^/?#]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(u, "^https?://[^/?#]+([^?#]*)", 1), "/+$", "")
    concat(lit("https://"), host, path)
  }

  /** Canonical-URL rollup over extracted URLs: how many raw mentions,
    * documents, and distinct raw spellings each canonical page has. One
    * hash-aggregate on the canonical key; the distinct counts dedup
    * map-side like [[domainStats]].
    *
    * Output: (canonical_url, n_urls, n_docs, n_variants).
    */
  def canonicalUrlStats(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.groupBy(canonicalUrl(col(urlCol)).as("canonical_url"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"),
        countDistinct(col(urlCol)).as("n_variants"))

  /** BPE ENCODE step with a fixed merge table — the consumer of
    * [[bpePairStats]]'s training counts: each word is seeded as one unit
    * per character, then every merge `(a, b)` fuses each adjacent unit pair
    * whose units are EXACTLY `a` and `b` (left-to-right, non-overlapping,
    * all occurrences — Sennrich et al. ACL 2016's greedy apply), in
    * priority order. Each pass is a true per-word unit fold via the
    * `aggregate` higher-order function: the previous pass's output is
    * re-split into units and folded left, so a unit fused by an earlier
    * merge can never be partially re-matched (a plain `replace` chain
    * could: 'me' matches the 'm·e' prefix of the already-fused 'm·er·i·t').
    * Merge sides may be multi-character units, so a learned table from an
    * iterated trainer ([[bpeTrain]]) applies directly. The point at scale:
    * encoding is a PURE per-word projection — the merge table rides the
    * closure as literals and nothing shuffles until the per-document count
    * aggregate.
    *
    * Output: (id, n_words, n_char_units, n_bpe_units, saved_bp) —
    * saved_bp = basis points of units eliminated by the merge table.
    */
  def bpeEncodeStats(df: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val (sep, word) = ("·", col("__w"))
    val enc = bpeUnitFold(word, merges, sep)
    df.select(col(idCol), explode(TextDedup.tokens(col(textCol))).as("__w"))
      .select(col(idCol),
        length(word).cast("long").as("__chars"),
        (length(enc) - length(replace(enc, lit(sep), lit(""))) + 1L)
          .cast("long").as("__units"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__chars")).as("n_char_units"),
        sum(col("__units")).as("n_bpe_units"))
      .withColumn("saved_bp",
        expr("((n_char_units - n_bpe_units) * 10000L) div n_char_units"))
  }

  /** The BPE apply fold shared by [[bpeEncodeStats]] and [[bpeFertility]]:
    * seed `word` as one unit per character, then fuse the merge-table
    * pairs in priority order. A pair fuses only when the accumulated
    * string's LAST UNIT is exactly `a` (i.e. the string IS `a` or ends
    * with `·a`) and the incoming unit is exactly `b`; fusing appends `b`
    * without a separator. Greedy non-overlap falls out of the fold: the
    * fused unit `ab` is no longer `a`, so 'aaaa' under ('a','a') folds to
    * aa·aa, never aaa·a.
    */
  private def bpeUnitFold(word: Column, merges: Seq[(String, String)],
                          sep: String): Column = {
    require(merges.nonEmpty && merges.forall { case (a, b) =>
      a.nonEmpty && b.nonEmpty && !(a + b).contains(sep) },
      "each merge is a pair of non-empty separator-free units")
    val seeded = rtrim(regexp_replace(word, "(.)", "$1" + sep), sep)
    merges.foldLeft(seeded) { case (acc, (a, b)) =>
      aggregate(split(acc, sep), lit(""),
        (st, u) => when(st === "", u)
          .when(u === b && (st === a || st.endsWith(sep + a)),
            concat(st, lit(b)))
          .otherwise(concat(st, lit(sep), u)))
    }
  }

  /** Fertility-vs-merge-count curve: corpus-level BPE units per word when
    * only the FIRST m merges of the table are applied, for every tier m
    * in `tiers` — the vocab-size-selection artifact (how much compression
    * each additional block of merges buys; Sennrich et al. 2016 tune the
    * merge count against exactly this diminishing-returns curve, and
    * Gowda & May 2020 "Finding the Optimal Vocabulary Size" formalize the
    * stopping rule). Tier 0 is the character-level anchor (units =
    * chars); fertility falls monotonically as merges are added.
    *
    * Scale shape: ONE corpus scan — every tier's unit count is a per-word
    * expression (merge prefixes are literals), the tier fan-out is a
    * per-row explode of a literal struct array (the [[graft.ext
    * .VectorSearch.prefixDimTopK]] tier trick), and the rollup is one
    * tier-keyed partial+final hash-aggregate.
    *
    * Output per tier: (merge_tier, n_words, n_char_units, n_bpe_units,
    * fertility_milli = units·1000 div words, saved_bp).
    */
  def bpeFertilityCurve(df: DataFrame, textCol: String,
                        merges: Seq[(String, String)],
                        tiers: Seq[Int]): DataFrame = {
    require(tiers.nonEmpty && tiers.forall(t => t >= 0 && t <= merges.size),
      "tiers must be within [0, merges.size]")
    val (sep, word) = ("·", col("__w"))
    val tierCols = tiers.distinct.sorted.map { t =>
      val units =
        if (t == 0) length(word).cast("long")
        else {
          val enc = bpeUnitFold(word, merges.take(t), sep)
          (length(enc) - length(replace(enc, lit(sep), lit(""))) + 1L).cast("long")
        }
      struct(lit(t.toLong).as("merge_tier"), units.as("__units"))
    }
    df.select(explode(TextDedup.tokens(col(textCol))).as("__w"))
      .select(col("__w"), explode(array(tierCols: _*)).as("__t"))
      .select(length(col("__w")).cast("long").as("__chars"),
        col("__t.merge_tier").as("merge_tier"), col("__t.__units").as("__units"))
      .groupBy(col("merge_tier"))
      .agg(count(lit(1)).as("n_words"), sum(col("__chars")).as("n_char_units"),
        sum(col("__units")).as("n_bpe_units"))
      .withColumn("fertility_milli", expr("n_bpe_units * 1000 div n_words"))
      .withColumn("saved_bp",
        expr("((n_char_units - n_bpe_units) * 10000L) div n_char_units"))
  }

  /** Tokenizer fertility per corpus slice (language, source, ...): how
    * many BPE units the frozen merge table spends per whitespace word,
    * and how many characters each unit carries. THE cross-lingual
    * tokenizer-equity audit — a language whose fertility is 2× pays
    * double the sequence length for the same text (Ács 2019; Rust et al.
    * ACL 2021, "How Good is Your Tokenizer?"; public), so pretraining
    * mixtures report exactly this table before fixing a tokenizer.
    *
    * Output per group: (groupCol, n_words, n_char_units, n_bpe_units,
    * fertility_milli = units·1000 div words, chars_per_unit_milli =
    * chars·1000 div units).
    *
    * Scale shape: the group key rides the explode projection, so this is
    * one narrow scan + ONE partial+final hash-aggregate on the group key
    * — no join back to the corpus (the [[bpeEncodeStats]] per-doc grain
    * would need one), and a language holding half the corpus combines
    * map-side.
    */
  def bpeFertility(df: DataFrame, groupCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val (sep, word) = ("·", col("__w"))
    val enc = bpeUnitFold(word, merges, sep)
    df.select(col(groupCol), explode(TextDedup.tokens(col(textCol))).as("__w"))
      .select(col(groupCol),
        length(word).cast("long").as("__chars"),
        (length(enc) - length(replace(enc, lit(sep), lit(""))) + 1L)
          .cast("long").as("__units"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__chars")).as("n_char_units"),
        sum(col("__units")).as("n_bpe_units"))
      .select(col(groupCol), col("n_words"), col("n_char_units"), col("n_bpe_units"),
        expr("n_bpe_units * 1000 div n_words").as("fertility_milli"),
        expr("n_char_units * 1000 div n_bpe_units").as("chars_per_unit_milli"))
  }

  /** Iterated BPE trainer (Sennrich et al. ACL 2016, Algorithm 1): for
    * `rounds` rounds, count adjacent unit pairs across the corpus, take
    * the most frequent pair (ties: lexicographic), fuse it everywhere,
    * re-count. Returns the learned merge table (round, a, b, n) in
    * priority order — feed `.map(m => (m._2, m._3))` to
    * [[bpeEncodeStats]], whose per-word unit fold applies multi-character
    * merges exactly.
    *
    * Scale shape: training runs over the VOCABULARY — one (word, count)
    * row per distinct word, the standard trainer optimization — so every
    * round is one explode + one weighted hash-aggregate over a frame
    * bounded by vocabulary size, not corpus size; pair counts are weighted
    * by word frequency and therefore equal the corpus counts
    * ([[bpePairStats]] round 1 agrees by construction). Each generation's
    * re-encoded vocabulary is persisted and materialized so lineage stays
    * one round deep (the q87 generation pattern), and the only driver
    * materialization is the single winner row per round. Deterministic end
    * to end — an external engine replays the chain (q94's oracle iterates
    * the same CTEs).
    */
  /** The seeded (one-unit-per-char) weighted vocabulary for [[bpeTrain]]. */
  private def bpeSeedVocab(df: DataFrame, textCol: String, sep: String): DataFrame =
    df.select(explode(TextDedup.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__cnt"))
      .select(rtrim(regexp_replace(col("__w"), "(.)", "$1" + sep), sep).as("__enc"),
        col("__cnt"))

  /** One trainer round's winner frame over an encoded vocabulary:
    * weighted adjacent-pair count → (n desc, a, b) TakeOrdered limit 1.
    */
  private def bpeRoundWinner(vocab: DataFrame, sep: String): DataFrame = {
    val units = split(col("__enc"), sep)
    val prs = when(size(units) > 1,
        expr(s"transform(sequence(1, size(split(__enc, '$sep')) - 1)," +
          s" i -> struct(split(__enc, '$sep')[i-1] AS a, split(__enc, '$sep')[i] AS b))"))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
    vocab.select(explode(prs).as("__p"), col("__cnt"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(sum(col("__cnt")).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"))
      .limit(1)
  }

  /** One UNEXECUTED trainer round from the seeded vocabulary — the frame
    * whose physical plan IS the operator's scale story (the q94 output is
    * a driver-local merge table with no plan left to read; the q87
    * situation). Used by `graft.Bench --plans`.
    */
  private[graft] def bpeTrainRoundPlanFrame(df: DataFrame, textCol: String): DataFrame =
    bpeRoundWinner(bpeSeedVocab(df, textCol, "·"), "·")

  def bpeTrain(df: DataFrame, textCol: String, rounds: Int): Seq[(Long, String, String, Long)] = {
    require(rounds > 0, "rounds must be positive")
    val sep = "·"
    var vocab = bpeSeedVocab(df, textCol, sep).persist()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val units = split(col("__enc"), sep)
        val winner = bpeRoundWinner(vocab, sep).collect()
        if (winner.isEmpty) exhausted = true // vocabulary fully fused
        else {
          val (a, b, n) = (winner(0).getString(0), winner(0).getString(1), winner(0).getLong(2))
          merges += ((r.toLong, a, b, n))
          val fused = aggregate(units, lit(""),
            (st, u) => when(st === "", u)
              .when(u === b && (st === a || st.endsWith(sep + a)), concat(st, lit(b)))
              .otherwise(concat(st, lit(sep), u)))
          val next = vocab.select(fused.as("__enc"), col("__cnt")).persist()
          next.count() // materialize before dropping the previous generation
          vocab.unpersist()
          vocab = next
          r += 1
        }
      }
      merges.toSeq
    } finally vocab.unpersist()
  }

  /** One WordPiece trainer round's winner frame over an encoded
    * vocabulary: weighted adjacent-pair counts joined with the round's
    * unit counts, ranked by the likelihood score
    * `count(ab) / (count(a)·count(b))` in exact nano units. The score is
    * computed by STAGED floor division `(n·10⁹ div n_a) div n_b` — for
    * positive integers `⌊⌊x/a⌋/b⌋ = ⌊x/(a·b)⌋`, so staging is exact while
    * keeping every intermediate far inside signed 64 bits (`n·10⁹ ≤ 10¹⁶`
    * vs the naive `n_a·n_b·10⁹` which wraps past ~10⁵ unit occurrences —
    * the q299 chi-square lesson applied at design time). Both unit-count
    * joins broadcast: the unit table is vocabulary-sized by construction.
    */
  private def wpRoundWinner(vocab: DataFrame, sep: String): DataFrame = {
    val units = split(col("__enc"), sep)
    val prs = when(size(units) > 1,
        expr(s"transform(sequence(1, size(split(__enc, '$sep')) - 1)," +
          s" i -> struct(split(__enc, '$sep')[i-1] AS a, split(__enc, '$sep')[i] AS b))"))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
    val pairs = vocab.select(explode(prs).as("__p"), col("__cnt"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(sum(col("__cnt")).as("n"))
    val unitCounts = vocab
      .select(explode(units).as("__u"), col("__cnt"))
      .groupBy(col("__u")).agg(sum(col("__cnt")).as("__nu"))
    pairs
      .join(broadcast(unitCounts.select(col("__u").as("a"), col("__nu").as("__na"))), Seq("a"))
      .join(broadcast(unitCounts.select(col("__u").as("b"), col("__nu").as("__nb"))), Seq("b"))
      .select(col("a"), col("b"), col("n"),
        expr("n * 1000000000 div __na div __nb").as("score_nano"))
      .orderBy(col("score_nano").desc, col("a"), col("b"))
      .limit(1)
  }

  /** One UNEXECUTED WordPiece trainer round from the seeded vocabulary —
    * the frame whose physical plan IS the operator's scale story (the
    * q94/q304 situation: the returned merge table is driver-local with no
    * plan left to read). Used by `graft.Bench --plans`.
    */
  private[graft] def wordpieceTrainRoundPlanFrame(df: DataFrame, textCol: String): DataFrame =
    wpRoundWinner(bpeSeedVocab(df, textCol, "·"), "·")

  /** Iterated WordPiece trainer (Schuster & Nakajima, ICASSP 2012 — the
    * BERT tokenizer's model): structurally the BPE loop, but each round's
    * winning pair maximizes the LIKELIHOOD GAIN `count(ab) /
    * (count(a)·count(b))` instead of raw pair frequency, so the trainer
    * prefers strongly-associated pairs (a `q` that is almost always
    * followed by `u`) over merely common ones. Ties break (score desc, a
    * asc, b asc) — deterministic, replayed verbatim by the q304 oracle.
    *
    * Same scale shape as [[bpeTrain]]: every round is vocabulary-sized
    * (distinct words × bounded units), one persisted generation deep, and
    * the only driver materialization is the single winner row per round.
    * Returns (round, a, b, pair_count, score_nano) in merge-priority
    * order; the learned pieces (`a+b` per round) feed maximal-munch
    * encoding ([[unigramFertility]]) — greedy longest-match-first IS the
    * canonical WordPiece encode algorithm.
    */
  def wordpieceTrain(df: DataFrame, textCol: String,
                     rounds: Int): Seq[(Long, String, String, Long, Long)] = {
    require(rounds > 0, "rounds must be positive")
    val sep = "·"
    var vocab = bpeSeedVocab(df, textCol, sep).persist()
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long, Long)]()
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val units = split(col("__enc"), sep)
        val winner = wpRoundWinner(vocab, sep).collect()
        if (winner.isEmpty) exhausted = true // vocabulary fully fused
        else {
          val (a, b, n, sc) = (winner(0).getString(0), winner(0).getString(1),
            winner(0).getLong(2), winner(0).getLong(3))
          merges += ((r.toLong, a, b, n, sc))
          val fused = aggregate(units, lit(""),
            (st, u) => when(st === "", u)
              .when(u === b && (st === a || st.endsWith(sep + a)), concat(st, lit(b)))
              .otherwise(concat(st, lit(sep), u)))
          val next = vocab.select(fused.as("__enc"), col("__cnt")).persist()
          next.count() // materialize before dropping the previous generation
          vocab.unpersist()
          vocab = next
          r += 1
        }
      }
      merges.toSeq
    } finally vocab.unpersist()
  }

  // -----------------------------------------------------------------
  // Unigram-LM tokenizer trainer (Kudo, ACL 2018 — the SentencePiece
  // unigram model): start from a LARGE candidate vocabulary of frequent
  // substrings, iteratively re-estimate piece usage under the current
  // segmentation and PRUNE the lowest-contribution pieces, keeping
  // single characters forever so coverage never breaks. This is the
  // deterministic hard-EM variant: the E-step segments each distinct
  // word by greedy maximal munch (longest vocab piece at each position
  // — the WordPiece-style deterministic stand-in for the Viterbi path,
  // chosen so BOTH engines replay the identical integer-only
  // segmentation with zero float ops), and the M-step recounts
  // occurrence-weighted piece usage; pruning by usage then plays the
  // role of Kudo's loss-ranked prune. Everything downstream of one
  // corpus word-count aggregate is VOCABULARY-sized: candidate
  // generation, the per-round match table, the walk, and the prune all
  // run over distinct words × a bounded vocab, never corpus rows.

  /** Distinct-word frame (word, count) for the trainer — words longer
    * than `maxWordLen` are excluded (the candidate/segmentation bound;
    * SentencePiece applies the same kind of length cap).
    */
  private def unigramWords(df: DataFrame, textCol: String,
                           maxWordLen: Int): DataFrame =
    df.select(explode(TextDedup.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) <= maxWordLen)
      .groupBy(col("__w")).agg(count(lit(1)).as("__cnt"))

  /** Greedy maximal-munch segmentation of every distinct word against a
    * bounded piece vocabulary: per (word, position) the LONGEST matching
    * piece wins (single chars are always in the vocab, so every position
    * matches), and the per-word walk chains matches left to right.
    * Output: one row per word — (__w, __cnt, __used array<string>).
    *
    * Plan shape: one bounded explode of the (pos, len) match grid over
    * DISTINCT words, one broadcast equi-join against the vocab on the
    * substring, one (word, pos) rank window, then a per-word fold of at
    * most `maxWordLen` steps. Nothing corpus-sized is touched.
    */
  private def munchSegments(words: DataFrame, vocab: DataFrame,
                            maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val grid = expr(
      s"""filter(flatten(transform(sequence(1, length(__w)),
         |  p -> transform(sequence(1, $maxPieceLen),
         |    l -> CASE WHEN p + l - 1 <= length(__w)
         |         THEN named_struct('pos', p, 'len', l,
         |                           'piece', substr(__w, p, l)) END))),
         |  x -> x IS NOT NULL)""".stripMargin)
    // the per-position fold below indexes the winners array POSITIONALLY,
    // which is only sound when every position 1..len(word) has a match —
    // so coverage is GUARANTEED here by unioning the input words' single
    // characters into the vocab (the tokenizer UNK-per-char convention):
    // a frozen external vocab missing a corpus character would otherwise
    // silently mis-walk. The union is distinct-words × ≤maxWordLen rows
    // (never corpus-sized) and a no-op when the vocab already covers.
    val coverVocab = vocab.select(col("piece"))
      .unionByName(words.select(explode(expr(
        "transform(sequence(1, length(__w)), p -> substr(__w, p, 1))")).as("piece")))
      .distinct()
    val matches = words
      .select(col("__w"), col("__cnt"), explode(grid).as("__g"))
      .select(col("__w"), col("__cnt"), col("__g.pos").as("__pos"),
        col("__g.len").as("__len"), col("__g.piece").as("__piece"))
      .join(broadcast(coverVocab.select(col("piece").as("__piece"))), Seq("__piece"))
    val w = Window.partitionBy(col("__w"), col("__pos"))
      .orderBy(col("__len").desc)
    val steps = matches
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy(col("__w"), col("__cnt"))
      .agg(sort_array(collect_list(
        struct(col("__pos"), col("__len"), col("__piece")))).as("__steps"))
    // every pos 1..len(word) has exactly one winning match (chars cover),
    // so __steps is indexable by position and the walk is a plain fold
    steps.select(col("__w"), col("__cnt"), expr(
      s"""aggregate(sequence(1, $maxWordLen),
         |  named_struct('pos', 1, 'used', CAST(array() AS array<string>)),
         |  (acc, i) -> CASE WHEN acc.pos <= length(__w)
         |    THEN named_struct(
         |      'pos', acc.pos + element_at(__steps, acc.pos).__len,
         |      'used', array_append(acc.used, element_at(__steps, acc.pos).__piece))
         |    ELSE acc END).used""".stripMargin).as("__used"))
  }

  /** Occurrence-weighted usage of each vocab piece under the greedy
    * segmentation: (piece, usage). Pieces never used do not appear.
    */
  private def munchUsage(segments: DataFrame): DataFrame =
    segments.select(explode(col("__used")).as("piece"), col("__cnt"))
      .groupBy(col("piece")).agg(sum(col("__cnt")).as("usage"))

  /** Train the unigram vocabulary. Candidates: all substrings of length
    * 2..`maxPieceLen` of in-bound words, top `candK` by occurrence
    * weight (ties: piece asc), plus EVERY single character (never
    * pruned). Then one segment+prune round per entry of `keepKs`: after
    * round r only the `keepKs(r)` highest-usage multi-char pieces
    * survive. A final segmentation with the surviving vocabulary
    * produces the reported usage.
    *
    * Output: (piece, piece_len, usage, vocab_rank) — ranked by (usage
    * desc, piece asc) across the final vocabulary; chars with zero usage
    * keep usage 0 (coverage floor).
    */
  def unigramTrain(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
                   candK: Int = 48, keepKs: Seq[Int] = Seq(32, 24),
                   maxWordLen: Int = 32): DataFrame = {
    require(maxPieceLen >= 2, "maxPieceLen must be >= 2")
    require(keepKs.nonEmpty && keepKs.forall(_ > 0), "keepKs must be positive")
    val words = unigramWords(df, textCol, maxWordLen)
    val chars = words
      .select(explode(expr(
        "transform(sequence(1, length(__w)), p -> substr(__w, p, 1))")).as("piece"),
        col("__cnt"))
      .groupBy(col("piece")).agg(sum(col("__cnt")).as("w"))
      .select(col("piece"))
    val subs = words
      .select(explode(expr(
        s"""filter(flatten(transform(sequence(1, length(__w)),
           |  p -> transform(sequence(2, $maxPieceLen),
           |    l -> CASE WHEN p + l - 1 <= length(__w)
           |         THEN substr(__w, p, l) END))),
           |  x -> x IS NOT NULL)""".stripMargin)).as("piece"), col("__cnt"))
      .groupBy(col("piece")).agg(sum(col("__cnt")).as("w"))
      .orderBy(col("w").desc, col("piece")).limit(candK)
      .select(col("piece"))
    var vocab = chars.unionByName(subs)
    for (keepK <- keepKs) {
      val usage = munchUsage(munchSegments(words, vocab, maxPieceLen, maxWordLen))
      val keptMulti = usage.filter(length(col("piece")) >= 2)
        .orderBy(col("usage").desc, col("piece")).limit(keepK)
        .select(col("piece"))
      vocab = chars.unionByName(keptMulti)
    }
    val finalUsage = munchUsage(munchSegments(words, vocab, maxPieceLen, maxWordLen))
    vocab.join(broadcast(finalUsage), Seq("piece"), "left")
      .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
        coalesce(col("usage"), lit(0L)).as("usage"))
      .withColumn("vocab_rank", row_number().over(
        Window.orderBy(col("usage").desc, col("piece"))).cast("long"))
  }

  /** Per-group encode stats under a frozen unigram vocabulary (the
    * [[bpeFertility]] shape for the unigram model): greedy maximal-munch
    * units per word, occurrence-weighted per `groupCol`. Output:
    * (groupCol, n_words, n_char_units, n_units, fertility_milli,
    * chars_per_unit_milli).
    */
  def unigramFertility(df: DataFrame, groupCol: String, textCol: String,
                       vocab: DataFrame, maxPieceLen: Int = 4,
                       maxWordLen: Int = 32): DataFrame = {
    val words = df
      .select(col(groupCol), explode(TextDedup.tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) <= maxWordLen)
      .groupBy(col(groupCol), col("__w")).agg(count(lit(1)).as("__cnt"))
    // segment DISTINCT words once, then re-attach per-group counts
    val segs = munchSegments(
        words.groupBy(col("__w")).agg(sum(col("__cnt")).as("__cnt")),
        vocab, maxPieceLen, maxWordLen)
      .select(col("__w"), size(col("__used")).cast("long").as("__units"))
    words.join(segs, Seq("__w"))
      .groupBy(col(groupCol))
      .agg(sum(col("__cnt")).as("n_words"),
        sum(length(col("__w")) * col("__cnt")).as("n_char_units"),
        sum(col("__units") * col("__cnt")).as("n_units"))
      .select(col(groupCol), col("n_words"), col("n_char_units"), col("n_units"),
        expr("n_units * 1000 div n_words").as("fertility_milli"),
        expr("n_char_units * 1000 div n_units").as("chars_per_unit_milli"))
  }

  /** Marker-stopword language-ID heuristic: count hits per language's
    * marker set, predict the argmax (ties and zero-hits fall back to "und").
    * A real system would use char-n-gram profiles; the *shape* (per-language
    * conditional counts + argmax, no shuffle) is what matters at scale.
    */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "die", "und"),
      "fr" -> Seq("le", "la", "et"),
      "es" -> Seq("el", "los", "y")
    )
    val toks = TextDedup.tokens(col(textCol))
    val hitCols = markers.map { case (lang, ms) =>
      lang -> size(filter(toks, t => t.isin(ms.map(lit): _*))).cast("long")
    }
    // argmax with deterministic order: first language with the max count,
    // only if at least one marker hit
    val maxHits = hitCols.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = hitCols.foldRight(lit("und"): Column) { case ((lang, c), acc) =>
      when(c === maxHits && maxHits > 0, lit(lang)).otherwise(acc)
    }
    df.select(col(idCol), pred.as("lang_pred"))
  }

  /** Byte-pair merge statistics — the counting step of BPE tokenizer
    * training (Sennrich et al., "Neural Machine Translation of Rare Words
    * with Subword Units", ACL 2016): count adjacent symbol pairs inside
    * words across the corpus and rank the top merge candidates. Symbols
    * here are single characters, i.e. the FIRST merge round; iterating
    * (merge the winner, re-count) is the full trainer, and every round is
    * this same job shape.
    *
    * Shape at scale: explode words → explode adjacent char-pair positions
    * (a per-word projection, same trick as [[TextDedup.winnowFingerprints]])
    * → one partial+final hash aggregate on the pair. The ranked output is
    * bounded by the SYMBOL-PAIR space (alphabet², thousands of rows at
    * most — corpus-size-independent), so the final top-k sort is a
    * TakeOrdered over an already-tiny frame, never a corpus sort.
    *
    * Output: (pair, n, rnk), rnk ≤ k, ranked by n desc then pair asc.
    */
  def bpePairStats(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val words  = df.select(explode(TextDedup.tokens(col(textCol))).as("__w"))
    val maxPos = length(col("__w")) - 1
    val posSeq = when(maxPos < 1, array().cast("array<int>"))
      .otherwise(sequence(lit(1), maxPos))
    val counts = words
      .select(col("__w"), explode(posSeq).as("__i"))
      .select(col("__w").substr(col("__i"), lit(2)).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("pair")))
        .cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Per-document bigram-LM fluency: score every word bigram occurrence by
    * the corpus-trained conditional probability `P(w2 | w1)` and report the
    * document mean. The self-supervised fluency filter — CCNet (Wenzek et
    * al. 2020) ranks documents by a KenLM n-gram perplexity; this is the
    * same signal with the LM trained ON the corpus itself, in the repo's
    * exact-integer basis (`p_permille = c(w1,w2) * 1000 div c(w1 as
    * prefix)`, so every engine ranks identically — a float log-prob
    * differs in the last ulp across libm implementations). Gibberish and
    * shuffled-token documents score low; template-heavy text scores high.
    *
    * Output: `(idCol, n_bigrams, sum_p_permille, fluency_permille)` with
    * `fluency_permille = sum_p_permille div n_bigrams` (the mean
    * conditional probability). Documents with < 2 tokens have no bigrams
    * and are absent.
    *
    * Plan: two tokenize+shingle scans — one feeding the model aggregate,
    * one feeding the scoring pass (the detail-join-aggregate shape is
    * inherently two passes over the text; persisting the corpus-sized
    * occurrence frame to save the second would trade bounded memory for
    * one scan, the wrong trade at 100 TB). Model = ONE bigram-count
    * hash-aggregate; the prefix counts derive from it by a vocab-sized
    * roll-up (each bigram occurrence contributes exactly one prefix
    * occurrence), so no second corpus pass. Scoring pre-collapses the
    * occurrence stream to `(doc, bigram, n_occ)` BEFORE the model join —
    * on a hot-bigram corpus the join input shrinks from occurrences to
    * distinct per-doc bigrams, and the model side is one row per distinct
    * bigram, so a corpus-wide hot bigram is an AQE skew split, never a
    * hot reducer. Doc-keyed weighted mean at the end. No UDFs, no
    * windows, no floats.
    */
  /** The trained bigram model [[bigramFluency]] scores against, as a
    * reusable frame `(bigram, p_permille)` — also the static side of the
    * streaming twin ([[graft.streaming.StreamPipelines]]), where a model
    * trained on yesterday's corpus scores today's ingest.
    */
  def bigramModel(df: DataFrame, textCol: String): DataFrame = {
    val bigramC = df
      .select(explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("__c12"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
    // prefix counts roll up from the bigram aggregate (vocab-sized, not a
    // second corpus scan): every bigram occurrence is one prefix occurrence
    val prefixC = bigramC.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    bigramC
      .join(prefixC, "__w1")
      .select(col("bigram"), expr("__c12 * 1000 div __c1").as("p_permille"))
  }

  /** Corpus collocations by pointwise mutual information (Church & Hanks
    * 1990): rank word bigrams by how much more often they co-occur than
    * their unigram frequencies predict. Scored in the repo's exact-integer
    * basis — `pmi_bp = (n_pair · N · 10000) div (n_w1 · n_w2)`, the
    * linear-space PMI ratio in bp, monotone in log PMI, so every engine
    * ranks identically where float log-probs differ in the last ulp.
    * `minCount` drops the unstable low-count tail (the classic PMI
    * pathology: hapax pairs score highest).
    *
    * Plan: one bigram hash-agg + one unigram hash-agg (both map-side
    * combinable — a corpus-hot token collapses inside each task);
    * marginals attach by two vocabulary-keyed shuffle joins (vocab-sized
    * inputs, never corpus-sized); the token total N rides as a broadcast
    * 1-row frame; the final top-k is TakeOrderedAndProject. At web scale
    * the bp product `n_pair·N·10⁴` outgrows a long — drop the 10⁴ basis
    * or pre-divide by gcd there; the shapes are unchanged.
    *
    * Output: (bigram, n_pair, n_w1, n_w2, pmi_bp), top `k` by
    * (pmi_bp desc, bigram).
    */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    val uni = df.select(explode(TextDedup.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val total = uni.agg(sum(col("__c")).as("__n"))
    val bi = df
      .select(explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
    bi
      .join(uni.select(col("__w").as("__w1"), col("__c").as("n_w1")), "__w1")
      .join(uni.select(col("__w").as("__w2"), col("__c").as("n_w2")), "__w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi_bp", expr("(n_pair * __n * 10000L) div (n_w1 * n_w2)"))
      .select(col("bigram"), col("n_pair"), col("n_w1"), col("n_w2"), col("pmi_bp"))
      .orderBy(col("pmi_bp").desc, col("bigram"))
      .limit(k)
  }

  /** Windowed co-occurrence counts — the GloVe/word2vec data-prep matrix
    * (Pennington et al. 2014): unordered token pairs within `window`
    * positions, distance-weighted `1000/d` permille (GloVe's 1/d credit),
    * top `k` by summed weight. Where [[pmiCollocations]] ranks ADJACENT
    * pairs by surprise, this accumulates the wider context counts an
    * embedding trainer consumes.
    *
    * Plan: one tier per distance (pure projection — pairs come off the
    * token array positionally, never a self-join), one (w1, w2) hash-agg
    * over the union, TakeOrdered top-k. A corpus-hot pair collapses
    * map-side.
    *
    * Output: (w1 ≤ w2, n_cooc, weight_permille), top k by
    * (weight desc, w1, w2).
    */
  def cooccurrenceTop(df: DataFrame, textCol: String,
                      window: Int, k: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val tiers = (1 to window).map { d =>
      val maxPos = size(col("__w")) - d
      val posSeq = when(maxPos < 1, array().cast("array<int>"))
        .otherwise(sequence(lit(1), maxPos))
      df.select(TextDedup.tokens(col(textCol)).as("__w"))
        .select(explode(posSeq).as("__i"), col("__w"))
        .select(element_at(col("__w"), col("__i")).as("__x"),
          element_at(col("__w"), col("__i") + d).as("__y"))
        .select(least(col("__x"), col("__y")).as("w1"),
          greatest(col("__x"), col("__y")).as("w2"),
          lit(1000L / d).as("__wt"))
    }
    tiers.reduce(_ unionByName _)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_cooc"), sum(col("__wt")).as("weight_permille"))
      .orderBy(col("weight_permille").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Token burstiness (Church & Gale 1995): for the corpus's top-`k`
    * tokens by total occurrences, the mean within-document frequency
    * given presence — `burst_permille = total·1000 div n_docs_containing`.
    * Function words spread thin (burstiness ≈ 1000·tf_mean ≈ low);
    * topical/template tokens clump (high) — the signal behind
    * document-frequency-capped dedup and stopword induction.
    *
    * Plan: two chained hash-aggs ((token, doc) → token), TakeOrdered
    * top-k. No joins.
    *
    * Output: (token, n_docs, total_occ, burst_permille).
    */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame =
    df.select(col(idCol), explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("total_occ"))
      .withColumn("burst_permille", expr("(total_occ * 1000L) div n_docs"))
      .orderBy(col("total_occ").desc, col("token"))
      .limit(k)

  /** Unigram token model `(token, q_permille)` — the backoff distribution
    * [[interpolatedFluency]] smooths with. One exploded-token hash-agg;
    * the corpus total rides a broadcast 1-row frame.
    */
  def unigramModel(df: DataFrame, textCol: String): DataFrame = {
    val c = df.select(explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
    c.crossJoin(broadcast(c.agg(sum(col("__c")).as("__n"))))
      .select(col("token"), expr("__c * 1000 div __n").as("q_permille"))
  }

  /** Held-out interpolated bigram scoring — Jelinek–Mercer smoothing,
    * `ip = (λ·P(w2|w1) + (1000−λ)·P(w2)) div 1000` in exact permille: the
    * [[bigramFluency]] signal made honest for UNSEEN text, where a model
    * trained on one split scores another and raw conditional probability
    * would zero out every novel bigram (the backoff is what CCNet's KenLM
    * gets from Kneser-Ney; this is the deterministic integer analogue).
    * Bigrams and suffix tokens absent from the model contribute their
    * component as 0.
    *
    * Plan: occurrences pre-collapse to (doc, bigram, n_occ) before two
    * vocabulary-keyed LEFT joins (bigram model, unigram backoff); the
    * doc-keyed weighted mean ends the chain. Same shapes as
    * [[bigramFluency]], one extra bounded join.
    *
    * Output: (idCol, n_bigrams, interp_permille).
    */
  def interpolatedFluency(test: DataFrame, bigramM: DataFrame, unigramM: DataFrame,
                          idCol: String, textCol: String,
                          lambdaPermille: Long): DataFrame = {
    require(lambdaPermille >= 0L && lambdaPermille <= 1000L, "λ must be in [0, 1000]")
    test
      .select(col(idCol),
        explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("__n_occ"))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
      .join(bigramM.select(col("bigram"), col("p_permille")), Seq("bigram"), "left")
      .join(unigramM.select(col("token").as("__w2"), col("q_permille")), Seq("__w2"), "left")
      .withColumn("__ip", expr(
        s"($lambdaPermille * coalesce(p_permille, 0L) + " +
        s"${1000L - lambdaPermille} * coalesce(q_permille, 0L)) div 1000L"))
      .groupBy(col(idCol))
      .agg(sum(col("__n_occ")).as("n_bigrams"),
        sum(col("__n_occ") * col("__ip")).as("__sum_ip"))
      .withColumn("interp_permille", expr("__sum_ip div n_bigrams"))
      .drop("__sum_ip")
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * Chen & Goodman 1998 interpolated form) — the smoothing KenLM
    * actually ships, beside [[interpolatedFluency]]'s Jelinek–Mercer
    * stand-in. Absolute discount `dMilli`/1000 off every seen bigram;
    * the freed mass re-enters via the CONTINUATION distribution
    * (how many distinct contexts a word follows — the "San Francisco"
    * correction: "Francisco" is frequent but only ever follows "San",
    * so its continuation probability is tiny):
    *
    *   P(w|u) = max(c(u,w)−D, 0)/c(u) + D·N1+(u·)/c(u) · Pcont(w)
    *   Pcont(w) = N1+(·w) / N1+(··)
    *
    * all in exact integer micro-units with floor division. Test bigrams
    * with an UNSEEN context u back off to Pcont(w) alone; unseen w
    * contributes 0 — every boundary decided identically by both engines.
    *
    * Scale shape: model statistics are three chained hash-aggs off one
    * bigram frame (bigram counts → context totals / fan-out, →
    * continuation counts) plus a broadcast 1-row type total; test
    * occurrences pre-collapse to (doc, bigram, n_occ) before three
    * vocabulary-keyed LEFT joins; the doc-keyed weighted mean ends the
    * chain — [[interpolatedFluency]]'s shapes, one extra bounded join.
    *
    * Output: (idCol, n_bigrams, kn_micro_mean).
    */
  def kneserNeyFluency(train: DataFrame, test: DataFrame,
                       idCol: String, textCol: String,
                       dMilli: Long): DataFrame = {
    require(dMilli > 0L && dMilli < 1000L, "discount must be in (0, 1000) milli")
    val trainBi = train
      .select(explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
    val biCounts = trainBi.groupBy(col("__w1"), col("__w2"))
      .agg(count(lit(1)).as("c_uw"))
    val uStats = biCounts.groupBy(col("__w1"))
      .agg(sum(col("c_uw")).as("c_u"), count(lit(1)).as("n1f"))
    val contW = biCounts.groupBy(col("__w2")).agg(count(lit(1)).as("n1b"))
    val total = biCounts.agg(count(lit(1)).as("n1tot"))
    test
      .select(col(idCol),
        explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("__n_occ"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
      .join(biCounts, Seq("__w1", "__w2"), "left")
      .join(uStats, Seq("__w1"), "left")
      .join(contW, Seq("__w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("__pcont", expr("coalesce((n1b * 1000000L) div n1tot, 0L)"))
      .withColumn("__kn", expr(
        s"""CASE WHEN c_u IS NULL THEN __pcont
           ELSE coalesce((greatest(c_uw * 1000L - $dMilli, 0L) * 1000L) div c_u, 0L)
             + ($dMilli * n1f * __pcont) div (1000L * c_u) END"""))
      .groupBy(col(idCol))
      .agg(sum(col("__n_occ")).as("n_bigrams"),
        sum(col("__n_occ") * col("__kn")).as("__s"))
      .withColumn("kn_micro_mean", expr("__s div n_bigrams"))
      .drop("__s")
  }

  def bigramFluency(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("__n_occ"))
      .join(bigramModel(df, textCol), "bigram")
      .groupBy(col(idCol))
      .agg(sum(col("__n_occ")).as("n_bigrams"),
        sum(col("__n_occ") * col("p_permille")).as("sum_p_permille"))
      .withColumn("fluency_permille", expr("sum_p_permille div n_bigrams"))

  /** CCNet-style perplexity buckets (Wenzek et al. 2020 §4.3): score every
    * document with the corpus-trained bigram LM ([[bigramFluency]], higher
    * = more fluent = lower perplexity) and split each source into
    * head / middle / tail thirds by score. CCNet sorts per language and
    * cuts at percentiles; the scale-safe formulation here buckets by SCORE
    * CUTOFF, not by rank: the per-(source, score) histogram is bounded at
    * ≤ 1001 rows per source (scores are permille integers), so the
    * cumulative window runs over the HISTOGRAM — a corpus-size-independent
    * frame — never over the documents. Docs sharing a score share a bucket
    * (the percentile approximation CCNet's value-cutoff variant makes);
    * docs with no bigrams (< 2 tokens) score 0.
    *
    * Output: (idCol, sourceCol, fluency_permille, bucket).
    */
  def perplexityBuckets(df: DataFrame, idCol: String, sourceCol: String,
                        textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val scored = df.select(col(idCol), col(sourceCol))
      .join(bigramFluency(df, idCol, textCol).select(col(idCol), col("fluency_permille")),
        Seq(idCol), "left")
      .withColumn("fluency_permille", coalesce(col("fluency_permille"), lit(0L)))
    val wCum = W.partitionBy(col(sourceCol)).orderBy(col("fluency_permille").desc)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cuts = scored.groupBy(col(sourceCol), col("fluency_permille"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__cum_before", sum(col("__n")).over(wCum) - col("__n"))
      .withColumn("__total", sum(col("__n")).over(W.partitionBy(col(sourceCol))))
      .select(col(sourceCol), col("fluency_permille"),
        when(col("__cum_before") * 3 < col("__total"), "head")
          .when(col("__cum_before") * 3 < col("__total") * 2, "middle")
          .otherwise("tail").as("bucket"))
    scored.join(cuts, Seq(sourceCol, "fluency_permille"))
      .select(col(idCol), col(sourceCol), col("fluency_permille"), col("bucket"))
  }

  /** The Gopher quality-rule bundle (Rae et al. 2021 §A.1.1): the
    * per-document heuristic signals MassiveText filters on, as exact
    * integers, plus the combined pass flag. Signals: token count, mean
    * word length (centichars), share of tokens containing a non-
    * alphanumeric character, count of DISTINCT stopwords present (Gopher
    * requires ≥ 2 of its 8; the list is a parameter because it is
    * language-specific), and the mass of the most frequent 2-gram
    * (permille of all 2-gram occurrences — the top repetition rule).
    *
    * Plan: everything except the top-2-gram is a pure codegen projection
    * over the token array; the top-2-gram is two doc-keyed hash
    * aggregates (per-(doc, bigram) count, then per-doc max + total) — no
    * windows, no joins wider than the doc key.
    */
  def gopherSignals(df: DataFrame, idCol: String, textCol: String,
                    stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "that"),
                    minTokens: Long = 20L,
                    meanWordLenRange: (Long, Long) = (100L, 1000L),
                    maxSymbolPermille: Long = 100L,
                    minStopTypes: Long = 2L,
                    maxTop2gramPermille: Long = 200L): DataFrame = {
    val base = df
      .select(col(idCol), TextDedup.tokens(col(textCol)).as("__w"))
      .withColumn("n_tokens", size(col("__w")).cast("long"))
      .withColumn("__chars", aggregate(
        transform(col("__w"), t => length(t).cast("long")), lit(0L), _ + _))
      .withColumn("mean_word_len_c", when(col("n_tokens") > 0,
        expr("__chars * 100 div n_tokens")).otherwise(0L))
      .withColumn("__nsym",
        size(filter(col("__w"), t => t.rlike("[^A-Za-z0-9]"))).cast("long"))
      .withColumn("symbol_permille", when(col("n_tokens") > 0,
        expr("__nsym * 1000 div n_tokens")).otherwise(0L))
      .withColumn("n_stop_types",
        size(array_intersect(col("__w"),
          array(stopwords.map(lit): _*))).cast("long"))
    val top2 = df
      .select(col(idCol),
        explode(TextDedup.wordShingles(TextDedup.tokens(col(textCol)), 2)).as("__bg"))
      .groupBy(col(idCol), col("__bg")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(max(col("__c")).as("__maxc"), sum(col("__c")).as("__nbg"))
      .select(col(idCol), expr("__maxc * 1000 div __nbg").as("top2gram_permille"))
    base.join(top2, Seq(idCol), "left")
      .withColumn("top2gram_permille", coalesce(col("top2gram_permille"), lit(0L)))
      .select(col(idCol), col("n_tokens"), col("mean_word_len_c"),
        col("symbol_permille"), col("n_stop_types"), col("top2gram_permille"),
        (col("n_tokens") >= minTokens &&
          col("mean_word_len_c") >= meanWordLenRange._1 &&
          col("mean_word_len_c") <= meanWordLenRange._2 &&
          col("symbol_permille") <= maxSymbolPermille &&
          col("n_stop_types") >= minStopTypes &&
          col("top2gram_permille") <= maxTop2gramPermille).as("gopher_pass"))
  }

  /** Token frequency spectrum (count of counts): for each occurrence count
    * `n_occurrences`, how many distinct token types occur exactly that many
    * times corpus-wide. The Zipf/Heaps audit run before tokenizer training —
    * a healthy natural corpus shows the ~1/k² spectrum (Zipf's law implies
    * hapax ≈ half the vocabulary); template-flooded or deduplicated-to-death
    * corpora bend it, and the hapax mass decides merge-table and vocab-size
    * budgets (Sennrich et al. 2016 §3 motivates BPE by exactly this tail).
    *
    * Output: `(n_occurrences, n_types)` — one row per distinct occurrence
    * count (row count ≤ distinct occurrence VALUES, which grows like the
    * square root of the max count, not like the vocabulary).
    *
    * Plan: explode → per-token partial+final count → count-of-counts
    * partial+final count. Two map-side-combinable hash-aggregates; the
    * corpus-wide hot token is one row after the first aggregate.
    */
  /** Count-Min sketch counter grid over the corpus token stream (Cormode &
    * Muthukrishnan 2005): `depth` seeded hash rows × `width` buckets, each
    * cell the total count of tokens hashing there. The grid is the
    * BOUNDED-STATE frequency summary — depth×width cells regardless of
    * vocabulary size — and it merges by cell-wise addition (here: the
    * partial+final hash aggregate IS the merge), the property that lets
    * per-executor partials combine exactly like per-day grids in an
    * incremental pipeline. Hashing is seeded md5 (the minhash convention),
    * so the grid — and therefore every estimate — is deterministic and
    * replayable in any engine.
    *
    * Output: (seed, bucket, cnt), ≤ depth·width rows.
    */
  /** The grid-cell hash shared by every CMS surface (batch counters,
    * point estimates, the streaming telemetry): bucket of `tok` under
    * `seed` — seeded md5, the minhash convention. Grid-cell identity is
    * DEFINED by this expression; batch/stream mergeability and estimate
    * correctness depend on all call sites using it.
    */
  private[graft] def cmsBucket(seed: Column, tok: Column, width: Int): Column =
    pmod(Sampling.hashBucket16(concat(seed.cast("string"), lit("|"), tok)),
      lit(width.toLong))

  /** Feature-hashing vectorizer (the "hashing trick", Weinberger et al.
    * 2009): each document becomes a `dims`-dimensional signed-count
    * vector with NO vocabulary — token t adds sign(t) ∈ {±1} to component
    * h(t) mod dims. The unsupervised-embedding stand-in when no model
    * embedding exists: collisions cancel in expectation thanks to the
    * sign hash, and the output feeds the vector tier (cosine near-dup,
    * k-means, kNN) directly.
    *
    * Scale shape: one exploded-token scan into one (doc, dim) hash-agg —
    * map-side combinable, no vocabulary frame, no join, no window. Output
    * is sparse rows (doc, dim, weight); components no token hashed into
    * are absent (implicitly 0).
    */
  def featureHashing(df: DataFrame, idCol: String, textCol: String,
                     dims: Int): DataFrame = {
    require(dims > 0, "dims must be positive")
    df.select(col(idCol), explode(TextDedup.tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        pmod(Sampling.hashBucket16(col("__t")), lit(dims.toLong)).as("dim"),
        when(pmod(Sampling.hashBucket16(concat(lit("sign|"), col("__t"))), lit(2L)) === 0L,
          1L).otherwise(-1L).as("__sg"))
      .groupBy(col(idCol), col("dim"))
      .agg(sum(col("__sg")).as("weight"))
  }

  def cmsCounters(df: DataFrame, textCol: String, depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    df.select(explode(TextDedup.tokens(col(textCol))).as("__tok"))
      .select(col("__tok"), explode(array((0 until depth).map(s => lit(s.toLong)): _*)).as("seed"))
      .select(col("seed"), cmsBucket(col("seed"), col("__tok"), width).as("bucket"))
      .groupBy(col("seed"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the [[cmsCounters]] grid: for each probe token, the
    * minimum over the `depth` rows of its bucket's count — the classic CMS
    * estimate, which can only OVERcount (collisions add, never subtract):
    * `est ≥ true`, with the overshoot bounded by the other tokens' mass
    * landing in the same buckets. The GRID broadcasts — it is ≤
    * depth·width rows by construction, and it must be the build side
    * anyway: a left-outer join (needed so unseen tokens estimate 0, not
    * disappear) can only broadcast-build its right side.
    *
    * Output: (tokenCol, cms_est).
    */
  def cmsEstimate(counters: DataFrame, probes: DataFrame, tokenCol: String,
                  depth: Int, width: Int): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    val pb = probes.select(col(tokenCol))
      .select(col(tokenCol), explode(array((0 until depth).map(s => lit(s.toLong)): _*)).as("seed"))
      .select(col(tokenCol), col("seed"), cmsBucket(col("seed"), col(tokenCol), width).as("bucket"))
    pb.join(broadcast(counters), Seq("seed", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy(col(tokenCol))
      .agg(min(col("cnt")).as("cms_est"))
  }

  def tokenSpectrum(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextDedup.tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("n_occurrences"))
      .groupBy(col("n_occurrences")).agg(count(lit(1)).as("n_types"))

  /** Good-Turing frequency re-estimation (Good 1953; Gale & Sampson 1995,
    * "Good-Turing frequency estimation without tears"; public): from the
    * count-of-counts spectrum, the smoothed count for a frequency r is
    * r* = (r+1)·N_{r+1}/N_r, and the total probability mass reserved for
    * UNSEEN types is P0 = N_1/N. This is the Katz-backoff ingredient: LM
    * smoothing only ever applies it at small r (the spectrum is dense
    * there and noisy above), so the frame is cut at `maxR` rows.
    *
    * Exact integers, replayable bit-for-bit:
    * `r_star_milli = (r+1)·N_{r+1}·1000 div N_r`,
    * `unseen_mass_ppm = N_1·1e6 div N` (constant across rows — the report
    * header riding along).
    *
    * Plan: explode → per-token hash-agg → spectrum hash-agg, both map-side
    * combinable; the frame is vocabulary-sized after the first and
    * |distinct frequencies|-sized (O(√N) by a counting argument: distinct
    * positive counts summing to N) after the second. The r+1 lookup and
    * the one-row totals both attach by broadcast — nothing corpus-sized
    * ever joins or sorts, so the post-aggregation stage costs the same at
    * 100 TB as at 100 MB.
    *
    * Output: (r, n_types, n_types_next, r_star_milli, unseen_mass_ppm)
    * for 1 ≤ r ≤ maxR (only frequencies present in the corpus).
    */
  def goodTuring(df: DataFrame, textCol: String, maxR: Int): DataFrame =
    goodTuringTerms(
      df.select(explode(TextDedup.tokens(col(textCol))).as("__t")), "__t", maxR)

  /** [[goodTuring]] over an arbitrary term frame (one row per occurrence):
    * the smoothing applies to whatever the LM's event space is — words,
    * shingles, merge units — so the spectrum source is a parameter.
    */
  def goodTuringTerms(terms: DataFrame, termCol: String, maxR: Int): DataFrame = {
    require(maxR >= 1, "maxR must be >= 1")
    val spec = terms
      .groupBy(col(termCol)).agg(count(lit(1)).as("n_occurrences"))
      .groupBy(col("n_occurrences")).agg(count(lit(1)).as("n_types"))
    val totals = spec.agg(
      sum(col("n_occurrences") * col("n_types")).as("n_tokens"),
      sum(when(col("n_occurrences") === 1L, col("n_types")).otherwise(0L))
        .as("n_hapax"))
    val cur = spec.filter(col("n_occurrences") <= maxR)
      .select(col("n_occurrences").as("r"), col("n_types"))
    val next = spec.select((col("n_occurrences") - 1L).as("r"),
      col("n_types").as("n_types_next"))
    cur.join(broadcast(next), Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(
        col("r"), col("n_types"),
        coalesce(col("n_types_next"), lit(0L)).as("n_types_next"),
        expr("(r + 1) * coalesce(n_types_next, 0) * 1000 div n_types")
          .as("r_star_milli"),
        expr("n_hapax * 1000000 div n_tokens").as("unseen_mass_ppm"))
  }

  /** Token burstiness audit (Church & Gale 1995 "Poisson mixtures";
    * Katz 1996; public): content words are BURSTY — a document that uses
    * one tends to reuse it — while function words spread uniformly. For
    * every token with document frequency ≥ `minDf`: collection frequency
    * CF, document frequency DF, and the mean within-document repetition
    * `burstiness_milli = CF·1000 div DF`. Read the corners: high-CF,
    * burstiness ≈ 1000 is the stopword list; high-DF with high burstiness
    * flags boilerplate templates repeating inside pages.
    *
    * Returns the top-k by CF (ties broken by token) — a TakeOrdered, not
    * a global sort. Plan: explode → (token, doc) pre-collapse hash-agg
    * (bounds any one doc's contribution to a token at one row before the
    * wider shuffle) → per-token hash-agg (DF = row count, CF = sum) →
    * filter → TakeOrdered(k).
    */
  def burstiness(df: DataFrame, idCol: String, textCol: String,
                 minDf: Long, k: Int): DataFrame = {
    require(k >= 1 && minDf >= 1, "k and minDf must be >= 1")
    df.select(col(idCol).as("__id"),
        explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("__id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("__c")).as("cf"))
      .filter(col("df") >= minDf)
      .select(col("token"), col("df"), col("cf"),
        expr("cf * 1000 div df").as("burstiness_milli"))
      .orderBy(col("cf").desc, col("token"))
      .limit(k)
  }

  /** Corpus keyness by Dunning's log-likelihood ratio (Dunning 1993,
    * "Accurate methods for the statistics of surprise and coincidence";
    * public): for every (source, token), the G² statistic of the 2×2
    * contingency table [token in source | token elsewhere] — the standard
    * corpus-linguistics answer to "which tokens characterize this source",
    * robust at low counts where PMI and chi-square blow up. Emits each
    * source's top-k tokens by G².
    *
    * Exact integers: every x·ln(x) term uses the repo's milli-nat
    * convention `x · round(ln(x)·1000)` (0 at x = 0), so
    * `g2_milli = 2·(Σ cell terms + N·lnN − Σ margin terms)` replays
    * bit-for-bit in any engine with the same rounding.
    *
    * Plan: explode → (source, token) hash-agg; the token marginals attach
    * by a vocabulary-keyed join, the source totals and the 1-row N
    * broadcast, and the per-source top-k window runs on the
    * |sources|×|vocab| post-aggregation frame — the corpus is touched by
    * exactly one scan and one shuffle.
    */
  def keyness(df: DataFrame, sourceCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val xlnx = (c: Column) => when(c <= 0L, lit(0L))
      .otherwise(c * round(log(c.cast("double")) * 1000).cast("long"))
    val ast = df.select(col(sourceCol).as("source"),
        explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("a"))
    val tokTot = ast.groupBy(col("token")).agg(sum(col("a")).as("t"))
    val srcTot = ast.groupBy(col("source")).agg(sum(col("a")).as("s"))
    val total  = ast.agg(sum(col("a")).as("n"))
    val cells = ast
      .join(tokTot, Seq("token"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("b", col("t") - col("a"))
      .withColumn("c", col("s") - col("a"))
      .withColumn("d", col("n") - col("t") - col("s") + col("a"))
      .withColumn("g2_milli", lit(2L) * (
        xlnx(col("a")) + xlnx(col("b")) + xlnx(col("c")) + xlnx(col("d")) +
        xlnx(col("n")) -
        xlnx(col("a") + col("b")) - xlnx(col("c") + col("d")) -
        xlnx(col("a") + col("c")) - xlnx(col("b") + col("d"))))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("g2_milli").desc, col("token"))
    cells.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("source"), col("token"), col("a").as("c_st"),
        col("t").as("c_token"), col("s").as("c_source"), col("g2_milli"))
  }

  /** Per-source lexical diversity: token mass, vocabulary size, hapax count
    * (types occurring exactly once WITHIN the source), and the derived
    * exact-integer ratios `ttr_permille = vocab * 1000 div tokens` and
    * `hapax_permille = hapax * 1000 div vocab`. The per-component corpus
    * health card — a source whose TTR collapses is template spam, one whose
    * hapax share collapses has been over-deduplicated (Rae et al. 2021 §A.2
    * report exactly these per-subset diagnostics for MassiveText).
    *
    * Plan: explode → per-(source, token) partial+final count → per-source
    * partial+final roll-up. Nothing wider than (source, token) shuffles,
    * and a source holding half the corpus still combines map-side.
    */
  def lexicalDiversity(df: DataFrame, sourceCol: String, textCol: String): DataFrame =
    df.select(col(sourceCol), explode(TextDedup.tokens(col(textCol))).as("__t"))
      .groupBy(col(sourceCol), col("__t")).agg(count(lit(1)).as("__n"))
      .groupBy(col(sourceCol))
      .agg(
        sum(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__n") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(sourceCol), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000 div n_tokens").as("ttr_permille"),
        expr("n_hapax * 1000 div n_types").as("hapax_permille"))

  /** Curriculum ordering (Bengio et al. 2009, "Curriculum Learning";
    * public): assign every document a deterministic difficulty score,
    * split each source into `stages` easy→hard tiers, and give each
    * document a replayable position within its (source, stage) — the
    * training loader then consumes stages in order, shuffled within.
    *
    * Difficulty is the exact-integer proxy
    * `difficulty_milli = avg_token_len_milli + ttr_milli`
    * (= `chars·1000 div tokens + distinct_tokens·1000 div tokens`):
    * longer words and higher lexical diversity both read as "harder", and
    * both terms are floor-division BIGINTs an oracle replays bit-for-bit.
    * Stage is `ntile(stages)` over (difficulty, id) WITHIN each source —
    * ANSI ntile, identical in Spark and DuckDB. Position within the
    * stage is the md5-hash shuffle order (the [[graft.ext.Packing]]
    * epoch-shuffle rule), so intra-stage order is decorrelated from
    * difficulty but fully replayable.
    *
    * Output: (id, source, difficulty_milli, stage, pos).
    *
    * Scale shape: one narrow scan computes the score; both windows
    * partition by source (ntile) or (source, stage) (position), so each
    * sort is per-group and spreads across however many sources/stages the
    * corpus has — there is no corpus-global sort. A corpus with ONE giant
    * source would single-task its ntile; shard such a source upstream
    * (stage cuts are per-source by contract, so sharding changes only the
    * grouping grain, not the rule).
    */
  def curriculumOrder(df: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, stages: Int): DataFrame = {
    require(stages > 0, "stages must be positive")
    val toks = TextDedup.tokens(col(textCol))
    val scored = df.select(
      col(idCol), col(sourceCol),
      length(col(textCol)).cast("long").as("__chars"),
      size(toks).cast("long").as("__tok"),
      size(array_distinct(toks)).cast("long").as("__dist"))
      .select(col(idCol), col(sourceCol),
        when(col("__tok") > 0,
          expr("__chars * 1000 div __tok + __dist * 1000 div __tok"))
          .otherwise(0L).as("difficulty_milli"))
    val staged = scored.withColumn("stage",
      ntile(stages).over(Window.partitionBy(col(sourceCol))
        .orderBy(col("difficulty_milli"), col(idCol))).cast("long"))
    staged.withColumn("__h",
      Sampling.hashBucket16(concat(col("stage").cast("string"), lit("|"), col(idCol).cast("string"))))
      .withColumn("pos",
        (row_number().over(Window.partitionBy(col(sourceCol), col("stage"))
          .orderBy(col("__h"), col(idCol))) - 1).cast("long"))
      .select(col(idCol), col(sourceCol), col("difficulty_milli"),
        col("stage"), col("pos"))
  }

  /** Token-distribution drift monitor: per source, the L1 distance (in
    * ppm) between two cohorts' hashed-token distributions — the
    * crawl-drift alarm a pipeline watches across snapshots (a source
    * whose language suddenly shifts — spam takeover, template change,
    * encoding break — moves probability mass between buckets long before
    * any quality rule fires; the same population-stability intuition as
    * PSI, with an L1 body so the arithmetic stays exact integer).
    *
    * Both cohorts' per-bucket shares are parts-per-million with floor
    * division over the [[graft.ext.Sampling.tokenBucket]] hash buckets
    * (the DSIR feature space), so a DuckDB oracle replays the number
    * bit-for-bit. `drift_ppm` ranges 0 (identical distributions) to
    * 2·10^6 (disjoint support).
    *
    * Output per source: (source, n_tokens_a, n_tokens_b, drift_ppm).
    *
    * Scale shape: ONE (source, bucket) hash-aggregate with conditional
    * sums over the exploded token stream (cohort membership rides the
    * row — no join, no pivot), then a per-source roll-up of ≤ `buckets`
    * rows. A source holding half the corpus combines map-side.
    */
  def tokenDrift(df: DataFrame, textCol: String, sourceCol: String,
                 cohortACol: String, buckets: Int = 64): DataFrame = {
    require(buckets > 0 && buckets <= 65536, "buckets must be in [1, 65536]")
    val perBucket = df.select(col(sourceCol), col(cohortACol).as("__a"),
        explode(TextDedup.tokens(col(textCol))).as("__tok"))
      .withColumn("__b", Sampling.tokenBucket(col("__tok"), buckets))
      .groupBy(col(sourceCol), col("__b"))
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    perBucket
      .withColumn("__ta", sum(col("__ca")).over(
        Window.partitionBy(col(sourceCol))))
      .withColumn("__tb", sum(col("__cb")).over(
        Window.partitionBy(col(sourceCol))))
      .select(col(sourceCol), col("__ta"), col("__tb"),
        abs(when(col("__ta") > 0, expr("__ca * 1000000 div __ta")).otherwise(0L) -
            when(col("__tb") > 0, expr("__cb * 1000000 div __tb")).otherwise(0L))
          .as("__d"))
      .groupBy(col(sourceCol))
      .agg(first(col("__ta")).as("n_tokens_a"),
        first(col("__tb")).as("n_tokens_b"),
        sum(col("__d")).as("drift_ppm"))
  }

  /** Blocklist audit — the first-pass safety/NSFW filter every public
    * corpus pipeline runs (C4 removed pages hitting the "List of Dirty,
    * Naughty, Obscene..." wordlist, Raffel et al. 2020 §2.2; public).
    * Matching is exact whole-token membership against a small lowercase
    * wordlist, NOT substring search — substring blocklists famously
    * over-fire ("Scunthorpe problem") and are not reproducible across
    * tokenizers; token identity is.
    *
    * Output per source: (source, n_docs, n_flagged, n_hits,
    * flagged_bp = n_flagged·10000 div n_docs) — the audit a pipeline
    * reads before deciding whether a source's flag rate is noise or a
    * reason to drop the source wholesale.
    *
    * Scale shape: the wordlist rides INSIDE the row expression (an
    * `isin` over a literal list — codegen'd, no join side at all), so
    * this is one narrow scan + one |sources|-row hash-aggregate. A
    * 10k-word production list would become a broadcast-joined lookup
    * instead; the contract (exact token membership) is unchanged.
    */
  /** Named-regex policy flag audit — the generalized license/copyright
    * scan (The Stack / StarCoder filter permissively-licensed code by
    * exactly such marker regexes; Kocetkov et al. 2022, public). Each
    * (name, pattern) flag is evaluated per document in ONE scan (all
    * patterns ride the same projection), then melted to long format so
    * adding a flag never changes the schema.
    *
    * Output per (source, flag): (source, flag, n_docs, n_flagged,
    * n_hits, flagged_bp) — n_docs repeats per flag by design (each flag
    * row is a self-contained audit line).
    *
    * Scale shape: one narrow scan computes every pattern's hit count,
    * an inline explode of a |flags|-element struct array melts them
    * (|flags| is a config constant), and one (source, flag)-keyed
    * partial+final aggregate rolls up — no join side at all.
    */
  def regexFlagStats(df: DataFrame, textCol: String, sourceCol: String,
                     flags: Seq[(String, String)]): DataFrame = {
    require(flags.nonEmpty, "flags must be non-empty")
    val melted = df.select(col(sourceCol), explode(array(flags.map { case (name, pat) =>
      struct(lit(name).as("flag"),
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long").as("hits"))
    }: _*)).as("__f"))
      .select(col(sourceCol), col("__f.flag").as("flag"), col("__f.hits").as("__hits"))
    melted.groupBy(col(sourceCol), col("flag"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("__hits")).as("n_hits"))
      .select(col(sourceCol), col("flag"), col("n_docs"), col("n_flagged"), col("n_hits"),
        expr("n_flagged * 10000 div n_docs").as("flagged_bp"))
  }

  def blocklistStats(df: DataFrame, idCol: String, textCol: String,
                     sourceCol: String, words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist must be non-empty")
    val hits = size(filter(TextDedup.tokens(col(textCol)),
      t => t.isin(words.map(lit): _*))).cast("long")
    df.select(col(sourceCol), hits.as("__hits"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("__hits")).as("n_hits"))
      .select(col(sourceCol), col("n_docs"), col("n_flagged"), col("n_hits"),
        expr("n_flagged * 10000 div n_docs").as("flagged_bp"))
  }

  /** Out-of-vocabulary curve: the share of token OCCURRENCES that fall
    * outside a frequency-ranked vocabulary of size V, for each tier in
    * `tiers` — the table read before fixing a tokenizer's vocab budget
    * (coverage vs size, the Heaps'-law operating curve).
    *
    * Ranking is (corpus frequency desc, token asc) and is computed
    * WITHOUT a global sort: a frequency histogram gets cumulative offsets
    * over its |distinct frequencies|-row spine, and each token ranks
    * within its frequency class by token (per-class windows, parallel) —
    * the q177 decomposition on the vocabulary frame, which is itself the
    * output of one corpus hash-aggregate. The tier roll-up then touches
    * only vocabulary rows, never occurrences.
    *
    * Output: (vocab_size, n_total, n_oov, oov_bp), one row per tier.
    */
  def oovCurve(df: DataFrame, textCol: String, tiers: Seq[Int]): DataFrame = {
    require(tiers.nonEmpty, "tiers must be non-empty")
    val W = org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val freq = df.select(explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
    val hist = freq.groupBy(col("f")).agg(count(lit(1)).as("__nt"))
    val wCum = W.orderBy(col("f").desc).rowsBetween(W.unboundedPreceding, -1)
    val offsets = hist
      .withColumn("__before", coalesce(sum(col("__nt")).over(wCum), lit(0L)))
      .select(col("f"), col("__before"))
    val wIn = W.partitionBy(col("f")).orderBy(col("token"))
    val ranked = freq.join(offsets, Seq("f"))
      .withColumn("rnk", col("__before") + row_number().over(wIn).cast("long"))
    val tierDf = broadcast(tiers.map(_.toLong).toDF("vocab_size"))
    ranked.crossJoin(tierDf)
      .groupBy(col("vocab_size"))
      .agg(sum(col("f")).as("n_total"),
        sum(when(col("rnk") > col("vocab_size"), col("f")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_bp", expr("(n_oov * 10000L) div n_total"))
  }

  /** Leave-one-out source valuation: for each source, the corpus-mean
    * quality metric (type-token ratio in basis points, the [[qualityScore]]
    * `ttr_bp` formula) WITH and WITHOUT that source — the Shapley-style
    * "marginal contribution of a data source" a curation pipeline ranks
    * acquisition/retirement decisions by, computed by GROUP ALGEBRA
    * (total-minus-group), never by rescoring the corpus per source.
    *
    * `delta_bp = overall − leave-one-out`: positive means the source
    * pulls the corpus metric up. One corpus aggregate + a 1-row
    * broadcast; sources = all-but-one corpus (null loo for a single
    * source).
    */
  def looSourceValue(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val toks = TextDedup.tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val ttrBp = when(nTok > 0,
      floor(size(array_distinct(toks)).cast("long") * 10000L / nTok).cast("long"))
      .otherwise(0L)
    val bySrc = df
      .select(col(sourceCol).as("source"), ttrBp.as("__ttr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ttr")).as("__s"))
    val tot = bySrc.agg(sum(col("n_docs")).as("__tot_n"), sum(col("__s")).as("__tot_s"))
    bySrc.crossJoin(broadcast(tot))
      .withColumn("mean_bp", expr("__s div n_docs"))
      .withColumn("overall_bp", expr("__tot_s div __tot_n"))
      .withColumn("loo_bp",
        expr("CASE WHEN __tot_n > n_docs THEN (__tot_s - __s) div (__tot_n - n_docs) END"))
      .withColumn("delta_bp", col("overall_bp") - col("loo_bp"))
      .select(col("source"), col("n_docs"), col("mean_bp"),
        col("overall_bp"), col("loo_bp"), col("delta_bp"))
  }

  /** Zipf's-law fit: OLS regression of ln(frequency) on ln(rank) over the
    * top-`topN` vocabulary — the standard corpus-health check (natural text
    * fits slope ≈ −1; a far-off slope flags boilerplate floods or synthetic
    * spam). Fixed-point house arithmetic: x = round(ln(rank)·1000),
    * y = round(ln(f)·1000) as BIGINT milli-nats, so every OLS sum is exact
    * integer math and `slope_micro = (n·Σxy − Σx·Σy)·10^6 div
    * (n·Σxx − (Σx)²)` replays bit-for-bit (both engines truncate integer
    * division toward zero — verified). R² is computed in doubles FROM the
    * exact integer sums (deterministic inputs → deterministic rounding)
    * and reported in basis points. Magnitudes: topN ≤ 10³ and corpus
    * frequencies ≤ 10¹² keep n·Σxy·10^6 under 2^63.
    *
    * Scale shape: the vocabulary is one corpus hash-aggregate; the
    * top-`topN` cut is a TakeOrdered (no global vocabulary sort), and the
    * rank window + OLS fold run over the bounded topN-row frame.
    *
    * Output: one row — (n_points, slope_micro, intercept_micro, r2_bp).
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val freq = df.select(explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
    val top = freq.orderBy(col("f").desc, col("token")).limit(topN)
    val xy = top
      .withColumn("rnk", row_number().over(
        W.orderBy(col("f").desc, col("token"))).cast("long"))
      .select(
        round(log(col("rnk").cast("double")) * 1000).cast("long").as("x"),
        round(log(col("f").cast("double")) * 1000).cast("long").as("y"))
    xy.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .withColumn("slope_micro", expr("(num * 1000000L) div den"))
      .withColumn("intercept_micro",
        expr("(sy * 1000000L div n - slope_micro * sx div n) div 1000"))
      .select(col("n").as("n_points"), col("slope_micro"),
        col("intercept_micro"),
        round(col("num").cast("double") * col("num").cast("double") * 10000.0
          / (col("den").cast("double")
             * expr("CAST(n * syy - sy * sy AS DOUBLE)")))
          .cast("long").as("r2_bp"))
  }

  /** Heaps'-law vocabulary-growth curve: distinct vocabulary size after the
    * first `cp` documents (in doc-id order), for each checkpoint — the
    * companion audit to [[zipfFit]] (natural text grows V ∝ N^β, β≈0.5;
    * a plateau flags template spam, a straight line flags random noise).
    *
    * Shape: one corpus explode → per-token MIN first-position hash
    * aggregate (the "first appearance" is an agg, not a sort), one
    * per-prefix token-count aggregate, then both roll up against the
    * broadcast checkpoint spine at vocabulary/checkpoint size — the
    * occurrence frame is never windowed or re-sorted.
    *
    * Output: (n_docs, vocab, n_tokens) per checkpoint with docs present.
    */
  def heapsCurve(df: DataFrame, idCol: String, textCol: String,
      checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "checkpoints must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val cps = broadcast(checkpoints.distinct.sorted.toDF("n_docs"))
    val occ = df.select(col(idCol).cast("long").as("__pos"),
      explode(TextDedup.tokens(col(textCol))).as("token"))
    val firstPos = occ.groupBy(col("token")).agg(min(col("__pos")).as("__first"))
    val vocabAt = firstPos.join(cps, col("__first") < col("n_docs"))
      .groupBy(col("n_docs")).agg(count(lit(1)).as("vocab"))
    val perDoc = occ.groupBy(col("__pos")).agg(count(lit(1)).as("__nt"))
    val tokensAt = perDoc.join(cps, col("__pos") < col("n_docs"))
      .groupBy(col("n_docs")).agg(sum(col("__nt")).as("n_tokens"))
    vocabAt.join(tokensAt, Seq("n_docs"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, §3.1 unweighted
    * variant): the word co-occurrence graph — an edge between tokens
    * within `window` positions of each other — ranked by
    * [[Graphs.pageRankInt]], top `k` tokens. The corpus-wide graph (one
    * shared vocabulary graph, not per-document) is the keyphrase-seed
    * formulation; scores are the same exact-integer micro-units as the
    * citation PageRank, so the oracle replays every iteration.
    *
    * Scale shape: co-occurrence pairs come off the token array
    * POSITIONALLY (one projection tier per distance — never a token
    * self-join), collapse to distinct directed edges in one hash-agg, and
    * the iterations inherit [[Graphs.pageRankInt]]'s 2-shuffles-per-round
    * posture. The top-k cut is a TakeOrdered, not a vocabulary sort.
    *
    * Output: (token, rank_mu), top `k` by (rank desc, token).
    */
  def textRankKeywords(df: DataFrame, textCol: String,
                       window: Int, iters: Int, k: Int): DataFrame =
    Graphs.pageRankInt(wordCoocEdges(df, textCol, window), "src", "dst", iters)
      .orderBy(col("rank_mu").desc, col("node"))
      .limit(k)
      .select(col("node").as("token"), col("rank_mu"))

  /** The [[textRankKeywords]] word graph: directed (src, dst) token edges
    * — one row per co-occurrence per direction, NOT yet distinct
    * ([[Graphs.pageRankInt]] normalizes). Exposed so the plan audit can
    * pin the positional-tier construction (never a token self-join).
    */
  def wordCoocEdges(df: DataFrame, textCol: String, window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    // ALL distance tiers come off ONE generator over ONE tokenization:
    // the former per-tier union re-ran the tokenize HOF (and the corpus
    // scan under it) once per distance — union branches share no subtree
    // in Catalyst, so window=2 paid the corpus twice. Pair multiset is
    // identical: (i, j) with 0 < j − i ≤ window, anchored per i.
    val pairs = df.select(TextDedup.tokens(col(textCol)).as("__w"))
      .select(explode(expr(
        s"""CASE WHEN size(__w) >= 2
           |  THEN flatten(transform(sequence(1, size(__w) - 1),
           |    i -> transform(sequence(i + 1, least(i + $window, size(__w))),
           |      j -> named_struct('w1', __w[i-1], 'w2', __w[j-1]))))
           |  ELSE array() END""".stripMargin)).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    // undirected graph: each co-occurrence contributes both directions
    pairs.select(col("w1").as("src"), col("w2").as("dst"))
      .unionByName(pairs.select(col("w2").as("src"), col("w1").as("dst")))
  }

  /** Per-document Shannon entropy of the token distribution, in quantized
    * milli-nats — the classical low-diversity signal quality pipelines
    * threshold on (a near-zero entropy means the document is one token
    * stamped n times: keyword-stuffing, log spam, degenerate templates;
    * see Shannon 1948 for the measure, and e.g. Rae et al. 2021's Gopher
    * rules for the repetition-family filters it generalizes).
    *
    * Engine portability (the [[zipfFit]] convention): each per-count log
    * is quantized to an integer FIRST — lnc_milli = round(1000·ln c) —
    * and all arithmetic after that is exact BIGINT, so DuckDB replays the
    * sum bit-for-bit. H = ln n − (Σ c·ln c)/n becomes
    * `entropy_milli = lnn_milli − (Σ c·lnc_milli) div n`.
    * entropy_ratio_bp divides by the doc's max possible entropy
    * (ln n_distinct), clamped to [0, 10000] against quantization jitter;
    * single-token-type docs report ratio 0 by convention.
    *
    * Scale shape: one explode → (doc, token) partial+final hash-agg →
    * doc-keyed partial+final hash-agg. No join, no window — a hot token
    * collapses map-side inside its document's partition.
    *
    * Output: (idCol, n_tokens, n_distinct, entropy_milli,
    * entropy_ratio_bp), one row per document with ≥ 1 token.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lnMilli = (c: Column) => round(log(c.cast("double")) * 1000).cast("long")
    df.select(col(idCol).as("__id"),
        explode(TextDedup.tokens(col(textCol))).as("__tok"))
      .groupBy(col("__id"), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") * lnMilli(col("__c"))).as("__clc"))
      .withColumn("__lnn", lnMilli(col("n_tokens")))
      .withColumn("entropy_milli",
        greatest(lit(0L), expr("__lnn - (__clc div n_tokens)")))
      .withColumn("__lnv", lnMilli(col("n_distinct")))
      .withColumn("entropy_ratio_bp",
        when(col("n_distinct") > 1,
          least(lit(10000L), expr("entropy_milli * 10000L div __lnv")))
        .otherwise(0L))
      .select(col("__id").as(idCol), col("n_tokens"), col("n_distinct"),
        col("entropy_milli"), col("entropy_ratio_bp"))
  }

  /** Jensen–Shannon divergence between every pair of sources' hashed-token
    * unigram distributions, in quantized micro-nats — the corpus-mixing
    * diagnostic (how far apart two sources' token statistics sit; 0 =
    * identical distributions, ln 2 ≈ 693147 µnats = disjoint supports).
    * Complements [[graft.ext.Decontaminate.sourceOverlap]] (set overlap of
    * shingle digests — "do they share content?") with the distributional
    * question ("do they LOOK alike statistically?"), and [[tokenDrift]]
    * (L1 drift between time cohorts WITHIN a source) with the
    * cross-source axis.
    *
    * JS(p, q) = ½ Σ_b [p_b·ln(2p_b/(p_b+q_b)) + q_b·ln(2q_b/(p_b+q_b))],
    * computed on integer ppm probabilities with each log quantized to
    * milli-nats before the exact-BIGINT sum (the [[zipfFit]] convention),
    * so the oracle replays it bit-for-bit. Zero-probability terms
    * contribute 0 (the measure-theoretic limit).
    *
    * Scale shape: the corpus enters ONE (source, bucket) hash-aggregate
    * (buckets ≤ 65536 — model-sized, not corpus-sized); the pair matrix is
    * a broadcast spine of |sources|²·buckets rows with two broadcast
    * lookup joins — corpus-sized data never reaches a join.
    *
    * Output: (source_a, source_b, n_tokens_a, n_tokens_b, js_micro_nats)
    * for source_a < source_b.
    */
  def sourceDivergence(df: DataFrame, sourceCol: String, textCol: String,
                       buckets: Int = 64): DataFrame = {
    require(buckets > 0 && buckets <= 65536, "buckets must be in [1, 65536]")
    val lnMilli = (c: Column) => round(log(c.cast("double")) * 1000).cast("long")
    val pb = df.select(col(sourceCol).as("__src"),
        explode(TextDedup.tokens(col(textCol))).as("__tok"))
      .withColumn("__b", Sampling.tokenBucket(col("__tok"), buckets))
      .groupBy(col("__src"), col("__b")).agg(count(lit(1)).as("__c"))
    val totals = pb.groupBy(col("__src")).agg(sum(col("__c")).as("__t"))
    val ppm = pb.join(broadcast(totals), "__src")
      .select(col("__src"), col("__b"), expr("__c * 1000000 div __t").as("__p"))
    val spine = broadcast(
      totals.select(col("__src").as("source_a"), col("__t").as("n_tokens_a"))
        .crossJoin(totals.select(col("__src").as("source_b"), col("__t").as("n_tokens_b")))
        .filter(col("source_a") < col("source_b")))
      .crossJoin(broadcast(ppm.select(col("__b")).distinct()))
    val term = (p: Column, q: Column) =>
      when(p > 0L, p * (lnMilli(p * 2L) - lnMilli(p + q))).otherwise(0L)
    spine
      .join(broadcast(ppm.select(col("__src").as("source_a"), col("__b"),
        col("__p").as("__pa"))), Seq("source_a", "__b"), "left")
      .join(broadcast(ppm.select(col("__src").as("source_b"), col("__b"),
        col("__p").as("__pb"))), Seq("source_b", "__b"), "left")
      .withColumn("__pa", coalesce(col("__pa"), lit(0L)))
      .withColumn("__pb", coalesce(col("__pb"), lit(0L)))
      .withColumn("__j", term(col("__pa"), col("__pb")) + term(col("__pb"), col("__pa")))
      .groupBy(col("source_a"), col("source_b"))
      .agg(first(col("n_tokens_a")).as("n_tokens_a"),
        first(col("n_tokens_b")).as("n_tokens_b"),
        expr("sum(__j) div 2000").as("js_micro_nats"))
  }
}
