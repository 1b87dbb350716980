package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Text-analysis + dedup operators over `documents` (SURVEY §2.4) — the
  * training-data-pipeline surface. All built from codegen'd built-ins
  * (regexp_count, higher-order array functions, md5); no UDFs.
  *
  * Portability: md5 is bit-identical in Spark and DuckDB, so even
  * hash-keyed dedup is oracle-checked. Ratios are integer basis points
  * (floor(x*10000/denom)) — no order-dependent float aggregation.
  */
object TextQueries extends QueryModule {

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private def stopListSql = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Word tokens (whitespace split). */
  private def words(text: Column): Column = split(text, "\\s+")

  /** md5 of each word-3gram; the shingle set used by fingerprint/jaccard/
    * minhash. Shuffle-free (per-row map). */
  private def shingles(text: Column): Column = graft.functions.word_shingles(text)

  /** DuckDB twin of [[shingles]] given a `words` list column named `w`. */
  private def shinglesSql(textCol: String): String =
    s"""CASE WHEN len(w) >= 3
        THEN list_transform(range(1, len(w) - 1),
                            i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        ELSE [md5($textCol)] END"""

  /** DuckDB twin of [[graft.functions.word_shingle_keys]] (60-bit longs;
    * raw 3-grams deduped before hashing, exactly like the Spark side). */
  private[queries] def shingleKeysSql(textCol: String): String =
    s"""list_transform(
          list_distinct(CASE WHEN len(w) >= 3
            THEN list_transform(range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [$textCol] END),
          s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))"""

  // ------------------------------------------------------------- tokenizing

  /** Token counting: whitespace tokens, word-regex tokens, and a BPE-ish
    * piece count (letter runs / digit runs / single punctuation). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(words(col("text"))).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9']+")).cast("long").as("n_word_tokens"),
        regexp_count(col("text"), lit("[\\p{L}\\p{N}]+|[^\\s\\p{L}\\p{N}]")).cast("long").as("n_pieces"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  val tokenCountSql: String = """
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\s+')) AS bigint) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9'']+')) AS bigint) AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '[\p{L}\p{N}]+|[^\s\p{L}\p{N}]')) AS bigint) AS n_pieces,
           CAST(length(text) AS bigint) AS n_chars
    FROM documents
    ORDER BY doc_id"""

  /** Token-budget accounting: whitespace-token totals per (source, lang)
    * with each cell's share of the corpus and the running cumulative
    * share in descending-size order — the "what does my mixture look
    * like in tokens" table consulted before setting sampling weights
    * (docs mislead: a source with few, long docs dominates the token
    * budget). Shuffle posture: per-row token count, one shuffle onto the
    * |sources|×|langs| domain with map-side combine; the total is a
    * broadcast single-row crossJoin and the cumulative window runs on
    * the ~100-row aggregate. Ordering ties break on (source, lang) so
    * the cumulative sum is deterministic. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), size(words(col("text"))).cast("long").as("n"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .localCheckpoint() // ~100-row aggregate feeds the total AND the rows
    val w = Window.orderBy(col("n_tokens").desc, col("source"), col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(g.agg(sum(col("n_tokens")).as("total"))))
      // exact integer div, not a double floor — token·10⁴ products lose
      // bp past 2⁵³ as doubles, and the decimal(38,0) intermediate keeps
      // them exact past the ~10¹⁵-token long ceiling too (same recipe as
      // the byte-share reports); `div` on decimals still returns long
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        expr("CAST(n_tokens AS decimal(38,0)) * 10000 div total").as("share_bp"),
        expr("CAST(cum_tokens AS decimal(38,0)) * 10000 div total").as("cum_share_bp"))
      .orderBy(col("n_tokens").desc, col("source"), col("lang"))
  }

  val tokenBudgetSql: String = """
    WITH g AS (
      SELECT source, lang, CAST(count(*) AS bigint) AS n_docs,
             CAST(sum(len(string_split_regex(text, '\s+'))) AS bigint) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           CAST(CAST(n_tokens AS HUGEINT) * 10000 // (SELECT sum(n_tokens) FROM g) AS bigint) AS share_bp,
           CAST(sum(CAST(n_tokens AS HUGEINT)) OVER (ORDER BY n_tokens DESC, source, lang
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                * 10000 // (SELECT sum(n_tokens) FROM g) AS bigint) AS cum_share_bp
    FROM g
    ORDER BY n_tokens DESC, source, lang"""

  /** Context-length histogram: docs and tokens per log₂ whitespace-token
    * bucket with the cumulative doc share — the length-distribution view
    * a pretraining pipeline checks before picking context/packing sizes.
    * Bucket = ⌊log₂ n⌋ via binary-digit count (pure integer → oracle-
    * exact); one shuffle onto a ≤ ~40-bucket domain with map-side
    * combine; the cumulative window runs over that tiny table. */
  def lenHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val h = Tables.documents(spark, sfDir)
      .select(size(words(col("text"))).cast("long").as("n"))
      .select(col("n"), (length(conv(col("n"), 10, 2)) - 1).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cum_docs", sum(col("n_docs")).over(w))
      .crossJoin(broadcast(h.agg(sum(col("n_docs")).as("total"))))
      .select(col("bucket"),
        pow(lit(2), col("bucket")).cast("long").as("lo_tokens"),
        col("n_docs"), col("sum_tokens"),
        floor(col("cum_docs") * 10000.0 / col("total")).cast("long").as("cum_docs_bp"))
      .orderBy(col("bucket"))
  }

  val lenHistogramSql: String = """
    WITH n AS (
      SELECT CAST(len(string_split_regex(text, '\s+')) AS bigint) AS n FROM documents
    ), b AS (
      SELECT n, CAST(length(to_base(n, 2)) - 1 AS bigint) AS bucket FROM n
    ), h AS (
      SELECT bucket, count(*) AS n_docs, CAST(sum(n) AS bigint) AS sum_tokens
      FROM b GROUP BY bucket
    )
    SELECT bucket, CAST(power(2, bucket) AS bigint) AS lo_tokens, n_docs, sum_tokens,
           CAST(floor(sum(n_docs) OVER (ORDER BY bucket) * 10000.0
                / (SELECT sum(n_docs) FROM h)) AS bigint) AS cum_docs_bp
    FROM h
    ORDER BY bucket"""

  /** Fixed-grid width (chars) for the mergeable length-quantile sketch:
    * the estimate's guaranteed error bound is one grid cell. */
  private val QuantileGridW = 256L

  /** Mergeable fixed-grid quantile sketch with a containment certificate —
    * the QUANTILE member of the repo's sketch-algebra family (KMV
    * union/intersect/diff, Count-Min, mergeable top-k): per-source
    * document-length sketches are (bucket → count) grids over
    * `n_chars div W`, and the corpus-level sketch is built by SUMMING the
    * per-source grids — never rescanning raw documents (the mergeability
    * claim, same posture as `q_topk_merge_rollup`). Each level answers
    * p50/p90/p99 as the first grid cell whose cumulative count reaches
    * rank ⌈q·n⌉; the cell provably CONTAINS the exact quantile, and the
    * query emits that guarantee as an oracle-checked column
    * (`ok = exact_q div W = est cell`) next to the exact rank-statistic
    * truth. All rank math is integer (`(q_bp·n + 9999) div 10000`) — no
    * float quantile semantics to diverge between engines. At 100 TB:
    * the sketch side is one map-side-combined groupBy per level over
    * bounded grids (≤ max-len/W cells), merges are count sums, and only
    * the TRUTH side pays a per-level sort — exactly the cost the sketch
    * exists to avoid, kept here as the audit. */
  def lenQuantileRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = QuantileGridW
    // per-source levels are namespaced 'src:<source>' so the 'ALL' rollup
    // sentinel can never collide with a real source literally named ALL
    // (the collision would silently double-count that source's grid in
    // both engines — invisible to the oracle)
    val docs = Tables.documents(spark, sfDir)
      .select(concat(lit("src:"), col("source")).as("source"), col("n_chars"))
    // the per-source sketches are checkpointed: they're the bounded
    // artifact (≤ max-len/W cells per source) every downstream branch —
    // the merge, the cum window, the rank table — reuses, so the corpus
    // is scanned ONCE on the sketch side instead of once per reference
    val perSrc = docs.select(col("source"), expr(s"n_chars div $w").as("bucket"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val merged = perSrc.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .select(lit("ALL").as("source"), col("bucket"), col("cnt"))
    val grids = perSrc.select(col("source"), col("bucket"), col("cnt")).union(merged)
    val cum = grids.withColumn("cum", sum(col("cnt")).over(
      Window.partitionBy(col("source")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ranks = grids.groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      .withColumn("q_bp", explode(array(lit(5000L), lit(9000L), lit(9900L))))
      .withColumn("rk", expr("(q_bp * n + 9999) div 10000"))
    val est = cum.join(broadcast(ranks), Seq("source"))
      .filter(col("cum") >= col("rk"))
      .groupBy(col("source"), col("q_bp"), col("n"))
      .agg(min(col("bucket")).as("est_bucket"))
    // truth side: both levels from ONE scan (explode, not a self-union)
    val lv = docs.select(explode(array(col("source"), lit("ALL"))).as("source"),
      col("n_chars"))
    val ranked = lv.withColumn("rn", row_number().over(
      Window.partitionBy(col("source")).orderBy(col("n_chars"))))
    val exact = ranked.join(
      broadcast(ranks.select(col("source").as("rsource"), col("q_bp"), col("rk"))),
      col("source") === col("rsource") && col("rn") === col("rk"))
      .select(col("source"), col("q_bp"), col("n_chars").as("exact_q"))
    est.join(exact, Seq("source", "q_bp"))
      .select(col("source").as("lvl"), col("q_bp"), col("n"),
        lit(w).as("grid_w"), (col("est_bucket") * w).as("est_lo"),
        col("exact_q"),
        (expr(s"exact_q div $w") === col("est_bucket")).as("ok"))
      .orderBy(col("lvl"), col("q_bp"))
  }

  val lenQuantileRollupSql: String = s"""
    WITH d AS (SELECT 'src:' || source AS source, n_chars FROM documents),
    g AS (
      SELECT source, n_chars // $QuantileGridW AS bucket,
             CAST(count(*) AS bigint) AS cnt
      FROM d GROUP BY source, bucket
    ), grids AS (
      SELECT source, bucket, cnt FROM g
      UNION ALL
      SELECT 'ALL' AS source, bucket, CAST(sum(cnt) AS bigint) AS cnt
      FROM g GROUP BY bucket
    ), ranks AS (
      SELECT source, CAST(q_bp AS bigint) AS q_bp, n, (q_bp * n + 9999) // 10000 AS rk
      FROM (SELECT source, CAST(sum(cnt) AS bigint) AS n FROM grids GROUP BY source)
           CROSS JOIN (SELECT unnest([5000, 9000, 9900]) AS q_bp)
    ), cum AS (
      SELECT source, bucket,
             sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum
      FROM grids
    ), est AS (
      SELECT r.source, r.q_bp, r.n, min(c.bucket) AS est_bucket
      FROM ranks r JOIN cum c ON c.source = r.source AND c.cum >= r.rk
      GROUP BY r.source, r.q_bp, r.n
    ), lv AS (
      SELECT source, n_chars FROM d
      UNION ALL SELECT 'ALL' AS source, n_chars FROM d
    ), ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn
      FROM lv
    ), ex AS (
      SELECT r.source, r.q_bp, k.n_chars AS exact_q
      FROM ranks r JOIN ranked k ON k.source = r.source AND k.rn = r.rk
    )
    SELECT e.source AS lvl, e.q_bp, e.n,
           CAST($QuantileGridW AS bigint) AS grid_w,
           e.est_bucket * $QuantileGridW AS est_lo, x.exact_q,
           x.exact_q // $QuantileGridW = e.est_bucket AS ok
    FROM est e JOIN ex x ON x.source = e.source AND x.q_bp = e.q_bp
    ORDER BY lvl, e.q_bp"""

  private val PrioritySampleK = 100

  /** Shared priority derivation for `t_priority_sample` and its eval —
    * ONE definition in each engine so the eval can never silently price
    * a different sample than the sample query emits. */
  private def withPriority(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), greatest(col("n_chars"), lit(1L)).as("w"))
      .withColumn("h",
        conv(substring(md5(concat(lit("ps_"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("priority", expr("h div w"))

  private val prioritySqlCte = """p AS (
      SELECT doc_id, greatest(n_chars, 1) AS w,
             CAST('0x' || substr(md5('ps_' || CAST(doc_id AS varchar)), 1, 15) AS bigint)
               // greatest(n_chars, 1) AS priority
      FROM documents
    )"""

  /** Deterministic weighted sampling without replacement by PRIORITY
    * (sequential Poisson sampling, Ohlsson 1998; the priority-sampling
    * estimator analysis is Duffield–Lund–Thorup 2007): each document
    * draws priority = u / w where u is a fixed-width uniform derived
    * from md5(doc_id) and w its weight (chars here — any positive
    * per-row weight works), and the sample is the k SMALLEST priorities,
    * giving inclusion probability ≈ proportional to weight in ONE pass
    * — the weighted companion to `t_sample_stratified`'s equal-rate
    * sampling. Everything is integer (60-bit md5 prefix, integer
    * division by the weight, doc_id tie-break), so the DuckDB oracle
    * re-derives the identical sample row-for-row. At 100 TB: the plan is
    * TakeOrdered — a per-partition top-k fold plus a k·partitions driver
    * merge; no global sort, no shuffle of the corpus (PlanGuard-asserted). */
  def prioritySample(spark: SparkSession, sfDir: String): DataFrame =
    withPriority(spark, sfDir)
      .orderBy(col("priority"), col("doc_id"))
      .limit(PrioritySampleK)
      .select(col("doc_id"), col("w"), col("priority"))

  val prioritySampleSql: String = s"""
    WITH $prioritySqlCte
    SELECT doc_id, w, priority FROM p
    ORDER BY priority, doc_id
    LIMIT $PrioritySampleK"""

  /** The priority hash is a 15-hex-char (60-bit) md5 prefix, so the
    * implicit uniform draw lives in [0, 2⁶⁰). */
  private val PriorityHashRange = 1L << 60

  /** Prices the priority sample: the Duffield–Lund–Thorup estimator
    * reconstructs the corpus TOTAL weight from the k-sample alone —
    * with τ = the (k+1)-th smallest priority, Σ max(wᵢ, U div τ) over
    * the sample is unbiased for Σ w (each term is the inverse inclusion
    * probability; when the corpus has ≤ k docs the sample IS the corpus
    * and the plain sum is exact). The measured err_bp is what the
    * estimator costs on this corpus — same eval posture as
    * `d_minhash_recall` / `d_semdedup_eval09`. Deterministic throughout,
    * so the oracle replays τ, the estimate and the error exactly.
    * Long-range note: each term is ≤ U = 2⁶⁰, so the k-term sum only
    * approaches 2⁶³ if τ ≲ k — i.e. the (k+1)-th doc drew u ≤ k·w, a
    * ~2⁻⁴⁰ event per doc; ANSI mode makes that overflow loud, never
    * silently wrong. Truth side (exact Σ w) is one corpus agg. */
  def prioritySampleEval(spark: SparkSession, sfDir: String): DataFrame = {
    val k = PrioritySampleK
    val withP = withPriority(spark, sfDir)
    val top = withP.orderBy(col("priority"), col("doc_id")).limit(k + 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("priority"), col("doc_id"))))
    val tau = top.agg(
      max(when(col("rn") === k + 1, col("priority"))).as("tau"))
    val est = top.filter(col("rn") <= k)
      .crossJoin(broadcast(tau))
      .agg(sum(when(col("tau").isNull, col("w")).otherwise(
        greatest(col("w"), expr(s"$PriorityHashRange div greatest(tau, 1)"))))
        .as("est_w"))
    val exact = withP.agg(count(lit(1)).as("n_docs"), sum(col("w")).as("exact_w"))
    exact.crossJoin(broadcast(est))
      .select(lit(k.toLong).as("k"), col("n_docs"), col("exact_w"), col("est_w"),
        // decimal(38,0): err·10⁴ would pass 2⁶³ on a ~1 PB-char corpus
        expr("CAST(abs(est_w - exact_w) AS decimal(38,0)) * 10000 div exact_w")
          .as("err_bp"))
  }

  val prioritySampleEvalSql: String = s"""
    WITH $prioritySqlCte, top AS (
      SELECT w, priority, row_number() OVER (ORDER BY priority, doc_id) AS rn
      FROM p ORDER BY priority, doc_id LIMIT ${PrioritySampleK + 1}
    ), tau AS (
      SELECT max(CASE WHEN rn = ${PrioritySampleK + 1} THEN priority END) AS tau FROM top
    ), est AS (
      SELECT CAST(sum(CASE WHEN t.tau IS NULL THEN w
                           ELSE greatest(w, $PriorityHashRange // greatest(t.tau, 1)) END)
             AS bigint) AS est_w
      FROM (SELECT w FROM top WHERE rn <= $PrioritySampleK) CROSS JOIN tau t
    ), ex AS (
      SELECT count(*) AS n_docs, CAST(sum(greatest(n_chars, 1)) AS bigint) AS exact_w
      FROM documents
    )
    SELECT CAST($PrioritySampleK AS bigint) AS k, n_docs, exact_w, est_w,
           CAST(CAST(abs(est_w - exact_w) AS HUGEINT) * 10000 // exact_w AS bigint) AS err_bp
    FROM ex CROSS JOIN est"""

  /** Zipf fit is computed over the top 2²⁰ ranks — the statistically
    * meaningful head, and the bound that keeps every least-squares sum
    * far under 2⁶³ at any corpus size. */
  private val ZipfHeadCap = 1048576L

  /** Zipf rank-frequency audit: least-squares slope of ⌊log₂ tf⌋ against
    * ⌊log₂ rank⌋ over the term-frequency head — natural language sits
    * near slope −1 (−10000 bp); a corpus that drifts far off is
    * template-heavy (flat head) or boilerplate-dominated (cliff), so this
    * single number is the cheapest "does this corpus look like language"
    * health check. Integer-exact: both logs are binary-digit counts, the
    * five sums are exact bigints, and only the final slope division is
    * floating (identical IEEE in both engines). Shuffle posture: one
    * term-domain shuffle for tf, then TakeOrdered pulls only the capped
    * head (bounded by [[ZipfHeadCap]], not the corpus) for the
    * single-partition rank window; the fit is a one-row aggregate. */
  def zipf(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(explode(words(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds the uncapped count AND the head fit
    val head = tf.orderBy(col("tf").desc, col("term")).limit(ZipfHeadCap.toInt)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("tf").desc, col("term"))))
      .select(col("tf"),
        (length(conv(col("rank"), 10, 2)) - 1).cast("long").as("x"),
        (length(conv(col("tf"), 10, 2)) - 1).cast("long").as("y"))
    head.agg(count(lit(1)).as("n"), sum(col("tf")).as("head_tf"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        max(col("y")).as("top_log2_tf"))
      .crossJoin(broadcast(tf.agg(count(lit(1)).as("n_terms"))))
      .select(col("n_terms"), col("n").as("n_head"), col("head_tf"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(null).cast("long"))
          .otherwise(floor((col("n") * col("sxy") - col("sx") * col("sy")) * 10000.0
            / (col("n") * col("sxx") - col("sx") * col("sx"))).cast("long"))
          .as("slope_bp"),
        col("top_log2_tf"))
  }

  val zipfSql: String = s"""
    WITH tf AS (
      SELECT term, CAST(count(*) AS bigint) AS tf
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term FROM documents)
      GROUP BY term
    ), head AS (
      SELECT tf,
             CAST(length(to_base(rank, 2)) - 1 AS bigint) AS x,
             CAST(length(to_base(tf, 2)) - 1 AS bigint) AS y
      FROM (SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank FROM tf)
      WHERE rank <= $ZipfHeadCap
    ), s AS (
      SELECT CAST(count(*) AS bigint) AS n, CAST(sum(tf) AS bigint) AS head_tf,
             CAST(sum(x) AS bigint) AS sx, CAST(sum(y) AS bigint) AS sy,
             CAST(sum(x * y) AS bigint) AS sxy, CAST(sum(x * x) AS bigint) AS sxx,
             CAST(max(y) AS bigint) AS top_log2_tf
      FROM head
    )
    SELECT CAST((SELECT count(*) FROM tf) AS bigint) AS n_terms,
           n AS n_head, head_tf,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(floor((n * sxy - sx * sy) * 10000.0
                     / (n * sxx - sx * sx)) AS bigint) END AS slope_bp,
           top_log2_tf
    FROM s"""

  // ---------------------------------------------------------------- quality

  /** The ONE quality heuristic, shared by t_quality_score and
    * t_quality_filter (and mirrored by [[qualityBpSql]]): alpha share
    * weighted 0.6 + stopword share weighted 0.4, in basis points. */
  def qualityBp(text: Column): Column = {
    val len = length(text)
    val nAlpha = regexp_count(text, lit("[a-zA-Z]"))
    val nWs = size(words(text))
    val nStop = size(filter(words(lower(text)), w => w.isInCollection(Stopwords)))
    floor((nAlpha * 10000.0 / len) * 0.6 + (nStop * 10000.0 / nWs) * 0.4)
      .cast("long")
  }

  /** DuckDB twin of [[qualityBp]] over a relation exposing `text`. */
  private[queries] val qualityBpSql: String =
    s"""CAST(floor((len(regexp_extract_all(text, '[a-zA-Z]')) * 10000.0 / length(text)) * 0.6
         + (len(list_filter(string_split_regex(lower(text), '\\s+'),
                            w -> list_contains($stopListSql, w))) * 10000.0
            / len(string_split_regex(text, '\\s+'))) * 0.4) AS bigint)"""

  /** Quality scoring: alpha/punct/stopword ratios in basis points plus a
    * combined heuristic score — per-row map, shuffle-free. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val len = length(col("text"))
    val nAlpha = regexp_count(col("text"), lit("[a-zA-Z]"))
    val nPunct = regexp_count(col("text"), lit("[.,;:!?]"))
    val nWs = size(words(col("text")))
    val nStop = size(filter(words(lower(col("text"))), w => w.isInCollection(Stopwords)))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        floor(nAlpha * 10000.0 / len).cast("long").as("alpha_bp"),
        floor(nPunct * 10000.0 / len).cast("long").as("punct_bp"),
        floor(nStop * 10000.0 / nWs).cast("long").as("stop_bp"),
        qualityBp(col("text")).as("quality_bp"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String = s"""
    SELECT doc_id,
           CAST(floor(n_alpha * 10000.0 / len) AS bigint) AS alpha_bp,
           CAST(floor(n_punct * 10000.0 / len) AS bigint) AS punct_bp,
           CAST(floor(n_stop * 10000.0 / n_ws) AS bigint) AS stop_bp,
           $qualityBpSql AS quality_bp
    FROM (
      SELECT doc_id, text,
             length(text) AS len,
             len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
             len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             len(string_split_regex(text, '\\s+')) AS n_ws,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             w -> list_contains($stopListSql, w))) AS n_stop
      FROM documents
    )
    ORDER BY doc_id"""

  // ---------------------------------------------------------------- lang id

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "las", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** Language ID: stopword-marker scoring per language + CJK character
    * density; argmax with fixed tie-break order (en,de,es,fr,zh). */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = words(lower(col("text")))
    val scores = LangMarkers.map { case (l, ms) =>
      l -> size(filter(toks, w => w.isInCollection(ms))).cast("long")
    }
    val zh = regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long")
    val Seq(en, de, es, fr) = scores.map(_._2)
    val pred = when(zh > en && zh > de && zh > es && zh > fr, "zh")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        en.as("score_en"), de.as("score_de"), es.as("score_es"), fr.as("score_fr"), zh.as("score_zh"),
        pred.as("pred_lang"))
      .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val markerSql = LangMarkers.map { case (l, ms) =>
      val list = ms.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(toks, w -> list_contains($list, w))) AS bigint) AS score_$l"
    }.mkString(",\n             ")
    s"""
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
           CASE WHEN score_zh > score_en AND score_zh > score_de AND score_zh > score_es AND score_zh > score_fr THEN 'zh'
                WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END AS pred_lang,
           CAST(CASE WHEN (CASE WHEN score_zh > score_en AND score_zh > score_de AND score_zh > score_es AND score_zh > score_fr THEN 'zh'
                WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
                WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
                WHEN score_es >= score_fr THEN 'es'
                ELSE 'fr' END) = lang THEN 1 ELSE 0 END AS int) AS is_match
    FROM (
      SELECT doc_id, lang,
             $markerSql,
             CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS bigint) AS score_zh
      FROM (SELECT doc_id, lang, text, string_split_regex(lower(text), '\\s+') AS toks FROM documents)
    )
    ORDER BY doc_id"""
  }

  /** Language-ID evaluation: the confusion matrix of [[langId]]'s
    * prediction against the labeled language, with per-true-language
    * recall in basis points — the eval a pipeline runs before trusting a
    * classifier gate at scale. One small-key shuffle over the per-doc
    * predictions; the confusion table is |langs|² rows. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
    langId(spark, sfDir)
      .select(col("lang"), col("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lang_total", sum(col("n")).over(byLang))
      .select(col("lang"), col("pred_lang"), col("n"),
        expr("10000 * n div lang_total").as("share_bp"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langConfusionSql: String = s"""
    WITH per AS ($langIdSql),
    agg AS (
      SELECT lang, pred_lang, count(*) AS n FROM per GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n,
           (10000 * n // CAST(sum(n) OVER (PARTITION BY lang) AS bigint)) AS share_bp
    FROM agg
    ORDER BY lang, pred_lang"""

  // ------------------------------------------------------------ fingerprint

  /** Document fingerprinting: full-text md5 + min-shingle (the 1-function
    * MinHash used as a cheap near-dup signature). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(col("text")).as("fp_md5"),
        array_min(shingles(col("text"))).as("fp_minshingle"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String = s"""
    SELECT doc_id, md5(text) AS fp_md5,
           list_min(${shinglesSql("text")}) AS fp_minshingle
    FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ORDER BY doc_id"""

  /** Percentile-gated quality filter: drop each language's bottom-quartile
    * documents by quality score — the curation pass that runs after
    * scoring and before mixing. The p25 threshold is the exact discrete
    * percentile (element at rank ceil(0.25·n), same definition as
    * q_percentiles — no interpolation ambiguity across engines); output
    * is the per-language survivor accounting. One shuffle on lang shared
    * by the rank window and the final aggregate. At 100 TB the threshold
    * comes from a sampled/sketched quantile broadcast instead of an exact
    * per-group sort, and the filter itself stays shuffle-free. */
  /** Attaches `thr_bp` — the exact discrete per-`group` percentile of
    * `valueCol` (element at rank ceil(frac·n), the q_percentiles
    * definition) — to every row. The ONE threshold definition shared by
    * t_quality_filter and [[graft.Pipeline]]'s gate. */
  def groupPercentile(df: DataFrame, group: String, valueCol: String,
                      frac: Double): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col(valueCol))
    val wn = Window.partitionBy(col(group))
    df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("thr_bp",
        max(when(col("rn") === ceil(lit(frac) * col("n")).cast("long"),
          col(valueCol))).over(wn))
      .drop("rn", "n")
  }

  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), qualityBp(col("text")).as("q_bp"))
    groupPercentile(scored, "lang", "q_bp", 0.25)
      .groupBy(col("lang"))
      .agg(min(col("thr_bp")).as("thr_bp"),
        count(lit(1)).as("n_docs"),
        sum(when(col("q_bp") >= col("thr_bp"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_bp", expr("n_kept * 10000 DIV n_docs"))
      .orderBy(col("lang"))
  }

  val qualityFilterSql: String = s"""
    SELECT lang, min(thr_bp) AS thr_bp, count(*) AS n_docs,
           CAST(sum(CASE WHEN q_bp >= thr_bp THEN 1 ELSE 0 END) AS bigint) AS n_kept,
           (CAST(sum(CASE WHEN q_bp >= thr_bp THEN 1 ELSE 0 END) AS bigint)
             * 10000) // count(*) AS kept_bp
    FROM (
      SELECT lang, q_bp,
             max(CASE WHEN rn = CAST(ceil(0.25 * n) AS bigint) THEN q_bp END)
               OVER (PARTITION BY lang) AS thr_bp
      FROM (
        SELECT lang, q_bp,
               row_number() OVER (PARTITION BY lang ORDER BY q_bp) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM (
          SELECT doc_id, lang, $qualityBpSql AS q_bp
          FROM documents
        )
      )
    )
    GROUP BY lang
    ORDER BY lang"""

  /** Per-source duplication accounting: how much of each source is exact
    * duplicates — the first number a corpus curator asks for before
    * choosing mix weights ("is this crawl 40 % boilerplate?"). Per source:
    * docs, distinct texts (by md5 — the exact-dedup key), duplicate rows,
    * dup share in basis points, and duplicated bytes (chars beyond each
    * text's first copy). One shuffle on (source, fp) with map-side
    * combine, then a second onto the tiny source domain. */
  def dupRatioBySource(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"), md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("copies"), min(col("n_chars")).as("nc"))
      .groupBy(col("source"))
      .agg(sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum((col("copies") - 1) * col("nc")).as("dup_chars"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dup"),
        expr("(n_docs - n_unique) * 10000 DIV n_docs").as("dup_bp"),
        col("dup_chars"))
      .orderBy(col("source"))

  val dupRatioBySourceSql: String = """
    SELECT source, n_docs, n_unique, n_docs - n_unique AS n_dup,
           ((n_docs - n_unique) * 10000) // n_docs AS dup_bp,
           dup_chars
    FROM (
      SELECT source, CAST(sum(copies) AS bigint) AS n_docs,
             count(*) AS n_unique,
             CAST(sum((copies - 1) * nc) AS bigint) AS dup_chars
      FROM (
        SELECT source, md5(text) AS fp, count(*) AS copies,
               min(n_chars) AS nc
        FROM documents
        GROUP BY source, md5(text)
      )
      GROUP BY source
    )
    ORDER BY source"""

  /** TF-IDF-flavored salient terms: top-5 terms per document ranked by an
    * integer score tf·⌊10^6/df⌋ (pure integer arithmetic → bit-portable;
    * rarer terms score higher). df computed once per term (shuffle on
    * term), then joined back — at 100 TB the df table is Zipf-small and
    * broadcastable. */
  def docTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * floor(lit(1000000) / col("df")).cast("long")).as("score"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("doc_id"), col("rnk"), col("term"))
  }

  val docTermsSql: String = """
    WITH terms AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
    ), idf AS (
      SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
    )
    SELECT doc_id, term, tf, df, score, rnk FROM (
      SELECT doc_id, term, tf, df,
             tf * CAST(floor(1000000 / df) AS bigint) AS score,
             rank() OVER (PARTITION BY doc_id ORDER BY tf * CAST(floor(1000000 / df) AS bigint) DESC, term) AS rnk
      FROM tf JOIN idf USING (term)
    ) WHERE rnk <= 5
    ORDER BY doc_id, rnk, term"""

  /** Term co-occurrence lift: the 50 term pairs most over-represented in
    * the same documents, lift = P(a,b)/(P(a)·P(b)) in bp with document
    * counts as the probability model and a min-support floor of 5 docs —
    * PMI's ratio form, the collocation/association view of the corpus
    * (the text twin of `q_basket_pairs`). Shuffle posture: identical to
    * basket pairs — pairs expand MAP-SIDE from each doc's sorted distinct
    * term array (bounded O(terms/doc²) per row, never a corpus self-join),
    * one shuffle onto the pair domain with partial combine; df counts
    * broadcast into the surviving ≥5-support pairs and top-50 is
    * TakeOrdered. The df product divides as doubles so the arithmetic
    * never overflows at corpus-scale document counts (identical IEEE
    * order in the oracle). */
  def termLift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dt = docs.select(col("doc_id"),
        sort_array(array_distinct(words(lower(col("text"))))).as("ts"))
      .localCheckpoint() // feeds the df counts AND the pair expansion
    // c_ab <= min(c_a, c_b), so sub-support terms can never join a
    // surviving pair — filter BEFORE broadcasting (Heaps-law vocabularies
    // are dominated by rare terms; the unfiltered broadcast is what blows
    // up at corpus scale)
    val df = dt.select(explode(col("ts")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c_a"))
      .filter(col("c_a") >= 5)
    val pairs = dt.select(explode(QueryModule.sortedPairs(col("ts"))).as("p"))
      .groupBy(col("p.a").as("term_a"), col("p.b").as("term_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    pairs
      .join(broadcast(df.select(col("term").as("term_a"), col("c_a"))), "term_a")
      .join(broadcast(df.select(col("term").as("term_b"), col("c_a").as("c_b"))), "term_b")
      .crossJoin(broadcast(dt.agg(count(lit(1)).as("n_docs"))))
      .select(col("term_a"), col("term_b"), col("c_ab"), col("c_a"), col("c_b"),
        floor(col("c_ab") * 10000.0 * col("n_docs")
          / (col("c_a").cast("double") * col("c_b").cast("double")))
          .cast("long").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("term_a"), col("term_b"))
      .limit(50)
  }

  val termLiftSql: String = """
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    ), df AS (
      SELECT term, CAST(count(*) AS bigint) AS c_a FROM dt GROUP BY term
    ), pairs AS (
      SELECT x.term AS term_a, y.term AS term_b, CAST(count(*) AS bigint) AS c_ab
      FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.term < y.term
      GROUP BY 1, 2
      HAVING count(*) >= 5
    )
    SELECT term_a, term_b, c_ab, a.c_a AS c_a, b.c_a AS c_b,
           CAST(floor(c_ab * 10000.0 * (SELECT count(*) FROM documents)
                / (CAST(a.c_a AS double) * CAST(b.c_a AS double))) AS bigint) AS lift_bp
    FROM pairs
    JOIN df a ON a.term = term_a
    JOIN df b ON b.term = term_b
    ORDER BY lift_bp DESC, term_a, term_b
    LIMIT 50"""

  // ------------------------------------------------------------------ dedup

  /** Exact dedup on normalized text (lower, strip non-alnum, collapse ws):
    * canonical = min doc_id per key. One shuffle on the md5 key. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val byKey = Window.partitionBy(col("key"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(norm).as("key"))
      .withColumn("canonical_id", min(col("doc_id")).over(byKey))
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val dedupExactSql: String = """
    SELECT doc_id, key,
           min(doc_id) OVER (PARTITION BY key) AS canonical_id,
           CAST(doc_id <> min(doc_id) OVER (PARTITION BY key) AS int) AS is_dup
    FROM (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS key
      FROM documents
    )
    ORDER BY doc_id"""

  /** N-gram Jaccard near-dup pairs — [[graft.operators.Dedup
    * .ngramJaccardPairs]]: equi-join on shingle (never O(n²)) with the
    * stop-shingle doc-frequency cap that bounds hot-shingle skew; Jaccard
    * in basis points. The oracle applies the identical cap. */
  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Dedup.ngramJaccardPairs(
      Tables.documents(spark, sfDir), minJaccardBp = 100,
      memoTag = Some(sfDir))

  /** Shingle-containment near-dup pairs (r6) — [[graft.operators.Dedup
    * .shingleContainmentPairs]]: the asymmetric overlap C = |A∩B| /
    * min(|A|,|B|) that catches a short doc embedded verbatim in a long one
    * (Jaccard dilutes those below any usable cut). Same df-capped shingle
    * equi-join as the jaccard pair generator; only the normalization
    * differs. 0.80 cut = "at least 80% of the smaller doc's shingles
    * appear in the other". */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Dedup.shingleContainmentPairs(
      Tables.documents(spark, sfDir), minContainBp = 8000,
      memoTag = Some(sfDir))

  val dedupContainmentSql: String = s"""
    WITH sh0 AS (
      SELECT doc_id, unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), counts AS (
      SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
      ) WHERE df <= ${graft.operators.Dedup.DefaultMaxShingleDf}
    ), pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           CAST(floor(n_common * 10000.0 / least(ca.n_sh, cb.n_sh)) AS bigint) AS contain_bp
    FROM pairs
    JOIN counts ca ON doc_a = ca.doc_id
    JOIN counts cb ON doc_b = cb.doc_id
    WHERE floor(n_common * 10000.0 / least(ca.n_sh, cb.n_sh)) >= 8000
    ORDER BY doc_a, doc_b"""

  /** The jaccard-pair oracle at an arbitrary threshold — reused by the
    * minhash-recall eval, which re-derives the exact pair set at 0.5. */
  def ngramJaccardSqlAt(minBp: Long, src: String = "documents"): String = s"""
    WITH sh0 AS (
      SELECT doc_id, unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM $src)
    ), counts AS (
      SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY doc_id
    ), sh AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
      ) WHERE df <= ${graft.operators.Dedup.DefaultMaxShingleDf}
    ), pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(floor(n_common * 10000.0 / (ca.n_sh + cb.n_sh - n_common)) AS bigint) AS jaccard_bp
    FROM pairs
    JOIN counts ca ON doc_a = ca.doc_id
    JOIN counts cb ON doc_b = cb.doc_id
    WHERE floor(n_common * 10000.0 / (ca.n_sh + cb.n_sh - n_common)) >= $minBp
    ORDER BY doc_a, doc_b"""

  val dedupNgramJaccardSql: String = ngramJaccardSqlAt(100)

  /** Near-dup clusters: Jaccard pairs (≥ 0.20) → [[graft.operators.Dedup
    * .connectedComponents]] min-label propagation → one canonical doc per
    * cluster. This is the step that turns candidate pairs into an actual
    * dedup decision (keep canonical, drop the rest) — the shape a corpus
    * cleaning pipeline materializes at 100 TB. Singletons keep their own
    * id as cluster_id. */
  /** The (doc_id, cluster_id) label table of the Jaccard≥0.2 clustering,
    * memoized per (session, sfDir) — r12: `d_dedup_clusters`,
    * `d_dedup_keep` and `d_cluster_sizes` each re-ran the identical pair
    * generation + connected-components chain; the ChainMemo ([[
    * graft.operators.ChainMemo]]) builds the labels once per session
    * (Bench's per-query cleanup still re-attributes per query). */
  private val ccLabelsMemo = new graft.operators.ChainMemo[DataFrame]()
  private def jaccardClusterLabels(spark: SparkSession, sfDir: String): DataFrame =
    ccLabelsMemo.getOrBuild(spark, sfDir) {
      val docs = Tables.documents(spark, sfDir)
      val pairs = graft.operators.Dedup
        .ngramJaccardPairs(docs, minJaccardBp = 2000, sorted = false,
          memoTag = Some(sfDir))
        .select(col("doc_a"), col("doc_b"))
      graft.operators.Dedup
        .connectedComponents(pairs, docs.select(col("doc_id")))
        .localCheckpoint(false) // |docs| rows; feeds three declared rows
    }

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = jaccardClusterLabels(spark, sfDir)
    val byCluster = Window.partitionBy(col("cluster_id"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(byCluster).cast("long"))
      .withColumn("is_canonical", (col("doc_id") === col("cluster_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE chain: Jaccard pairs + recursive min-reachable-id
    * closure → `lab(doc_id, cluster_id)` (components are tiny near-cliques,
    * so the transitive closure stays linear-ish at oracle scale). Used by
    * both the cluster listing and the keep-one materializer oracles. */
  private val clusterLabCtes: String = s"""
    WITH RECURSIVE sh0 AS (
      SELECT doc_id, unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), counts AS (
      SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY doc_id
    ), shk AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh0
      ) WHERE df <= ${graft.operators.Dedup.DefaultMaxShingleDf}
    ), pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      FROM shk x JOIN shk y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    ), edges0 AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN counts ca ON doc_a = ca.doc_id
      JOIN counts cb ON doc_b = cb.doc_id
      WHERE floor(n_common * 10000.0 / (ca.n_sh + cb.n_sh - n_common)) >= 2000
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges0
      UNION ALL SELECT doc_b, doc_a FROM edges0
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), lab AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    )"""

  val dedupClustersSql: String = clusterLabCtes + """
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS bigint) AS cluster_size,
           CAST(doc_id = cluster_id AS int) AS is_canonical
    FROM lab
    ORDER BY doc_id"""

  /** Keep-one near-dup materializer ([[graft.operators.Dedup.keepBest]]):
    * the surviving corpus after dropping all but the best (longest, then
    * smallest-id) document of each near-dup cluster. One row per survivor. */
  def dedupKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val labels = jaccardClusterLabels(spark, sfDir)
    graft.operators.Dedup
      .keepBest(labels, docs.select(col("doc_id"), col("n_chars").as("score")))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("score").cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepSql: String = clusterLabCtes + """
    , scored AS (
      SELECT l.doc_id, l.cluster_id, d.n_chars
      FROM lab l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT k.d AS doc_id, cluster_id,
           CAST(cluster_size AS bigint) AS cluster_size,
           CAST(-k.s AS bigint) AS n_chars
    FROM (
      SELECT cluster_id, min({'s': -n_chars, 'd': doc_id}) AS k,
             count(*) AS cluster_size
      FROM scored GROUP BY cluster_id
    )
    ORDER BY doc_id"""

  // -------------------------------------------------------------- repetition

  /** Repetition-based quality filter (the Gopher/C4-style rule adapted to
    * line-less docs): fraction of repeated word instances and the share of
    * the most frequent word-2-gram, both in basis points. Per-row
    * higher-order array functions — shuffle-free, codegen'd, the 100 TB
    * shape for per-document filters. */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val w = words(col("text"))
    val n = size(w)
    val grams = zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    val ng = size(grams)
    // max multiplicity = longest equal-run in the sorted array — O(g log g)
    // per row (a filter-per-distinct-gram scan would be O(g²), minutes on
    // the long documents a repetition filter exists to catch)
    val maxGram = aggregate(
      array_sort(grams),
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val newRun = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), newRun.as("run"),
          greatest(acc.getField("best"), newRun).as("best"))
      },
      acc => acc.getField("best"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        n.cast("long").as("n_words"),
        floor((n - size(array_distinct(w))) * 10000.0 / n).cast("long").as("rep_word_bp"),
        when(ng > 0, floor(maxGram * 10000.0 / ng)).otherwise(0L).cast("long").as("top_gram_bp"))
      .withColumn("is_repetitive",
        (col("rep_word_bp") >= 8000 || col("top_gram_bp") >= 1500).cast("int"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String = """
    SELECT doc_id, n_words,
           CAST(floor((n_words - n_dist) * 10000.0 / n_words) AS bigint) AS rep_word_bp,
           CAST(CASE WHEN ng > 0 THEN floor(maxg * 10000.0 / ng) ELSE 0 END AS bigint) AS top_gram_bp,
           CAST((floor((n_words - n_dist) * 10000.0 / n_words) >= 8000
                 OR CASE WHEN ng > 0 THEN floor(maxg * 10000.0 / ng) ELSE 0 END >= 1500) AS int) AS is_repetitive
    FROM (
      SELECT doc_id,
             CAST(len(w) AS bigint) AS n_words,
             len(list_distinct(w)) AS n_dist,
             len(g) AS ng,
             list_max(list_transform(list_distinct(g), x -> len(list_filter(g, y -> y = x)))) AS maxg
      FROM (
        SELECT doc_id, w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
      )
    )
    ORDER BY doc_id"""

  // ------------------------------------------------------------- vocabulary

  /** Vocabulary induction: top-100 terms by document frequency (then total
    * frequency, then term — fully deterministic cut). Shape: one shuffle
    * on term with partial aggregation; the top-100 runs as
    * TakeOrderedAndProject, never a global sort — at 100 TB the term table
    * is Zipf-small and the limit is pushed into the reducers. */
  def vocab(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tf").desc, col("term"))
      .limit(100)

  val vocabSql: String = """
    SELECT term, tf, df FROM (
      SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents)
      GROUP BY term
    )
    ORDER BY df DESC, tf DESC, term
    LIMIT 100"""

  /** Per-document top-3 TF-IDF keywords — the classic corpus-labeling /
    * topic-tagging primitive (what a training-data pipeline attaches as a
    * cheap "aboutness" signal before any model-based tagger). IDF uses the
    * repo's exact-integer ⌊log2(N/df)⌋ (binary-string length, the
    * [[lmSurprisal]] recipe) so the oracle reproduces the ranking
    * bit-for-bit — no float log. Corpus-wide terms (df > N/2) get idf 0
    * and fall out of the head naturally (built-in stopword suppression).
    * Scale shape: ONE (doc,term) aggregation; df comes from a count window
    * over the same term-keyed exchange (no second scan, no join — the
    * [[graft.operators.Dedup]] df-cap pattern); the per-doc head is a
    * row_number window on the aggregated (doc,term) domain, never raw
    * tokens. Nothing touches the driver. */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))).cast("long"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (length(conv(expr("n_docs div df"), 10, 2)) - 1).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfidfKeywordsSql: String = """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, term, tf,
             CAST(count(*) OVER (PARTITION BY term) AS bigint) AS df
      FROM tf
    )
    SELECT doc_id, rnk, term, tf, df, score FROM (
      SELECT doc_id, term, tf, df,
             CAST(tf * (length(to_base(n_docs // df, 2)) - 1) AS bigint) AS score,
             CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY tf * (length(to_base(n_docs // df, 2)) - 1) DESC, term)
               AS bigint) AS rnk
      FROM scored, n
    ) WHERE rnk <= 3
    ORDER BY doc_id, rnk"""

  // ------------------------------------------------------------ LM surprisal

  /** Shared unigram-surprisal core: (doc_id, n_tokens, mean_surprisal_c)
    * — feeds both the [[lmSurprisal]] outlier filter and the
    * [[ccnetBucket]] per-language perplexity bucketing. Surprisal is
    * EXACT integer math: ⌊log2(total_tokens / tf(term))⌋ computed as
    * length(binary(x)) − 1, so the oracle reproduces it bit-for-bit (no
    * float log). Shape: one shuffle builds the tf table (Zipf-small →
    * broadcastable at any corpus size), one join back, one per-doc
    * aggregation. */
  private def docSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    // terms feeds BOTH the tf aggregation and the probe side of the join —
    // materialize once (exchange reuse does not dedupe the two branches,
    // same reasoning as ngramJaccardPairs' checkpointed shingle table)
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
      .localCheckpoint()
    val tf = terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val total = tf.agg(sum(col("tf")).as("total"))
    val scored = terms.join(broadcast(tf.crossJoin(total)), "term")
      .select(col("doc_id"),
        (length(conv(expr("total div tf"), 10, 2)) - 1).cast("long").as("surprisal"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("surprisal")).as("sum_surprisal"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("sum_surprisal") * 100.0 / col("n_tokens")).cast("long").as("mean_surprisal_c"))
  }

  /** The shared CTE chain behind [[docSurprisal]], for oracle reuse. */
  private val docSurprisalCteSql: String = """
    terms AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT term, count(*) AS tf FROM terms GROUP BY term
    ), tot AS (
      SELECT CAST(sum(tf) AS bigint) AS total FROM tf
    ), scored AS (
      SELECT doc_id,
             CAST(length(to_base(total // tf, 2)) - 1 AS bigint) AS surprisal
      FROM terms JOIN tf USING (term) CROSS JOIN tot
    ), doc_surprisal AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(floor(sum(surprisal) * 100.0 / count(*)) AS bigint) AS mean_surprisal_c
      FROM scored GROUP BY doc_id
    )"""

  /** Unigram-LM surprisal scoring — the KenLM-flavored quality filter:
    * train a unigram model on the corpus itself (term frequencies), score
    * each doc by its mean per-token surprisal ([[docSurprisal]]);
    * high-surprisal docs are out-of-distribution (gibberish, wrong
    * language, encoding junk). */
  def lmSurprisal(spark: SparkSession, sfDir: String): DataFrame =
    docSurprisal(spark, sfDir)
      .withColumn("is_outlier", (col("mean_surprisal_c") >= 900).cast("int"))
      .orderBy(col("doc_id"))

  val lmSurprisalSql: String = s"""
    WITH $docSurprisalCteSql
    SELECT doc_id, n_tokens, mean_surprisal_c,
           CAST(mean_surprisal_c >= 900 AS int) AS is_outlier
    FROM doc_surprisal
    ORDER BY doc_id"""

  /** CCNet-style perplexity bucketing: within each language, split docs
    * into head / middle / tail tertiles of mean unigram surprisal (the
    * CCNet recipe — Wenzek et al. 2020 — with the shared [[docSurprisal]]
    * integer-log2 model standing in for KenLM). head = lowest surprisal =
    * most in-distribution. Shape: the surprisal table is per-doc-small;
    * the ntile window shuffles once on lang (ties broken by doc_id, so
    * both engines cut identical tertiles). At corpus scale the exact
    * ntile becomes the mergeable fixed-grid quantile cut of
    * `t_len_quantile_rollup`; the bucket CONTRACT here is the exact
    * reference. */
  def ccnetBucket(spark: SparkSession, sfDir: String): DataFrame = {
    val lang = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    // the lang projection is O(corpus) — never force-broadcast a
    // per-document table (the Lpa/range-join lesson); shuffled equi-join
    // on doc_id, AQE free to pick broadcast only while it actually fits
    docSurprisal(spark, sfDir)
      .join(lang, "doc_id")
      .withColumn("bucket",
        ntile(3).over(Window.partitionBy(col("lang"))
          .orderBy(col("mean_surprisal_c"), col("doc_id"))).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("mean_surprisal_c")).as("min_surprisal_c"),
        max(col("mean_surprisal_c")).as("max_surprisal_c"))
      .orderBy(col("lang"), col("bucket"))
  }

  val ccnetBucketSql: String = s"""
    WITH $docSurprisalCteSql
    SELECT lang, bucket, count(*) AS n_docs,
           CAST(sum(n_tokens) AS bigint) AS n_tokens,
           min(mean_surprisal_c) AS min_surprisal_c,
           max(mean_surprisal_c) AS max_surprisal_c
    FROM (
      SELECT d.lang, s.n_tokens, s.mean_surprisal_c,
             CAST(ntile(3) OVER (PARTITION BY d.lang
               ORDER BY s.mean_surprisal_c, s.doc_id) AS bigint) AS bucket
      FROM doc_surprisal s JOIN documents d ON s.doc_id = d.doc_id)
    GROUP BY lang, bucket
    ORDER BY lang, bucket"""

  /** Bigram conditional surprisal — the KenLM-flavored upgrade of
    * [[lmSurprisal]]: score each doc by the mean ⌊log2(n(prev·)/n(prev,
    * cur))⌋ over its bigram positions (how surprising each token is GIVEN
    * the previous one — catches shuffled/garbled text a unigram model
    * scores as normal). Bigrams come from zipped array slices (per-row
    * map, no lag window / no per-doc sort); counts are two aggregations
    * over the checkpointed bigram table; all integer math, oracle-exact.
    */
  def bigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val w = words(lower(col("text")))
    val n = size(w)
    val bigrams = when(n >= 2,
      transform(arrays_zip(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1)),
        s => struct(s.getField("0").as("p"), s.getField("1").as("c"))))
      .otherwise(array())
    val bi = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(bigrams).as("b"))
      .select(col("doc_id"), col("b.p").as("p"), col("b.c").as("c"))
      .localCheckpoint() // feeds both count tables AND the probe side
    val nPrev = bi.groupBy(col("p")).agg(count(lit(1)).as("n_prev"))
    val nBi = bi.groupBy(col("p"), col("c")).agg(count(lit(1)).as("n_bi"))
    bi.join(nBi, Seq("p", "c"))
      .join(nPrev, Seq("p"))
      .select(col("doc_id"),
        (length(conv(expr("n_prev div n_bi"), 10, 2)) - 1).cast("long").as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sum_s"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("sum_s") * 100.0 / col("n_bigrams")).cast("long").as("mean_surprisal_c"))
      .orderBy(col("doc_id"))
  }

  val bigramSurprisalSql: String = """
    WITH bi AS (
      SELECT doc_id, unnest(CASE WHEN len(w) >= 2
               THEN list_transform(range(1, len(w)), i -> {'p': w[i], 'c': w[i+1]})
               ELSE [] END) AS b
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents)
    ), flat AS (
      SELECT doc_id, b.p AS p, b.c AS c FROM bi
    ), n_prev AS (
      SELECT p, count(*) AS n_prev FROM flat GROUP BY p
    ), n_bi AS (
      SELECT p, c, count(*) AS n_bi FROM flat GROUP BY p, c
    )
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(floor(sum(CAST(length(to_base(n_prev // n_bi, 2)) - 1 AS bigint)) * 100.0
                / count(*)) AS bigint) AS mean_surprisal_c
    FROM flat JOIN n_bi USING (p, c) JOIN n_prev USING (p)
    GROUP BY doc_id
    ORDER BY doc_id"""

  // --------------------------------------------------------- decontamination

  /** Train/eval contamination check — the pipeline step that keeps
    * benchmark text out of training data: treat source `src0` as the eval
    * set, every other source as training; flag (eval, train) pairs where
    * the training doc contains ≥ 30 % of the eval doc's distinct shingles.
    * Equi-join on shingle (the eval side is tiny at scale → broadcast);
    * containment (not Jaccard) because a long training doc that swallows
    * a short eval doc whole must flag regardless of its own length. */
  /** Staged decontamination shingle tables, one entry per gram recipe
    * (r13): both decontamination rows are "stage the corpus index, then
    * one broadcast join" — the staging is the cost, and it re-ran per
    * invocation. */
  private val deconShinglesMemo = new graft.operators.ChainMemo[DataFrame]()

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    // long shingle keys + one materialization: the eval and train branches
    // both derive from this table, and without the checkpoint each branch
    // re-runs the whole shingle/md5 explode over the corpus. (Measured
    // alternative, r3: two pushed-down scans with no checkpoint — the
    // corpus explode then fuses into the join probe stage and the whole
    // query runs 1.1 s SLOWER at sf0.1; the one-pass materialization of
    // compact long keys wins, and its block-store cost is executor-local
    // and shuffle-sized, acceptable at scale.)
    val base = deconShinglesMemo.getOrBuild(spark, s"$sfDir|3gram") {
      // r13: the corpus explode is the query's dominant cost and is pure
      // input staging — memoized per session (ChainMemo posture; Bench's
      // cleanup still rebuilds it on each query's run 1)
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          graft.functions.word_shingle_keys(col("text")).as("shs"))
        .select(col("doc_id"), col("source"),
          size(col("shs")).cast("long").as("n_sh"), explode(col("shs")).as("sh"))
        .localCheckpoint()
    }
    val ev = base.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"), col("n_sh"), col("sh"))
    val tr = base.filter(col("source") =!= "src0")
      .select(col("doc_id").as("train_id"), col("sh"))
    tr.join(broadcast(ev), "sh")
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_common"), first(col("n_sh")).as("n_sh"))
      .select(col("eval_id"), col("train_id"),
        floor(col("n_common") * 10000.0 / col("n_sh")).cast("long").as("containment_bp"))
      .filter(col("containment_bp") >= 3000)
      .orderBy(col("eval_id"), col("train_id"))
  }

  val decontaminateSql: String = s"""
    WITH base AS (
      SELECT doc_id, source, len(shs) AS n_sh, unnest(shs) AS sh FROM (
        SELECT doc_id, source, ${shingleKeysSql("text")} AS shs
        FROM (SELECT doc_id, source, text, string_split_regex(text, '\\s+') AS w FROM documents)
      )
    ), ev AS (
      SELECT doc_id AS eval_id, n_sh, sh FROM base WHERE source = 'src0'
    ), tr AS (
      SELECT doc_id AS train_id, sh FROM base WHERE source <> 'src0'
    )
    SELECT eval_id, train_id,
           CAST(floor(count(*) * 10000.0 / any_value(n_sh)) AS bigint) AS containment_bp
    FROM tr JOIN ev USING (sh)
    GROUP BY eval_id, train_id
    HAVING floor(count(*) * 10000.0 / any_value(n_sh)) >= 3000
    ORDER BY eval_id, train_id"""

  // ------------------------------------------------------------- bloom dedup

  /** Incremental (batch-vs-corpus) dedup through [[graft.operators.Dedup
    * .bloomGate]]: src0 plays the arriving batch, the rest of the corpus
    * the existing data. An exact distinct-fp membership column rides along,
    * so the result also quantifies the filter's false positives — exactly
    * reproducible here because the md5 hash family is engine-portable. */
  /** 2²⁰ bits (128 KiB mask): ≥10 bits/key up to ~10⁵ corpus keys, so the
    * query clears [[graft.operators.Dedup.BloomBitsPerKeyConf]]'s sizing
    * guard through sf1; beyond that the guard correctly demands a bigger
    * filter. Interpolated into the oracle so both engines mod identically. */
  private val BloomQueryBits = 1 << 20

  def dedupBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    val corpus = docs.filter(col("source") =!= "src0").select(col("fp"))
    val batch = docs.filter(col("source") === "src0")
      .select(col("doc_id").as("id"), col("fp"))
    val gated = graft.operators.Dedup.bloomGate(corpus, batch, numBits = BloomQueryBits)
    val exact = corpus.distinct().withColumn("exact_dup", lit(1))
    gated.join(exact, Seq("fp"), "left")
      .select(col("id").as("doc_id"), col("n_hit"),
        col("bloom_dup"), coalesce(col("exact_dup"), lit(0)).as("exact_dup"))
      .orderBy(col("doc_id"))
  }

  val dedupBloomSql: String = s"""
    WITH docs AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
    corpus AS (SELECT fp FROM docs WHERE source <> 'src0'),
    batch AS (SELECT doc_id AS id, fp FROM docs WHERE source = 'src0'),
    hs AS (SELECT unnest([0,1,2,3]) AS i),
    bits AS (
      SELECT DISTINCT (CAST('0x' || substr(fp, 1 + 8*i, 8) AS BIGINT) % $BloomQueryBits) AS pos
      FROM corpus CROSS JOIN hs
    ), bpos AS (
      SELECT id, (CAST('0x' || substr(fp, 1 + 8*i, 8) AS BIGINT) % $BloomQueryBits) AS pos
      FROM batch CROSS JOIN hs
    ), hits AS (
      SELECT id, count(*) AS n_hit FROM bpos
      WHERE pos IN (SELECT pos FROM bits) GROUP BY id
    )
    SELECT b.id AS doc_id,
           CAST(coalesce(h.n_hit, 0) AS bigint) AS n_hit,
           CAST(coalesce(h.n_hit, 0) = 4 AS int) AS bloom_dup,
           CAST(b.fp IN (SELECT fp FROM corpus) AS int) AS exact_dup
    FROM batch b LEFT JOIN hits h USING (id)
    ORDER BY doc_id"""

  // --------------------------------------------------------- sequence packing

  /** Context-window packing: lay the corpus out as one contiguous token
    * stream (doc_id order) and assign every doc its starting window of
    * size 256 — the step that turns a cleaned corpus into fixed-length
    * training sequences. The global cumulative offset comes from
    * [[graft.operators.PrefixSum.exclusive]] (two linear scans + one
    * range exchange), NOT from a single-partition window — this is the
    * shape that survives 100 TB. */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 256
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.exclusive(toks, "doc_id", "n_tokens")
      .select(col("doc_id"), col("n_tokens"),
        col("prefix_excl").as("start_off"),
        expr(s"prefix_excl div $W").as("window_id"),
        (col("prefix_excl") % W).as("window_off"),
        expr(s"(prefix_excl + n_tokens - 1) div $W - prefix_excl div $W + 1").as("n_windows"))
      .orderBy(col("doc_id"))
  }

  val packSequencesSql: String = """
    SELECT doc_id, n_tokens, start_off,
           CAST(start_off // 256 AS bigint) AS window_id,
           CAST(start_off % 256 AS bigint) AS window_off,
           CAST((start_off + n_tokens - 1) // 256 - start_off // 256 + 1 AS bigint) AS n_windows
    FROM (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS start_off
      FROM (SELECT doc_id,
                   CAST(len(string_split_regex(text, '\s+')) AS bigint) AS n_tokens
            FROM documents)
    )
    ORDER BY doc_id"""

  // ---------------------------------------------------------- normalization

  /** Unicode NFC canonicalization ([[graft.functions.nfc_normalize]], a
    * codegen'd Catalyst expression): odd docs get a DECOMPOSED "é"
    * (e + U+0301) appended, even docs the precomposed U+00E9 — after NFC
    * both forms hash identically, which is exactly why pipelines normalize
    * before dedup. Per-row map, shuffle-free. */
  def normalizeText(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = concat(col("text"), lit(" caf"),
      when(col("doc_id") % 2 === 1, lit("e\u0301")).otherwise(lit("\u00e9")))
    val norm = graft.functions.nfc_normalize(raw)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        length(raw).cast("long").as("raw_len"),
        length(norm).cast("long").as("norm_len"),
        md5(norm).as("norm_md5"),
        (norm =!= raw).cast("int").as("changed"))
      .orderBy(col("doc_id"))
  }

  val normalizeTextSql: String = """
    WITH raw AS (
      SELECT doc_id,
             text || ' caf' ||
               CASE WHEN doc_id % 2 = 1 THEN 'e' || chr(769) ELSE chr(233) END AS r
      FROM documents
    )
    SELECT doc_id,
           CAST(length(r) AS bigint) AS raw_len,
           CAST(length(nfc_normalize(r)) AS bigint) AS norm_len,
           md5(nfc_normalize(r)) AS norm_md5,
           CAST(nfc_normalize(r) <> r AS int) AS changed
    FROM raw
    ORDER BY doc_id"""

  // -------------------------------------------------------------- PII scrub

  /** PII scrub ([[graft.operators.PiiScrub]]) over a deterministic
    * "contact note" derived from `customer` (the synthetic corpus carries
    * no natural PII, so the note embeds an email, a phone and digit runs
    * built from customer columns — the SAME derivation in the oracle, like
    * the namespace view). Per-row regexp map, shuffle-free. */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = graft.functions.cents(col("c_acctbal"))
    val note = concat(
      lit("Reach "), col("c_name"),
      lit(" (cust"), col("c_custkey").cast("string"),
      lit("@example.com, +1-"),
      lpad((col("c_custkey") * 7919 % 1000).cast("string"), 3, "0"),
      lit("-"),
      lpad((abs(cents) % 10000).cast("string"), 4, "0"),
      lit(") seg "), col("c_mktsegment"),
      lit(" bal "), cents.cast("string"))
    val noted = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("cust_id"), note.as("note"))
    graft.operators.PiiScrub.scrub(noted, "note")
      .select(col("cust_id"), col("n_emails"), col("n_phones"), col("n_nums"),
        col("scrubbed"))
      .orderBy(col("cust_id"))
  }

  val piiScrubSql: String = """
    WITH noted AS (
      SELECT c_custkey AS cust_id,
             'Reach ' || c_name || ' (cust' || CAST(c_custkey AS VARCHAR)
               || '@example.com, +1-'
               || lpad(CAST(c_custkey * 7919 % 1000 AS VARCHAR), 3, '0')
               || '-'
               || lpad(CAST(abs(CAST(floor(c_acctbal * 100) AS bigint)) % 10000 AS VARCHAR), 4, '0')
               || ') seg ' || c_mktsegment
               || ' bal ' || CAST(CAST(floor(c_acctbal * 100) AS bigint) AS VARCHAR)
               AS note
      FROM customer
    ), masked AS (
      SELECT cust_id, note,
             regexp_replace(note, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS s1
      FROM noted
    ), masked2 AS (
      SELECT cust_id, note, s1,
             regexp_replace(s1, '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g') AS s2
      FROM masked
    )
    SELECT cust_id,
           CAST(len(regexp_extract_all(note, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS bigint) AS n_emails,
           CAST(len(regexp_extract_all(s1, '\+\d{1,3}-\d{3}-\d{4}')) AS bigint) AS n_phones,
           CAST(len(regexp_extract_all(s2, '\d{4,}')) AS bigint) AS n_nums,
           regexp_replace(s2, '\d{4,}', '<NUM>', 'g') AS scrubbed
    FROM masked2
    ORDER BY cust_id"""

  // ---------------------------------------------------------- segment dedup

  /** Segment-level dedup ([[graft.operators.Dedup.segmentDedup]], 8-word
    * segments): per doc, how many segments survive keeping only the
    * globally-first occurrence of each distinct segment, plus the
    * reconstructed deduplicated text (kept segments in original order).
    * One shuffle on seg_hash + one on doc_id; the reconstruction is a
    * per-doc collect_list/array_sort — bounded by the doc's own length. */
  def dedupSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val marked = graft.operators.Dedup.segmentDedup(Tables.documents(spark, sfDir))
    marked.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(col("kept")).cast("long").as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("kept") === 1,
              struct(col("seg_idx"), col("seg"))))),
            s => s.getField("seg")),
          " ").as("dedup_text"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        floor(col("n_kept") * 10000.0 / col("n_segs")).cast("long").as("kept_bp"),
        col("dedup_text"))
      .orderBy(col("doc_id"))
  }

  val dedupSegmentsSql: String = """
    WITH base AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
    ), seg0 AS (
      SELECT doc_id, w, unnest(range(0, (len(w) + 7) // 8)) AS seg_idx FROM base
    ), segs AS (
      SELECT doc_id, seg_idx,
             array_to_string(w[seg_idx*8+1 : seg_idx*8+8], ' ') AS seg
      FROM seg0
    ), keeper AS (
      SELECT md5(seg) AS seg_hash, min({'d': doc_id, 'i': seg_idx}) AS keep
      FROM segs GROUP BY 1
    ), marked AS (
      SELECT doc_id, seg_idx, seg,
             CAST(doc_id = keep.d AND seg_idx = keep.i AS int) AS kept
      FROM segs JOIN keeper ON md5(seg) = seg_hash
    )
    SELECT doc_id,
           CAST(count(*) AS bigint) AS n_segs,
           CAST(sum(kept) AS bigint) AS n_kept,
           CAST(floor(sum(kept) * 10000.0 / count(*)) AS bigint) AS kept_bp,
           coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE kept = 1), '') AS dedup_text
    FROM marked
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ---------------------------------------------------------------- sampling

  /** Per-language sampling rates in basis points: downsample the dominant
    * language, keep the rest — the standard corpus-rebalancing move. */
  val SampleRatesBp: Seq[(String, Long)] =
    Seq("en" -> 2500L, "de" -> 7500L, "es" -> 7500L, "fr" -> 7500L, "zh" -> 5000L)

  /** Deterministic stratified sampling: keep a doc iff
    * md5("smp_" ‖ doc_id) (first 6 hex digits → [0,10000) bp) falls under
    * its language's rate. Hash-based → reproducible across runs/engines,
    * shuffle-free (a scan + filter — no sample() nondeterminism, no
    * reservoir state), and the sampled fraction concentrates tightly at
    * any corpus size. */
  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val hashBp = hashGateBp("smp_", col("doc_id"))
    val rate = SampleRatesBp.foldRight(lit(10000L): Column) {
      case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), hashBp.as("hash_bp"), rate.cast("long").as("rate_bp"))
      .filter(col("hash_bp") < col("rate_bp"))
      .orderBy(col("doc_id"))
  }

  val sampleStratifiedSql: String = {
    val rateCase = SampleRatesBp
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", " ELSE 10000 END")
    s"""
    SELECT doc_id, lang, hash_bp, rate_bp FROM (
      SELECT doc_id, lang,
             ${hashGateBpSql("smp_")} AS hash_bp,
             CAST($rateCase AS bigint) AS rate_bp
      FROM documents
    ) WHERE hash_bp < rate_bp
    ORDER BY doc_id"""
  }

  /** Quality-weighted deterministic sampling: each doc survives with
    * probability equal to its own quality score (kept iff the md5 gate
    * bucket falls below quality_bp) — the soft alternative to a hard
    * quality threshold that keeps SOME low-quality text (mixture papers'
    * standard hedge against over-filtering) while still being exactly
    * reproducible, engine-portable and monotone under corpus growth.
    * Per-row map, shuffle-free; composes with [[sampleStratified]] via
    * the distinct gate prefix. */
  def qualitySample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        qualityBp(col("text")).as("quality_bp"),
        hashGateBp("qsm_", col("doc_id")).as("hash_bp"))
      .filter(col("hash_bp") < col("quality_bp"))
      .orderBy(col("doc_id"))

  val qualitySampleSql: String = s"""
    SELECT doc_id, lang, source, quality_bp, hash_bp FROM (
      SELECT doc_id, lang, source,
             $qualityBpSql AS quality_bp,
             ${hashGateBpSql("qsm_")} AS hash_bp
      FROM documents
    ) WHERE hash_bp < quality_bp
    ORDER BY doc_id"""

  /** Split boundaries in basis points: [0,9000) train, [9000,9500) val,
    * [9500,10000) test. */
  private val SplitValBp = 9000L
  private val SplitTestBp = 9500L

  /** md5-bucket gate: prefixed doc_id → basis-point bucket in
    * [0, 10000) — the deterministic replacement for rand() everywhere a
    * sampling/assignment decision must be reproducible (distinct
    * prefixes keep the gates independent). [[hashGateBpSql]] is the ONE
    * DuckDB twin — every oracle gate splices it so the hex width and
    * 2²⁴ divisor can never drift per copy. */
  private[queries] def hashGateBp(prefix: String, docId: Column): Column = floor(
    conv(substring(md5(concat(lit(prefix), docId.cast("string"))), 1, 6), 16, 10)
      .cast("long") * 10000.0 / lit(16777216L)).cast("long")

  private[queries] def hashGateBpSql(prefix: String, idSql: String = "doc_id"): String =
    s"CAST(floor(CAST('0x' || substr(md5('$prefix' || CAST($idSql AS VARCHAR)), 1, 6) AS BIGINT) * 10000.0 / 16777216) AS bigint)"

  /** The split gate shared by [[splitAssign]] and [[splitLeakage]]. */
  private def splitHashBp(docId: Column): Column = hashGateBp("spl_", docId)

  private def splitOf(hashBp: Column): Column =
    when(hashBp < SplitValBp, "train")
      .when(hashBp < SplitTestBp, "val")
      .otherwise("test")

  /** Deterministic train/val/test split assignment with per-(split, lang)
    * accounting — the hold-out carve every training corpus needs before
    * anything touches the data. Membership is md5("spl_" ‖ doc_id) bucketed
    * to basis points, so the assignment is reproducible across runs,
    * engines and corpus growth (a doc never migrates between splits when
    * new data arrives — the property random split() cannot give).
    * Shuffle posture: the gate is a per-row map; the accounting aggregates
    * onto a 3 × |langs| key domain with map-side partial combine, and the
    * per-language share window runs on that already-tiny aggregate. */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"), splitHashBp(col("doc_id")).as("hash_bp"))
      .withColumn("split", splitOf(col("hash_bp")))
    val w = Window.partitionBy(col("lang"))
    assigned.groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("lang_share_bp",
        floor(col("n_docs") * 10000.0 / sum(col("n_docs")).over(w)).cast("long"))
      .orderBy(col("split"), col("lang"))
  }

  val splitAssignSql: String = s"""
    WITH s AS (
      SELECT lang, n_chars,
             CASE WHEN hash_bp < $SplitValBp THEN 'train'
                  WHEN hash_bp < $SplitTestBp THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, n_chars,
               ${hashGateBpSql("spl_")} AS hash_bp
        FROM documents
      )
    ), g AS (
      SELECT split, lang, CAST(count(*) AS bigint) AS n_docs,
             CAST(sum(n_chars) AS bigint) AS n_chars
      FROM s GROUP BY split, lang
    )
    SELECT split, lang, n_docs, n_chars,
           CAST(floor(n_docs * 10000.0 / sum(n_docs) OVER (PARTITION BY lang)) AS bigint) AS lang_share_bp
    FROM g
    ORDER BY split, lang"""

  /** Train/test leakage audit: exact-duplicate texts (the [[dedupExact]]
    * normalized-md5 key) whose copies straddle split boundaries — the
    * contamination check run right after [[splitAssign]], because a test
    * doc whose twin sits in train silently inflates eval scores. Reports
    * duplicate-group counts, the per-boundary-pair leak counts, and how
    * many documents sit in any cross-split group. Shuffle posture: one
    * shuffle on the md5 text key (the dedup shape) collapsing to
    * per-group split indicator sums, then a single-row aggregate —
    * nothing downstream ever sees the corpus again. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val g = Tables.documents(spark, sfDir)
      .select(md5(norm).as("key"), splitOf(splitHashBp(col("doc_id"))).as("split"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    val spans = (when(col("n_train") > 0, 1).otherwise(0) +
      when(col("n_val") > 0, 1).otherwise(0) +
      when(col("n_test") > 0, 1).otherwise(0)) > 1
    g.agg(
      sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(spans, 1L).otherwise(0L)).as("n_leak_groups"),
      sum(when(col("n_train") > 0 && col("n_test") > 0, 1L).otherwise(0L)).as("leak_train_test"),
      sum(when(col("n_train") > 0 && col("n_val") > 0, 1L).otherwise(0L)).as("leak_train_val"),
      sum(when(col("n_val") > 0 && col("n_test") > 0, 1L).otherwise(0L)).as("leak_val_test"),
      sum(when(spans, col("n_docs")).otherwise(0L)).as("n_docs_leaked"))
  }

  val splitLeakageSql: String = s"""
    WITH g AS (
      SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS key,
             count(*) AS n_docs,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
             sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
             sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
      FROM (
        SELECT text,
               CASE WHEN hash_bp < $SplitValBp THEN 'train'
                    WHEN hash_bp < $SplitTestBp THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT text,
                 ${hashGateBpSql("spl_")} AS hash_bp
          FROM documents
        )
      ) GROUP BY 1
    )
    SELECT CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS bigint) AS n_dup_groups,
           CAST(sum(CASE WHEN (CASE WHEN n_train > 0 THEN 1 ELSE 0 END
                             + CASE WHEN n_val > 0 THEN 1 ELSE 0 END
                             + CASE WHEN n_test > 0 THEN 1 ELSE 0 END) > 1 THEN 1 ELSE 0 END) AS bigint) AS n_leak_groups,
           CAST(sum(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END) AS bigint) AS leak_train_test,
           CAST(sum(CASE WHEN n_train > 0 AND n_val > 0 THEN 1 ELSE 0 END) AS bigint) AS leak_train_val,
           CAST(sum(CASE WHEN n_val > 0 AND n_test > 0 THEN 1 ELSE 0 END) AS bigint) AS leak_val_test,
           CAST(sum(CASE WHEN (CASE WHEN n_train > 0 THEN 1 ELSE 0 END
                             + CASE WHEN n_val > 0 THEN 1 ELSE 0 END
                             + CASE WHEN n_test > 0 THEN 1 ELSE 0 END) > 1 THEN n_docs ELSE 0 END) AS bigint) AS n_docs_leaked
    FROM g"""

  /** Square-root temperature sampling (τ = ½ mixture flattening): each
    * language keeps its t_s = ⌊√(n_s · n_min)⌋ highest-priority docs —
    * the geometric mean of its own size and the smallest language's, so
    * dominant languages shrink toward the small ones (the temperature resampling LLM
    * mixtures use; τ = ½ specifically because sqrt is correctly-rounded
    * IEEE-754 in both engines, so the target counts are oracle-exact
    * where a general pow(n, τ) would not be). Priority = md5("tmp_"‖
    * doc_id): a deterministic uniform order → the kept set is
    * reproducible across runs AND engines. One shuffle on lang for the
    * rank window; the per-lang target table is broadcast. A group so
    * large its partition can't sort should switch to the shuffle-free
    * hash-threshold variant ([[sampleStratified]]) with rate ≈ t_s/n_s.
    */
  def sqrtSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
    val targets = counts
      .crossJoin(broadcast(counts.agg(min(col("n_s")).as("n_min"))))
      .select(col("lang"),
        floor(sqrt(col("n_s") * col("n_min"))).cast("long").as("t_s"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("pri"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"),
        md5(concat(lit("tmp_"), col("doc_id").cast("string"))).as("pri"))
      .withColumn("rnk", row_number().over(w))
      .join(broadcast(targets), "lang")
      .filter(col("rnk") <= col("t_s"))
      .select(col("doc_id"), col("lang"), col("rnk"), col("t_s"))
      .orderBy(col("doc_id"))
  }

  val sqrtSampleSql: String = """
    WITH counts AS (
      SELECT lang, count(*) AS n_s FROM documents GROUP BY lang
    ), tgt AS (
      SELECT lang,
             CAST(floor(sqrt(n_s * (SELECT min(n_s) FROM counts))) AS bigint) AS t_s
      FROM counts
    ), ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('tmp_' || CAST(doc_id AS VARCHAR)), doc_id) AS bigint) AS rnk
      FROM documents
    )
    SELECT doc_id, lang, rnk, t_s
    FROM ranked JOIN tgt USING (lang)
    WHERE rnk <= t_s
    ORDER BY doc_id"""

  /** Shingle novelty scoring: per doc, the share of its distinct 3-gram
    * shingles whose FIRST corpus occurrence (min doc_id) is this doc —
    * high novelty = genuinely new content, low = recombination of text
    * already in the corpus. The redundancy-aware quality signal a
    * curriculum/dedup pipeline ranks by. One exchange on the 60-bit
    * shingle key feeds the first-occurrence window AND the per-doc
    * aggregation (reused, same as the jaccard df window). */
  def novelty(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("sh"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.word_shingle_keys(col("text"))).as("sh"))
      .withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_sh"), col("n_novel"),
        floor(col("n_novel") * 10000.0 / col("n_sh")).cast("long").as("novelty_bp"))
      .orderBy(col("doc_id"))
  }

  val noveltySql: String = s"""
    WITH sh AS (
      SELECT doc_id, unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), fb AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS first_doc FROM sh
    )
    SELECT doc_id, count(*) AS n_sh,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS bigint) AS n_novel,
           CAST(floor(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 10000.0
                / count(*)) AS bigint) AS novelty_bp
    FROM fb
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** Per-source n-gram diversity: distinct word-3-gram shingles over total
    * shingle occurrences, in basis points — the corpus-level type/token
    * view of how much boilerplate each source carries (low diversity ⇒
    * dedup that source first; the companion signal to the per-doc
    * [[novelty]] and the md5-exact [[dupRatioBySource]]). Shingle keys are
    * the shared 60-bit longs, already deduped per doc, so n_shingles is
    * Σ per-doc distinct counts. Shuffle posture: the distinct runs keyed on
    * (source, shingle) with map-side partial dedup, then collapses onto the
    * |sources| domain; doc counts come from a separate scan-thin aggregate
    * joined on the 20-source key. */
  def ngramDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sh = docs.select(col("source"),
      explode(graft.functions.word_shingle_keys(col("text"))).as("sh"))
    val agg = sh.groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        countDistinct(col("sh")).as("n_distinct"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(agg, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_shingles"), col("n_distinct"),
        floor(col("n_distinct") * 10000.0 / col("n_shingles")).cast("long").as("diversity_bp"))
      .orderBy(col("source"))
  }

  val ngramDiversitySql: String = s"""
    WITH sh AS (
      SELECT source, unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT source, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), agg AS (
      SELECT source, CAST(count(*) AS bigint) AS n_shingles,
             CAST(count(DISTINCT sh) AS bigint) AS n_distinct
      FROM sh GROUP BY source
    ), d AS (
      SELECT source, CAST(count(*) AS bigint) AS n_docs FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_shingles, n_distinct,
           CAST(floor(n_distinct * 10000.0 / n_shingles) AS bigint) AS diversity_bp
    FROM d JOIN agg USING (source)
    ORDER BY source"""

  /** Corpus-wide heavy-hitter shingles: the 50 word-3-grams present in the
    * most documents, with document frequency and doc share in bp — the
    * catalog of WHAT the boilerplate actually is (the [[ngramDiversity]]
    * ratio says a source is repetitive; this names the repeated content,
    * feeding stop-shingle lists and cleaning rules). Shuffle posture: the
    * per-doc-distinct shingle explode collapses onto the shingle-key
    * domain with map-side combine, then TakeOrdered pulls only the top 50
    * to the driver — no full sort, no corpus-sized result. Ties break on
    * the shingle key, so top-50 membership is deterministic. */
  def topShingles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val df = docs.select(explode(graft.functions.word_shingle_keys(col("text"))).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
    df.crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("sh"), col("df"),
        floor(col("df") * 10000.0 / col("n_docs")).cast("long").as("df_bp"))
      .orderBy(col("df").desc, col("sh"))
      .limit(50)
  }

  val topShinglesSql: String = s"""
    WITH sh AS (
      SELECT unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), df AS (
      SELECT sh, CAST(count(*) AS bigint) AS df FROM sh GROUP BY sh
    )
    SELECT sh, df,
           CAST(floor(df * 10000.0 / (SELECT count(*) FROM documents)) AS bigint) AS df_bp
    FROM df
    ORDER BY df DESC, sh
    LIMIT 50"""

  /** Cross-source contamination matrix: for every source pair, the count
    * of word-3-gram shingles present in BOTH sources, each source's
    * distinct-shingle count, and the shingle-set Jaccard in bp — the
    * "who copies from whom" view that orders cross-source dedup (two
    * sources with high overlap should be deduped against each other
    * before mixing). Exact-dup keys can't see this (a near-copy edits a
    * few words); shingle sets can. Shuffle posture: distinct
    * (source, shingle) with map-side partial dedup, a self-equi-join on
    * the 60-bit shingle key (a shingle shared by all |sources| yields
    * ≤ C(|sources|,2) rows — bounded fan-out per key), then a collapse
    * onto the |sources|² pair domain. */
  /** The distinct (source, shingle) table, laid out by the self-join key
    * and memoized per session (r13): the checkpoint used to land in the
    * distinct's (source, sh) partitioning, so the self-join re-exchanged
    * BOTH sides on sh every run; partitioned on sh the join (and the df
    * collapse) read the layout exchange-free. */
  private val sourceShinglesMemo = new graft.operators.ChainMemo[DataFrame]()

  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ks = sourceShinglesMemo.getOrBuild(spark, sfDir) {
      Tables.documents(spark, sfDir)
        .select(col("source"), explode(graft.functions.word_shingle_keys(col("text"))).as("sh"))
        .distinct()
        .repartition(col("sh"))
        .localCheckpoint() // feeds both join sides and the per-source counts
    }
    val counts = ks.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = ks.as("a").join(ks.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(counts.select(col("source").as("source_a"), col("n").as("n_a"))), "source_a")
      .join(broadcast(counts.select(col("source").as("source_b"), col("n").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"), col("n_a"), col("n_b"),
        floor(col("n_shared") * 10000.0 / (col("n_a") + col("n_b") - col("n_shared")))
          .cast("long").as("jaccard_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String = s"""
    WITH ks AS (
      SELECT DISTINCT source, unnest(${shingleKeysSql("text")}) AS sh
      FROM (SELECT source, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), counts AS (
      SELECT source, CAST(count(*) AS bigint) AS n FROM ks GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS bigint) AS n_shared
      FROM ks a JOIN ks b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared, ca.n AS n_a, cb.n AS n_b,
           CAST(floor(n_shared * 10000.0 / (ca.n + cb.n - n_shared)) AS bigint) AS jaccard_bp
    FROM shared
    JOIN counts ca ON ca.source = source_a
    JOIN counts cb ON cb.source = source_b
    ORDER BY source_a, source_b"""

  // ----------------------------------------------------------- RAG chunking

  private val ChunkWords = 64
  private val ChunkStride = 48

  /** RAG-style chunking: overlapping fixed-size word windows (64 words,
    * stride 48 → 16-word overlap) — the step that turns cleaned documents
    * into retrieval units. Chunk count = ceil(max(n-W,0)/S)+1, so every
    * doc yields ≥1 chunk and the final window may run short. Pure per-row
    * map (sequence + slice inside one projection) — shuffle-free; at
    * 100 TB this is a scan that writes ~n/S× the rows, no exchange. */
  def chunk(spark: SparkSession, sfDir: String): DataFrame = {
    val (w, s) = (ChunkWords, ChunkStride)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (greatest(size(w) - $w, 0) + ${s - 1}) div $s),
                      i -> slice(w, i * $s + 1, $w))"""))
        .as(Seq("chunk_idx", "cw")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("cw")).cast("long").as("n_words"),
        array_join(col("cw"), " ").as("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val chunkSql: String = {
    val (w, s) = (ChunkWords, ChunkStride)
    s"""
    WITH d AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents
    ), e AS (
      SELECT doc_id,
             unnest(range(0, (greatest(len(w) - $w, 0) + ${s - 1}) // $s + 1)) AS chunk_idx,
             w
      FROM d
    )
    SELECT doc_id, CAST(chunk_idx AS bigint) AS chunk_idx,
           CAST(len(list_slice(w, chunk_idx * $s + 1, chunk_idx * $s + $w)) AS bigint) AS n_words,
           array_to_string(list_slice(w, chunk_idx * $s + 1, chunk_idx * $s + $w), ' ') AS chunk
    FROM e
    ORDER BY doc_id, chunk_idx"""
  }

  // ------------------------------------------------------------ BM25 search

  private val Bm25Query = Seq("spark", "join", "window")

  /** BM25 top-k retrieval (k1=1.2, b=0.75) for a fixed query term set —
    * the search half of a corpus pipeline (find documents about X).
    * Scoring is per-matched-term in integer MICRO units: the idf is
    * floored to a bigint first (floor(1e6·(N−df+0.5)/(df+0.5)) — the
    * Robertson idf without the log, same ranking monotonicity), each
    * term's contribution is floored to micro units, and the doc score is
    * an exact bigint sum — order-independent, so the oracle matches
    * bit-for-bit. Scalar double steps (the tf saturation denominator) are
    * identical expression trees in both engines (SURVEY §6).
    *
    * Shape: the query-term filter runs on the token ARRAY before anything
    * explodes — only matching occurrences ever become rows, so the sole
    * data-sized shuffle is the (doc, query-term) sliver; doc length rides
    * along from size(w) (never a full-corpus token explode or a dl join);
    * corpus stats are one single-row projection-only aggregate; df + stats
    * broadcast; top-10 is TakeOrdered. */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    val tot = Tables.documents(spark, sfDir)
      .select(size(words(lower(col("text")))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(lower(col("text"))).as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(filter(col("w"), t => t.isin(Bm25Query: _*))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = floor(lit(1000000.0) * (col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))).cast("long")
    val avgdl = col("total_tokens").cast("double") / col("n_docs").cast("double")
    val contrib = floor(col("idf").cast("double") * col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))))
      .cast("long")
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(tot))
      .withColumn("idf", idf)
      .select(col("doc_id"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), sum(col("c")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(10)
  }

  val bm25SearchSql: String = {
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""
    WITH tot AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len(string_split_regex(lower(text), '\\s+'))) AS bigint) AS total_tokens
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, len(w) AS dl,
               unnest(list_filter(w, t -> t IN ($inList))) AS term
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents)
      ) GROUP BY doc_id, dl, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               CAST(CAST(floor(1000000.0 * (n_docs - df + 0.5) / (df + 0.5)) AS bigint) AS double)
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS double)
                    / (CAST(total_tokens AS double) / CAST(n_docs AS double)))))
             ) AS bigint) AS c
      FROM tf JOIN df USING (term) CROSS JOIN tot
    )
    SELECT doc_id, count(*) AS n_matched, CAST(sum(c) AS bigint) AS score_micro
    FROM scored
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT 10"""
  }

  // -------------------------------------------------------- mixture weights

  /** Training-mixture reweighting: allocate a token budget across
    * languages by temperature sampling (τ = 0.5 — the multilingual
    * rebalancing move: w_lang ∝ √tokens upweights low-resource languages)
    * and proportionally within a language across sources. All integer
    * math: √ via floor(sqrt(x)) (exactly-rounded IEEE both engines),
    * shares in basis points via bigint division — oracle-exact.
    *
    * Shape: ONE data-sized shuffle (the (lang, source) aggregation);
    * everything after runs on the ~|langs×sources| result, with the
    * lang-level and global totals as broadcast-sized windows. */
  def mixWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val bySrc = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), size(words(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      // tiny after the agg, but it feeds two consumers (the lang rollup and
      // the final join) — materialize so the corpus is scanned once
      .localCheckpoint()
    val byLang = bySrc.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("lang_tokens"))
      .withColumn("w", floor(sqrt(col("lang_tokens"))).cast("long"))
    val tot = byLang.agg(sum(col("w")).as("total_w"),
      sum(col("lang_tokens")).as("total_tokens"))
    bySrc.join(broadcast(byLang), "lang").crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        expr("10000 * w div total_w * n_tokens div lang_tokens").as("target_bp"),
        expr("10000 * n_tokens div total_tokens").as("natural_bp"))
      .withColumn("boost_bp", expr("10000 * target_bp div natural_bp"))
      .orderBy(col("lang"), col("source"))
  }

  val mixWeightsSql: String = """
    WITH by_src AS (
      SELECT lang, source, count(*) AS n_docs,
             CAST(sum(len(string_split_regex(text, '\s+'))) AS bigint) AS n_tokens
      FROM documents GROUP BY lang, source
    ), by_lang AS (
      SELECT lang, CAST(sum(n_tokens) AS bigint) AS lang_tokens,
             CAST(floor(sqrt(CAST(sum(n_tokens) AS bigint))) AS bigint) AS w
      FROM by_src GROUP BY lang
    ), tot AS (
      SELECT CAST(sum(w) AS bigint) AS total_w,
             CAST(sum(lang_tokens) AS bigint) AS total_tokens
      FROM by_lang
    )
    SELECT s.lang, s.source, s.n_docs, s.n_tokens,
           (10000 * w // total_w * n_tokens // lang_tokens) AS target_bp,
           (10000 * n_tokens // total_tokens) AS natural_bp,
           (10000 * (10000 * w // total_w * n_tokens // lang_tokens)
                  // (10000 * n_tokens // total_tokens)) AS boost_bp
    FROM by_src s JOIN by_lang l USING (lang) CROSS JOIN tot
    ORDER BY lang, source"""

  // --------------------------------------------------------------- OOV rate

  /** Vocabulary coverage / OOV rate: per-document fraction of tokens not
    * in the induced top-100 vocabulary ([[vocab]]'s deterministic cut) —
    * the tokenizer-coverage check run before committing to a vocab. The
    * vocab is Zipf-small by construction → broadcast; per-doc counting is
    * one shuffle on doc_id over the token table. */
  def oovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(words(lower(col("text")))).as("term"))
      .localCheckpoint() // feeds the vocab cut AND the per-doc counting
    val voc = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tf").desc, col("term"))
      .limit(100)
      .select(col("term"), lit(1).as("in_vocab"))
    terms.join(broadcast(voc), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("10000 * n_oov div n_tokens").as("oov_bp"))
      .orderBy(col("doc_id"))
  }

  val oovRateSql: String = """
    WITH terms AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents
    ), voc AS (
      SELECT term FROM (
        SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM terms GROUP BY term
      )
      ORDER BY df DESC, tf DESC, term
      LIMIT 100
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN term IN (SELECT term FROM voc) THEN 0 ELSE 1 END) AS bigint) AS n_oov,
           (10000 * CAST(sum(CASE WHEN term IN (SELECT term FROM voc) THEN 0 ELSE 1 END) AS bigint)
             // count(*)) AS oov_bp
    FROM terms
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------------------- curriculum

  /** Curriculum-stage assignment: quartile-bucket the corpus by quality
    * score (ntile over the fully-tied-broken (q_bp, doc_id) order — both
    * engines agree exactly) and report each stage's size, score range,
    * and token budget — the table a curriculum scheduler consumes to
    * order training from easy/clean to hard/noisy data. The global ntile
    * sort is the exact-order-statistics posture (same as
    * `q_percentiles`); at corpus scale the cutpoints would come from the
    * log-bucket sketch instead and the stage gate becomes a per-row
    * comparison — the readout below is identical either way. */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), qualityBp(col("text")).as("q_bp"),
        size(words(col("text"))).cast("long").as("n_toks"))
    d.withColumn("stage",
        ntile(4).over(Window.orderBy(col("q_bp"), col("doc_id"))).cast("long"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), min(col("q_bp")).as("min_q_bp"),
        max(col("q_bp")).as("max_q_bp"), sum(col("n_toks")).as("n_toks"))
      .orderBy(col("stage"))
  }

  val curriculumSql: String = s"""
    WITH d AS (
      SELECT doc_id, $qualityBpSql AS q_bp,
             CAST(len(string_split_regex(text, '\\s+')) AS bigint) AS n_toks
      FROM documents
    )
    SELECT stage, count(*) AS n_docs,
           min(q_bp) AS min_q_bp, max(q_bp) AS max_q_bp,
           CAST(sum(n_toks) AS bigint) AS n_toks
    FROM (SELECT CAST(ntile(4) OVER (ORDER BY q_bp, doc_id) AS bigint) AS stage,
                 q_bp, n_toks
          FROM d)
    GROUP BY stage
    ORDER BY stage"""

  // ----------------------------------------------------- span dup rate

  /** ExactSubstr-style duplicated-span SCRUB (the materializer Lee et al.
    * 2021 actually run, where [[spanDupRate]] is only the readout): every
    * word-8-gram that occurs more than once corpus-wide keeps its single
    * globally-first occurrence (ordered by doc_id, then position) and is
    * REMOVED everywhere else — overlapping spans union into covered word
    * intervals, and each doc is rebuilt from its surviving words. Output
    * per doc: word counts, removed-word count, keep rate and the md5 of
    * the rebuilt text (the cleaned corpus fingerprint, hash-checked
    * against the oracle's independent rebuild).
    *
    * Scale shape: one shuffle keyed on the span hash (row_number window —
    * the same first-occurrence recipe as `d_dedup_exact`), one explode of
    * DUP spans only into covered indices, one (doc_id, idx) join back and
    * one per-doc aggregation. No self-join, no driver state; the span
    * domain is ~|corpus words| rows of 34 bytes. At 100 TB this is the
    * canonical inverted-index + rebuild pipeline, partitioned end-to-end
    * by span hash then doc_id. */
  /** Shared scrub core: (docs(doc_id, ws), cov(doc_id, idx)) — the
    * checkpointed word arrays and the DISTINCT covered word indices
    * (union of all duplicated 8-gram spans, global-first occurrence
    * excluded). Feeds [[substrScrub]]'s rebuild and the
    * [[spanIslands]]/[[spanLengthHist]] maximal-interval readouts. */
  private def scrubWordsAndCov(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val K = 8
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .localCheckpoint() // feeds the span table AND the word rebuild
    val spans = docs
      .filter(size(col("ws")) >= K) // sequence(1, n<1) would step backwards
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), size(col("ws")) - K + 1)).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(concat_ws(" ", slice(col("ws"), col("pos"), lit(K)))).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    val cov = spans.withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1) // dup spans: everything but the global first
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + K - 1)).as("idx"))
      .distinct()
    (docs, cov)
  }

  /** Gaps-and-islands merge of a covered-index table (doc_id, idx) into
    * MAXIMAL intervals: consecutive indices share `idx − row_number()`
    * within a doc, so one per-doc window pass + one groupBy yields each
    * island's start/end/length. The window sorts per doc (bounded by doc
    * length), never globally — the 100 TB shape. Exposed for the spec's
    * engineered overlapping runs. */
  def mergeIslands(cov: DataFrame): DataFrame = {
    val wI = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    cov.withColumn("grp", col("idx") - row_number().over(wI))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("idx")).as("start"), max(col("idx")).as("end"),
        count(lit(1)).as("len"))
      .select(col("doc_id"), col("start"), col("end"), col("len"))
  }

  def substrScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val (docs, cov) = scrubWordsAndCov(spark, sfDir)
    val wordRows = docs
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("idx"), col("w"))
    wordRows.join(cov.withColumn("c", lit(1)), Seq("doc_id", "idx"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_removed"),
        // collect_list skips the nulls → only surviving words, re-ordered
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("c").isNull, struct(col("idx"), col("w"))))),
          s => s.getField("w")))).as("clean_md5"))
      .select(col("doc_id"), col("n_words"), col("n_removed"),
        floor((col("n_words") - col("n_removed")) * 10000.0 / col("n_words"))
          .cast("long").as("keep_bp"),
        col("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val substrScrubSql: String = """
    WITH w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS bigint) AS pos,
             md5(list_aggregate(ws[i:i+7], 'string_agg', ' ')) AS h
      FROM w, unnest(range(1, len(ws) - 8 + 2)) AS t(i)
    ), cov AS (
      SELECT DISTINCT doc_id, CAST(j AS bigint) AS idx
      FROM (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM g) r, unnest(range(r.pos, r.pos + 8)) AS u(j)
      WHERE rn > 1
    ), wr AS (
      SELECT doc_id, CAST(i AS bigint) AS idx, ws[i] AS w
      FROM w, unnest(range(1, len(ws) + 1)) AS t(i)
    )
    SELECT doc_id, n_words, n_removed,
           CAST(floor((n_words - n_removed) * 10000.0 / n_words) AS bigint) AS keep_bp,
           clean_md5
    FROM (
      SELECT wr.doc_id,
             CAST(count(*) AS bigint) AS n_words,
             CAST(sum(CASE WHEN cov.idx IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_removed,
             md5(coalesce(string_agg(CASE WHEN cov.idx IS NULL THEN wr.w END, ' ' ORDER BY wr.idx), '')) AS clean_md5
      FROM wr LEFT JOIN cov ON wr.doc_id = cov.doc_id AND wr.idx = cov.idx
      GROUP BY wr.doc_id
    )
    ORDER BY doc_id"""

  /** Shared oracle CTE chain: word arrays → 8-gram span hashes →
    * DISTINCT covered indices → gaps-and-islands maximal intervals
    * (DuckDB re-derives the same `idx − row_number()` grouping). */
  private val covIslandsCteSql: String = """
    w AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS bigint) AS pos,
             md5(list_aggregate(ws[i:i+7], 'string_agg', ' ')) AS h
      FROM w, unnest(range(1, len(ws) - 8 + 2)) AS t(i)
    ), cov AS (
      SELECT DISTINCT doc_id, CAST(j AS bigint) AS idx
      FROM (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM g) r, unnest(range(r.pos, r.pos + 8)) AS u(j)
      WHERE rn > 1
    ), islands AS (
      SELECT doc_id, min(idx) AS start, max(idx) AS "end",
             CAST(count(*) AS bigint) AS len
      FROM (SELECT doc_id, idx,
                   idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
            FROM cov)
      GROUP BY doc_id, grp
    )"""

  /** Maximal duplicated-span readout per doc — the Lee et al.
    * suffix-array statistic the fixed-window scrub approximates: merge
    * [[substrScrub]]'s covered indices into maximal intervals
    * (gaps-and-islands, [[mergeIslands]]) and report each doc's island
    * count, covered words, LONGEST duplicated span and where it starts
    * (smallest start on length ties). `covered_words` equals the scrub's
    * `n_removed` by construction — spec-asserted cross-check. Same scale
    * shape as the scrub plus one per-doc-bounded window pass. */
  def spanIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, cov) = scrubWordsAndCov(spark, sfDir)
    mergeIslands(cov)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"), sum(col("len")).as("covered_words"),
        max(col("len")).as("longest_span"),
        // argmax by (len desc, start asc): smallest start wins a length tie
        (-max(struct(col("len"), (-col("start")).as("neg"))).getField("neg"))
          .as("longest_start"))
      .orderBy(col("doc_id"))
  }

  val spanIslandsSql: String = s"""
    WITH $covIslandsCteSql,
    per AS (
      SELECT doc_id, CAST(count(*) AS bigint) AS n_islands,
             CAST(sum(len) AS bigint) AS covered_words
      FROM islands GROUP BY doc_id
    ), best AS (
      SELECT doc_id, CAST(len AS bigint) AS longest_span,
             CAST(start AS bigint) AS longest_start
      FROM (SELECT doc_id, len, start,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY len DESC, start) AS rk
            FROM islands)
      WHERE rk = 1
    )
    SELECT p.doc_id, p.n_islands, p.covered_words, b.longest_span, b.longest_start
    FROM per p JOIN best b ON p.doc_id = b.doc_id
    ORDER BY p.doc_id"""

  /** Span-length histogram over the merged maximal intervals: how long
    * do duplicated runs actually get, corpus-wide — island count, docs
    * touched and words covered per length. The |lengths| domain is
    * bounded by the longest doc, so the final agg is a tiny shuffle. */
  def spanLengthHist(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, cov) = scrubWordsAndCov(spark, sfDir)
    mergeIslands(cov)
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n_islands"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("len")).as("covered_words"))
      .orderBy(col("len"))
  }

  val spanLengthHistSql: String = s"""
    WITH $covIslandsCteSql
    SELECT len, CAST(count(*) AS bigint) AS n_islands,
           CAST(count(DISTINCT doc_id) AS bigint) AS n_docs,
           CAST(sum(len) AS bigint) AS covered_words
    FROM islands
    GROUP BY len
    ORDER BY len"""

  /** Span-level duplication rate (the Lee et al. 2021 "deduplicating
    * training data" corpus readout): for each doc, what fraction of its
    * distinct 3-gram spans also occurs in at least one OTHER doc — the
    * per-doc number that tells you how much of a document survives
    * span-level dedup, as opposed to the pairwise views (`d_containment`)
    * or the corpus-level hot-shingle list (`t_top_shingles`). Spans ride
    * the shared 60-bit shingle keys; df ≥ 2 over per-doc-deduped keys ⇒
    * the span exists elsewhere. Shuffle posture: one shingle-key groupBy
    * for the df table, one equi-join back, one per-doc re-agg — the
    * standard inverted-index shape; no self-join, and the df table stays
    * key-partitioned (never collected or broadcast). */
  def spanDupRate(spark: SparkSession, sfDir: String): DataFrame = {
    val ex = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(graft.functions.word_shingle_keys(col("text"))).as("sh"))
      .localCheckpoint() // feeds the df histogram AND the rejoin probe
    val dfT = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    ex.join(dfT, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        floor(col("n_dup") * 10000.0 / col("n_spans")).cast("long").as("dup_bp"))
      .orderBy(col("doc_id"))
  }

  val spanDupRateSql: String = s"""
    WITH ex AS (
      SELECT doc_id, unnest(shs) AS sh FROM (
        SELECT doc_id, ${shingleKeysSql("text")} AS shs
        FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
      )
    ), dfs AS (
      SELECT sh, count(*) AS df FROM ex GROUP BY sh
    )
    SELECT doc_id, count(*) AS n_spans,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_dup,
           CAST(floor(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS bigint) AS dup_bp
    FROM ex JOIN dfs USING (sh)
    GROUP BY doc_id
    ORDER BY doc_id"""

  // ------------------------------------------------------- gopher rules

  /** Gopher-style quality-rule audit (Rae et al. 2021 §A1.1, re-expressed
    * as integer predicates): per source, how many docs each rule would
    * drop and how many pass all of them. Rules: word count outside
    * [10, 1000]; mean word length outside [3, 10] (integer form:
    * non-ws chars vs 3·nw / 10·nw); symbol-to-word ratio > 0.1 (ellipsis
    * or '#'); < 80% of words containing an alphabetic char; fewer than 2
    * distinct stopwords present. Per-row predicate evaluation, one
    * map-side-combined shuffle onto the |sources| domain — scale-free. */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = filter(words(col("text")), w => length(w) > lit(0))
    val stopArr = array(Stopwords.map(lit): _*)
    val d = Tables.documents(spark, sfDir).select(
      col("source"),
      size(toks).cast("long").as("nw"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nc"),
      regexp_count(col("text"), lit("(\\.\\.\\.|#)")).cast("long").as("nsym"),
      size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("long").as("nalpha"),
      size(filter(stopArr, s => array_contains(words(lower(col("text"))), s)))
        .cast("long").as("nstop"))
    val fWc    = col("nw") < 10 || col("nw") > 1000
    val fMwl   = col("nc") < lit(3) * col("nw") || col("nc") > lit(10) * col("nw")
    val fSym   = lit(10) * col("nsym") > col("nw")
    val fAlpha = lit(5) * col("nalpha") < lit(4) * col("nw")
    val fStop  = col("nstop") < 2
    def cnt(f: Column): Column = sum(when(f, 1L).otherwise(0L))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        cnt(fWc).as("n_fail_wc"), cnt(fMwl).as("n_fail_mwl"),
        cnt(fSym).as("n_fail_sym"), cnt(fAlpha).as("n_fail_alpha"),
        cnt(fStop).as("n_fail_stop"),
        cnt(!(fWc || fMwl || fSym || fAlpha || fStop)).as("n_pass"))
      .orderBy(col("source"))
  }

  val gopherRulesSql: String = s"""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS bigint) AS nw,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS bigint) AS nc,
             CAST(len(regexp_extract_all(text, '(\\.\\.\\.|#)')) AS bigint) AS nsym,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  w -> regexp_matches(w, '[a-zA-Z]'))) AS bigint) AS nalpha,
             CAST(len(list_filter($stopListSql,
                                  s -> list_contains(string_split_regex(lower(text), '\\s+'), s))) AS bigint) AS nstop
      FROM documents
    ), f AS (
      SELECT source,
             (nw < 10 OR nw > 1000) AS f_wc,
             (nc < 3 * nw OR nc > 10 * nw) AS f_mwl,
             (10 * nsym > nw) AS f_sym,
             (5 * nalpha < 4 * nw) AS f_alpha,
             (nstop < 2) AS f_stop
      FROM d
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS bigint) AS n_fail_wc,
           CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS bigint) AS n_fail_mwl,
           CAST(sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS bigint) AS n_fail_sym,
           CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS bigint) AS n_fail_alpha,
           CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS bigint) AS n_fail_stop,
           CAST(sum(CASE WHEN NOT (f_wc OR f_mwl OR f_sym OR f_alpha OR f_stop)
                    THEN 1 ELSE 0 END) AS bigint) AS n_pass
    FROM f
    GROUP BY source
    ORDER BY source"""

  // ---------------------------------------------------------- DSIR weights

  /** DSIR-style importance readout (Xie et al. 2023, hashed-n-gram
    * importance sampling) with an integer-exact scoring rule: tokens hash
    * into 64 md5 buckets; per-bucket counts are taken for the "target"
    * style corpus (sources src0–src3) and the rest; each doc scores
    * +1/−1/0 per token for buckets over/under/at-parity between target and
    * raw, compared by integer cross-multiplication (cnt_t·tot_r vs
    * cnt_r·tot_t — no float log-ratios, so the oracle re-derives it
    * bit-for-bit; at real scale you'd switch the sign test to the
    * log-likelihood-ratio sum, same plan shape). Shuffle posture: one
    * token explode feeding (a) the 64-row bucket table — broadcast back —
    * and (b) the per-doc re-agg with map-side combine. Never a corpus
    * self-join. */
  def dsirWeight(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val TargetSrcs = Seq("src0", "src1", "src2", "src3")
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        col("source").isInCollection(TargetSrcs).as("is_t"),
        explode(filter(words(lower(col("text"))), w => length(w) > lit(0))).as("tok"))
      .withColumn("b", conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long") % 64)
      .localCheckpoint(false) // feeds the bucket histogram AND the per-doc score
    val buckets = toks.groupBy(col("b"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("cnt_r"))
    val tot = buckets.agg(sum(col("cnt_t")).as("tot_t"), sum(col("cnt_r")).as("tot_r"))
    val bt = broadcast(buckets.crossJoin(broadcast(tot)))
    toks.join(bt, "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("cnt_t") * col("tot_r") > col("cnt_r") * col("tot_t"), 1L)
          .when(col("cnt_t") * col("tot_r") < col("cnt_r") * col("tot_t"), -1L)
          .otherwise(0L)).as("score"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightSql: String = """
    WITH toks AS (
      SELECT doc_id, source, (source IN ('src0', 'src1', 'src2', 'src3')) AS is_t,
             CAST('0x' || substr(md5(tok), 1, 6) AS BIGINT) % 64 AS b
      FROM (SELECT doc_id, source,
                   unnest(string_split_regex(lower(text), '\s+')) AS tok
            FROM documents)
      WHERE tok <> ''
    ), buckets AS (
      SELECT b,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS bigint) AS cnt_t,
             CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS bigint) AS cnt_r
      FROM toks GROUP BY b
    ), tot AS (
      SELECT sum(cnt_t) AS tot_t, sum(cnt_r) AS tot_r FROM buckets
    )
    SELECT doc_id, source, CAST(count(*) AS bigint) AS n_toks,
           CAST(sum(CASE WHEN cnt_t * tot_r > cnt_r * tot_t THEN 1
                         WHEN cnt_t * tot_r < cnt_r * tot_t THEN -1
                         ELSE 0 END) AS bigint) AS score
    FROM toks JOIN buckets USING (b) CROSS JOIN tot
    GROUP BY doc_id, source
    ORDER BY doc_id"""

  /** Per-document type-token ratio — the lexical-diversity quality
    * signal (low TTR = chant-like repetition even when no single n-gram
    * dominates; the per-DOC complement of the per-source
    * `t_ngram_diversity`): distinct words / total words in bp, plus a
    * hapax share (words occurring once — the vocabulary-richness end).
    * Shuffle-free per-row map over codegen'd array ops; hapax counting is
    * sort + adjacent-run scan, O(n log n) per document — never the
    * nested per-type rescan, which is quadratic for long documents.
    * (Adjacency equality is order-independent, so engine collation
    * differences in the sort can't shift the count.) CASE guards keep
    * the i±1 probes lazy — ANSI Spark would otherwise raise on the
    * boundary element_at. */
  def ttr(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = words(lower(col("text")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_types"),
        array_sort(toks).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("""CASE WHEN n_tokens = 0 THEN CAST(0 AS bigint)
          ELSE CAST(size(filter(sequence(1, CAST(n_tokens AS int)), i ->
            (CASE WHEN i = 1 THEN true
                  ELSE element_at(s, i) <> element_at(s, i - 1) END) AND
            (CASE WHEN i = CAST(n_tokens AS int) THEN true
                  ELSE element_at(s, i) <> element_at(s, i + 1) END))) AS bigint)
          END""").as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        floor(col("n_types") * 10000.0 / col("n_tokens")).cast("long").as("ttr_bp"),
        floor(col("n_hapax") * 10000.0 / col("n_tokens")).cast("long").as("hapax_bp"))
      .orderBy(col("doc_id"))
  }

  val ttrSql: String = """
    SELECT doc_id, n_tokens, n_types,
           CAST(floor(n_types * 10000.0 / n_tokens) AS bigint) AS ttr_bp,
           CAST(floor(n_hapax * 10000.0 / n_tokens) AS bigint) AS hapax_bp
    FROM (
      SELECT doc_id,
             CAST(len(w) AS bigint) AS n_tokens,
             CAST(len(list_distinct(w)) AS bigint) AS n_types,
             CASE WHEN len(w) = 0 THEN CAST(0 AS bigint)
                  ELSE CAST(len(list_filter(range(1, len(w) + 1), i ->
                    (CASE WHEN i = 1 THEN true ELSE s[i] <> s[i - 1] END) AND
                    (CASE WHEN i = len(w) THEN true ELSE s[i] <> s[i + 1] END)))
                    AS bigint)
             END AS n_hapax
      FROM (SELECT doc_id, w, list_sort(w) AS s
            FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents))
    )
    ORDER BY doc_id"""

  /** GPT-3-style 13-gram eval decontamination (Brown et al. appendix C):
    * flag every TRAINING doc sharing at least one exact word-13-gram
    * with the eval split — the canonical long-window variant next to
    * [[decontaminate]]'s 3-gram containment score (13-grams barely ever
    * collide by chance, so ANY hit is verbatim leakage; no threshold
    * tuning). Same shuffle posture: one shingle explode materialized
    * once, eval grams broadcast (eval sets are small by construction),
    * per-train-doc hit counts on the doc key. Docs under 13 words fall
    * back to a whole-text hash — identical in both engines. */
  def decontaminate13(spark: SparkSession, sfDir: String): DataFrame = {
    val w = words(col("text"))
    val grams = when(size(w) >= 13,
      transform(sequence(lit(1), size(w) - 12),
        i => conv(substring(md5(array_join(slice(w, i, lit(13)), " ")), 1, 15), 16, 10)
          .cast("long")))
      .otherwise(array(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")))
    val base = deconShinglesMemo.getOrBuild(spark, s"$sfDir|13gram") {
      // r13: same staging memo as [[decontaminate]] — the 13-gram explode
      // is the whole query at every SF
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(grams)).as("g"))
        .localCheckpoint()
    }
    val ev = base.filter(col("source") === "src0").select(col("g")).distinct()
    base.filter(col("source") =!= "src0")
      .select(col("doc_id").as("train_id"), col("g"))
      .join(broadcast(ev), "g")
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("train_id"))
  }

  val decontaminate13Sql: String = """
    WITH g0 AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               CASE WHEN len(w) >= 13
                 THEN list_transform(range(1, len(w) - 11),
                   i -> CAST('0x' || substr(md5(array_to_string(w[i:i+12], ' ')), 1, 15) AS BIGINT))
                 ELSE [CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)] END)) AS g
      FROM (SELECT doc_id, source, text, string_split_regex(text, '\s+') AS w FROM documents)
    ), ev AS (
      SELECT DISTINCT g FROM g0 WHERE source = 'src0'
    )
    SELECT doc_id AS train_id, CAST(count(*) AS bigint) AS n_hits
    FROM g0 JOIN ev USING (g)
    WHERE source <> 'src0'
    GROUP BY doc_id
    ORDER BY train_id"""

  /** Dedup cluster-size histogram — the one-glance shape readout over
    * the connected-component clustering (how much of the corpus sits in
    * big dup families vs singletons; the number that decides whether
    * keep-one dedup is worth a pipeline stage). Derived entirely from
    * the audited [[dedupClusters]] plan; the histogram is a groupBy on
    * the bounded size domain. */
  def clusterSizes(spark: SparkSession, sfDir: String): DataFrame =
    dedupClusters(spark, sfDir)
      .select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  lazy val clusterSizesSql: String = s"""
    WITH cl AS ($dedupClustersSql)
    SELECT cluster_size, CAST(count(DISTINCT cluster_id) AS bigint) AS n_clusters,
           CAST(cluster_size * count(DISTINCT cluster_id) AS bigint) AS n_docs
    FROM cl
    GROUP BY cluster_size
    ORDER BY cluster_size"""

  /** Winnowing fingerprint near-dup pairs (Schleimer–Wilkerson–Aiken,
    * MOSS): per document, the shingle-hash SEQUENCE (order kept,
    * duplicates kept) is scanned with a sliding window of w = 4 hashes
    * and each window's minimum is selected; the distinct selected hashes
    * are the document's fingerprints — ~1/w the shingle count, with the
    * winnowing guarantee that any shared run of ≥ w+2 consecutive words
    * yields at least one shared fingerprint. Docs are then paired on
    * shared fingerprints exactly like the jaccard candidate generator
    * (df-capped equi-join on the 60-bit key, never all-pairs) and scored
    * by containment over the SMALLER fingerprint set. The point at 100 TB:
    * the pair join runs over a table w× smaller than the full shingle
    * index, trading guaranteed-bounded recall loss for a 4× cut in join
    * input — the standard plagiarism/CC-pipeline posture. Windows
    * partition by doc_id (per-doc sequences, bounded by doc length);
    * everything is md5/integer arithmetic, oracle-exact. */
  def winnow(spark: SparkSession, sfDir: String): DataFrame =
    winnowPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** [[winnow]]'s unsorted pair table — r12: memoized (ChainMemo, pqCore
    * posture) because three declared rows re-derived the fingerprint
    * index + pair join (`d_winnow`, `d_winnow_eval`,
    * `d_winnow_eval_sampled`). */
  private val winnowMemo = new graft.operators.ChainMemo[DataFrame]()
  private[queries] def winnowPairs(spark: SparkSession, sfDir: String): DataFrame =
    winnowMemo.getOrBuild(spark, sfDir) {
      winnowBuild(spark, sfDir).localCheckpoint(false)
    }

  private[graft] def winnowBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"), graft.functions.word_shingle_seq(col("text")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("m"),
        posexplode(col("shs")).as(Seq("pos", "sh")))
      .withColumn("wmin", min(col("sh")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.currentRow, 3)))
      .filter(col("pos") <= greatest(col("m") - 4, lit(0)))
      .select(col("doc_id"), col("wmin").as("sh")).distinct()
      .withColumn("n_fp", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .localCheckpoint() // feeds the df window AND both join sides
    val kept = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("df") <= graft.operators.Dedup.DefaultMaxShingleDf)
      .drop("df")
    kept.as("x").join(kept.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        first(col("x.n_fp")).as("nfa"), first(col("y.n_fp")).as("nfb"))
      .filter(col("n_shared") >= 2)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        floor(col("n_shared") * 10000.0 / least(col("nfa"), col("nfb")))
          .cast("long").as("overlap_bp"))
  }

  val winnowSql: String = s"""
    WITH seq AS (
      SELECT doc_id,
             list_transform(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
               ELSE [text] END,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS shs
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM documents)
    ), s0 AS (
      SELECT doc_id, len(shs) AS m,
             unnest(range(1, len(shs) + 1)) AS pos, unnest(shs) AS sh
      FROM seq
    ), fp AS (
      SELECT DISTINCT doc_id, wmin AS sh FROM (
        SELECT doc_id, pos, m,
               min(sh) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM s0
      ) WHERE pos <= greatest(m - 3, 1)
    ), fpn AS (
      SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n_fp FROM fp
    ), kept AS (
      SELECT doc_id, sh, n_fp FROM (
        SELECT doc_id, sh, n_fp, count(*) OVER (PARTITION BY sh) AS df FROM fpn
      ) WHERE df <= ${graft.operators.Dedup.DefaultMaxShingleDf}
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(floor(n_shared * 10000.0 / least(nfa, nfb)) AS bigint) AS overlap_bp
    FROM (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             CAST(count(*) AS bigint) AS n_shared,
             any_value(x.n_fp) AS nfa, any_value(y.n_fp) AS nfb
      FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    WHERE n_shared >= 2
    ORDER BY doc_a, doc_b"""

  /** BPE first-merge mining — the pair-counting step at the heart of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016):
    * adjacent character-pair frequencies over the corpus, each pair
    * weighted by the corpus frequency of the word forms it occurs in;
    * the top pair is the merge a BPE trainer would perform first, and
    * repeating this readout after applying a merge IS the training loop.
    * Shuffle posture — the reason BPE training is tractable at 100 TB:
    * one token shuffle builds the VOCABULARY (word form → corpus count,
    * a domain bounded by |vocab|, not corpus tokens), the char-pair
    * expansion then runs map-side over vocab rows only (each distinct
    * word form is scanned once no matter how often it occurs), and the
    * final count shuffles the pair domain (≤ |vocab|·max_len) with
    * partial combine. Top-20 is TakeOrdered; n_forms = distinct word
    * forms containing the pair. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(words(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .filter(length(col("term")) >= 2)
      .select(col("term"), col("freq"), explode(transform(
        sequence(lit(1), length(col("term")) - 1),
        i => col("term").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n_occ"), countDistinct(col("term")).as("n_forms"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(20)

  val bpeMergesSql: String = """
    WITH v AS (
      SELECT term, CAST(count(*) AS bigint) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term FROM documents)
      GROUP BY term
    ), p AS (
      SELECT term, freq,
             unnest(list_transform(range(1, length(term)),
                                   i -> substr(term, CAST(i AS int), 2))) AS pair
      FROM v WHERE length(term) >= 2
    )
    SELECT pair, CAST(sum(freq) AS bigint) AS n_occ,
           CAST(count(DISTINCT term) AS bigint) AS n_forms
    FROM p GROUP BY pair
    ORDER BY n_occ DESC, pair
    LIMIT 20"""

  /** Merges mined by [[bpeLoop]]. */
  val BpeLoopMerges = 8

  /** BPE merge LOOP — the full Sennrich et al. 2016 training iteration
    * [[bpeMerges]] only samples the first step of: m = [[BpeLoopMerges]]
    * rounds over the freq-weighted vocab table, each round (1) counting
    * adjacent symbol pairs, (2) adopting the most frequent pair (ties →
    * lexicographically smallest) as a new symbol, and (3) re-segmenting
    * every form — so later merges see the earlier ones, which is what
    * makes BPE BPE. Per round the output reports the adopted pair, its
    * count at adoption time, and the corpus token count after applying
    * it (freq-weighted Σ symbols) plus tokens-per-10k-chars — the
    * compression / fertility-shift trajectory against [[fertility]].
    *
    * Representation: each form's segmentation is a STRING of
    * chr(1)+sym+chr(2) units, so "apply merge (a,b)" is one
    * `replace(enc, ⟨a⟩⟨b⟩, ⟨ab⟩)` — left-to-right non-overlapping
    * replace IS greedy BPE application, and both engines share its
    * semantics exactly (the delimiters make matches unambiguous and
    * non-boundary-sharing). Scale shape: everything runs on the
    * |vocab|-bounded form table (corpus-independent after the one
    * word-count shuffle); the adopted pair is a 1-row broadcast per
    * round; the rounds run under [[graft.operators.Rounds.fixed]],
    * mirrored by the oracle's unrolled CTE chain. */
  def bpeLoop(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrain(spark, sfDir)._2.reduce(_ unionByName _).orderBy(col("merge_no"))

  /** The shared training loop: returns (final re-segmented vocab
    * `(term, freq, enc)` after [[BpeLoopMerges]] merges, the per-round
    * report frames). [[bpeLoop]] publishes the trajectory; [[bpeApply]]
    * takes the final vocab to the whole corpus. */
  // r12: t_bpe_loop and t_bpe_apply each re-ran the full merge loop —
  // ChainMemo (pqCore posture) shares one training run per session
  private val bpeMemo =
    new graft.operators.ChainMemo[(DataFrame, Seq[DataFrame])]()
  private[queries] def bpeTrain(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[DataFrame]) =
    bpeMemo.getOrBuild(spark, sfDir)(bpeTrainBuild(spark, sfDir))

  private def bpeTrainBuild(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val encOf = regexp_replace(col("term"), "(.)", "\u0001$1\u0002")
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(words(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .select(col("term"), col("freq"), encOf.as("enc"))
      .localCheckpoint()
    val chars = vocab.agg(sum(col("freq") * length(col("term"))).as("chars"))
      .collect()(0).getAs[Long]("chars")
    val nsym = length(col("enc")) - length(expr("replace(enc, chr(1), '')"))
    // each round's state is the re-segmented vocab plus the pair it
    // adopted (pa, pb, n_occ on every row), so a round's report reads
    // only its own state; `done` collects the states the loop moved past
    val done = Seq.newBuilder[DataFrame]
    val last = graft.operators.Rounds.fixed("bpe", vocab, BpeLoopMerges) { (v, r) =>
      if (r > 1) done += v
      val pairs = v
        .select(col("freq"),
          split(expr("substring(enc, 2, length(enc) - 2)"), "\u0002\u0001").as("syms"))
        .filter(size(col("syms")) >= 2) // sequence(1, 0) would step backwards
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
            "'pa', element_at(syms, CAST(i AS int)), " +
            "'pb', element_at(syms, CAST(i + 1 AS int))))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("n_occ"))
      val best = pairs.orderBy(col("n_occ").desc, col("pa"), col("pb")).limit(1)
      v.select(col("term"), col("freq"), col("enc")).crossJoin(broadcast(best))
        .select(col("term"), col("freq"), expr(
          "replace(enc, concat(chr(1), pa, chr(2), chr(1), pb, chr(2)), " +
            "concat(chr(1), pa, pb, chr(2)))").as("enc"),
          col("pa"), col("pb"), col("n_occ"))
    }
    val reports = (done.result() :+ last).zipWithIndex.map { case (v, i) =>
      v.groupBy(col("pa"), col("pb"), col("n_occ"))
        .agg(sum(col("freq") * nsym).as("corpus_tokens"))
        .select(lit(i + 1L).as("merge_no"), col("pa"), col("pb"),
          col("n_occ"), col("corpus_tokens"),
          expr(s"corpus_tokens * 10000 div $chars").as("tok_per_10k_chars"))
    }
    (last.select(col("term"), col("freq"), col("enc")), reports)
  }

  /** The unrolled training CTE chain (bv0..bv8 + per-round best/report
    * CTEs), shared by [[bpeLoopSql]] and [[bpeApplySql]]. */
  private val bpeLoopCtes: String = {
    val S = "chr(1)"; val E = "chr(2)"
    val roundCtes = (1 to BpeLoopMerges).map { r =>
      s"""bp$r AS (
      SELECT syms[i] AS pa, syms[i + 1] AS pb, CAST(sum(freq) AS bigint) AS n_occ
      FROM (SELECT freq,
                   string_split(substr(enc, 2, length(enc) - 2), $E || $S) AS syms
            FROM bv${r - 1} WHERE length(enc) >= 6),
           unnest(range(1, len(syms))) AS t(i)
      GROUP BY 1, 2
    ), bb$r AS (
      SELECT pa, pb, n_occ FROM bp$r ORDER BY n_occ DESC, pa, pb LIMIT 1
    ), bv$r AS (
      SELECT term, freq,
             replace(enc, $S || pa || $E || $S || pb || $E, $S || pa || pb || $E) AS enc
      FROM bv${r - 1} CROSS JOIN bb$r
    ), bs$r AS (
      SELECT CAST($r AS bigint) AS merge_no, b.pa, b.pb, b.n_occ,
             CAST(sum(freq * (length(enc) - length(replace(enc, $S, '')))) AS bigint) AS corpus_tokens
      FROM bv$r CROSS JOIN bb$r b
      GROUP BY b.pa, b.pb, b.n_occ
    )"""
    }.mkString(", ")
    s"""bv0 AS (
      SELECT term, CAST(count(*) AS bigint) AS freq,
             regexp_replace(term, '(.)', $S || '\\1' || $E, 'g') AS enc
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term FROM documents)
      GROUP BY term
    ), bchars AS (
      SELECT CAST(sum(freq * length(term)) AS bigint) AS chars FROM bv0
    ), $roundCtes"""
  }

  val bpeLoopSql: String = {
    val unions = (1 to BpeLoopMerges).map(r => s"SELECT * FROM bs$r").mkString(" UNION ALL ")
    s"""
    WITH $bpeLoopCtes
    SELECT merge_no, pa, pb, n_occ, corpus_tokens,
           corpus_tokens * 10000 // (SELECT chars FROM bchars) AS tok_per_10k_chars
    FROM ($unions)
    ORDER BY merge_no"""
  }

  /** Corpus-scale BPE APPLICATION — the half of tokenizer training that
    * actually touches 100 TB (VERDICT r9 item 3): apply [[bpeLoop]]'s
    * learned merge table to EVERY document and report, per source, the
    * real token counts + fertility against [[fertility]]'s whitespace
    * baseline. Semantics: greedy left-to-right delimiter-wrapped replace,
    * identical to training — and since merges never cross word
    * boundaries, a document's BPE token count is the SUM of its word
    * forms' symbol counts. That additivity is the scale lever: the corpus
    * side aggregates to the (source, term) domain FIRST (map-side
    * combined — each distinct word form per source crosses the wire
    * once, the [[bpeMerges]] vocabulary posture), then one equi-join
    * against the |vocab|-bounded re-segmented form table prices every
    * document; no corpus-sized row ever carries a segmentation string.
    * Output per source: docs, whitespace tokens, BPE tokens, fertility
    * (BPE tokens per 10⁴ whitespace tokens) and compression (BPE tokens
    * per 10⁴ word chars — comparable to [[bpeLoop]]'s trajectory
    * column). */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = bpeTrain(spark, sfDir)._1
    val nsym = length(col("enc")) - length(expr("replace(enc, chr(1), '')"))
    val formTok = vocab.select(col("term"), nsym.cast("long").as("n_syms"))
    val bySourceTerm = Tables.documents(spark, sfDir)
      .select(col("source"), explode(words(lower(col("text")))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("n_occ"))
    val applied = bySourceTerm.join(formTok, "term")
      .groupBy(col("source"))
      .agg(sum(col("n_occ")).as("ws_tokens"),
        sum(col("n_occ") * col("n_syms")).as("bpe_tokens"),
        sum(col("n_occ") * length(col("term"))).cast("long").as("word_chars"))
    val docs = Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    docs.join(applied, "source")
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("bpe_tokens * 10000 div ws_tokens").as("fertility_bp"),
        expr("bpe_tokens * 10000 div word_chars").as("tok_per_10k_chars"))
      .orderBy(col("source"))
  }

  val bpeApplySql: String = {
    val last = s"bv$BpeLoopMerges"
    s"""
    WITH $bpeLoopCtes,
    dw AS (
      SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), dwa AS (
      SELECT source, term, CAST(count(*) AS bigint) AS n_occ
      FROM dw GROUP BY source, term
    ), ft AS (
      SELECT term,
             CAST(length(enc) - length(replace(enc, chr(1), '')) AS bigint) AS n_syms
      FROM $last
    ), js AS (
      SELECT d.source,
             CAST(sum(d.n_occ) AS bigint) AS ws_tokens,
             CAST(sum(d.n_occ * f.n_syms) AS bigint) AS bpe_tokens,
             CAST(sum(d.n_occ * length(d.term)) AS bigint) AS word_chars
      FROM dwa d JOIN ft f ON f.term = d.term
      GROUP BY d.source
    ), nd AS (
      SELECT source, CAST(count(*) AS bigint) AS n_docs FROM documents GROUP BY source
    )
    SELECT js.source, nd.n_docs, js.ws_tokens, js.bpe_tokens,
           js.bpe_tokens * 10000 // js.ws_tokens AS fertility_bp,
           js.bpe_tokens * 10000 // js.word_chars AS tok_per_10k_chars
    FROM js JOIN nd ON nd.source = js.source
    ORDER BY js.source"""
  }

  // ------------------------------------------------------------ source caps

  /** Per-source document cap — the "no domain may dominate the mixture"
    * pipeline stage (C4/Gopher-style per-domain limits): keep at most
    * [[SourceCapK]] docs per source, chosen by a deterministic md5
    * priority, and report per-source kept/dropped accounting. The kept
    * set is selected by the bounded [[graft.operators.TopK]] aggregator —
    * shuffle volume O(sources·k) with map-side bounded buffers, NOT a
    * per-source row_number sort (the window form ships and sorts every
    * row of a giant source; the aggregator form is the 100 TB plan). The
    * kept ids (O(sources·k)) broadcast back for the chars accounting. */
  val SourceCapK = 15

  def sourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("chars"),
        conv(substring(md5(concat(lit("cap_"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("pri"))
    // TopK keeps the LARGEST values; negate the 60-bit priority so the
    // kept set is the k smallest (pri ASC, doc_id ASC on ties — mirrored
    // by the oracle's row_number ORDER BY).
    val kept = graft.operators.TopK.topK(
      d.select(expr("CAST(substr(source, 4) AS long)").as("src_id"),
        (-col("pri")).as("neg_pri"), col("doc_id")),
      "src_id", "neg_pri", "doc_id", k = SourceCapK)
    val perSource = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("total_chars"))
    val keptAgg = d.join(broadcast(kept.select(col("doc_id"))), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("chars")).as("kept_chars"))
    perSource.join(keptAgg, "source")
      .select(col("source"), col("n_docs"), col("n_kept"), col("total_chars"),
        col("kept_chars"),
        expr(s"10000 * (n_docs - n_kept) div n_docs").as("drop_bp"))
      .orderBy(col("source"))
  }

  val sourceCapSql: String = s"""
    WITH d AS (
      SELECT doc_id, source, CAST(length(text) AS bigint) AS chars,
             CAST('0x' || substr(md5('cap_' || CAST(doc_id AS varchar)), 1, 15) AS bigint) AS pri
      FROM documents
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rk
      FROM d)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN rk <= $SourceCapK THEN 1 ELSE 0 END) AS bigint) AS n_kept,
           CAST(sum(chars) AS bigint) AS total_chars,
           CAST(sum(CASE WHEN rk <= $SourceCapK THEN chars ELSE 0 END) AS bigint) AS kept_chars,
           CAST(10000 * (count(*) - sum(CASE WHEN rk <= $SourceCapK THEN 1 ELSE 0 END)) // count(*) AS bigint) AS drop_bp
    FROM r GROUP BY source ORDER BY source"""

  // ------------------------------------------------------------- fertility

  /** Tokenizer-fertility profile per language: tokens per 10k chars and
    * mean token length (centichars) — the "how expensive is this language
    * for the tokenizer" audit that drives per-language token budgets. All
    * ratios integer-DIV; one partial-agg shuffle onto |langs| rows. */
  def fertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), size(words(col("text"))).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"))
      // zero guards (the q14PromoShare total_c=0 pattern): a language of
      // all-empty docs gives n_chars=0 — NULL under Spark's non-ANSI div
      // but a hard division-by-zero error in DuckDB; pin both engines to 0
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("CASE WHEN n_chars = 0 THEN 0 ELSE " +
          "CAST(n_tokens AS decimal(38,0)) * 10000 div n_chars END")
          .cast("long").as("tok_per_10k_chars"),
        expr("CASE WHEN n_tokens = 0 THEN 0 ELSE " +
          "CAST(n_chars AS decimal(38,0)) * 100 div n_tokens END")
          .cast("long").as("chars_per_tok_c"))
      .orderBy(col("lang"))

  val fertilitySql: String = """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(toks) AS bigint) AS n_tokens,
           CAST(sum(chars) AS bigint) AS n_chars,
           CAST(CASE WHEN sum(chars) = 0 THEN 0
                ELSE CAST(sum(toks) AS HUGEINT) * 10000 // sum(chars) END AS bigint) AS tok_per_10k_chars,
           CAST(CASE WHEN sum(toks) = 0 THEN 0
                ELSE CAST(sum(chars) AS HUGEINT) * 100 // sum(toks) END AS bigint) AS chars_per_tok_c
    FROM (SELECT lang,
                 CAST(len(string_split_regex(text, '\s+')) AS bigint) AS toks,
                 CAST(length(text) AS bigint) AS chars
          FROM documents)
    GROUP BY lang ORDER BY lang"""

  // --------------------------------------------------- unigram-LM tokenizer

  /** Word-length cap for the Viterbi DP (longer forms are dropped — the
    * classic trainer cap; production chunks them first). */
  private val UniMaxLen = 12
  /** Longest candidate piece. */
  private val UniMaxPiece = 4
  /** Multi-char vocabulary budget (all single chars always kept, so every
    * position stays reachable and Viterbi never dead-ends). */
  private val UniVocabMulti = 400

  /** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
    * SentencePiece-unigram recipe, the tokenizer family's other half next
    * to the BPE loop): seed a piece vocabulary from all ≤[[UniMaxPiece]]
    * -char substrings of the freq-weighted word forms, price each piece
    * with the repo's INTEGER-log2 surprisal surrogate
    * (bitlen(total/cnt) — the [[docSurprisal]] trick, so the whole EM
    * step is integer-exact and oracle-replayable, no float log), then run
    * the E-step as an exact Viterbi DP over prefix lengths 1..
    * [[UniMaxLen]]: best(j) = min over piece lengths k ≤ 4 of
    * best(j−k) + cost(piece), ties broken (cost, n_pieces, seg) — fully
    * deterministic. Scale posture is [[bpeTrain]]'s: everything after
    * the one word-count shuffle runs on the \|vocab\|-bounded form
    * table (each distinct form segmented once no matter its corpus
    * count); the DP is [[UniMaxLen]] bounded joins against a broadcast
    * ~430-piece vocabulary, plan depth pinned by per-round checkpoints.
    * Returns (vocab with integer costs, best segmentation per form). */
  private val uniMemo =
    new graft.operators.ChainMemo[(DataFrame, DataFrame)]()

  /** [[uniTrainBuild]] memoized per (session, sfDir) — r12, VERDICT r11
    * flag 2: `t_unigram_segment` and `t_unigram_em` each re-ran the full
    * trainer (8.7 s combined at sf0.1); the [[graft.operators.ChainMemo]]
    * (pqCore posture) shares one build per session. */
  private[queries] def uniTrain(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) =
    uniMemo.getOrBuild(spark, sfDir)(uniTrainBuild(spark, sfDir))

  private def uniTrainBuild(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    val wf = Tables.documents(spark, sfDir)
      .select(explode(words(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .filter(length(col("term")).between(1, UniMaxLen))
      .localCheckpoint()
    val occ = wf.select(col("term"), col("freq"), explode(expr(
      s"""flatten(transform(sequence(1, length(term)), i ->
            transform(sequence(1, least($UniMaxPiece, length(term) - i + 1)),
                      k -> substring(term, i, k))))""")).as("piece"))
    val counts = occ.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val vsel = counts.filter(length(col("piece")) === 1)
      .unionByName(counts.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(UniVocabMulti))
    val total = vsel.agg(sum(col("cnt")).as("vtotal"))
    val vocab = vsel.crossJoin(broadcast(total))
      .select(col("piece"), col("cnt"),
        (length(conv(expr("vtotal div cnt"), 10, 2)) - 1).cast("long").as("pcost"))
      .localCheckpoint()
    // Viterbi E-step — r12 rewrite (guide §1.2 "fix the distributed
    // algorithm first"): the DP over prefix lengths used to run as 12
    // rounds of (≤4-way union → broadcast join → groupBy-min →
    // localCheckpoint) = ~24 shuffles + 12 materializations of the form
    // table per training run. But the DP is PER-FORM: segmenting one
    // term needs only that term and the ~430-piece vocabulary. So the
    // vocabulary (bounded by construction: all corpus chars +
    // [[UniVocabMulti]] pieces) is collected and broadcast — the
    // SentencePiece posture, and the same broadcast-small-side shape as
    // guide §3.2 — and the whole DP runs map-side in ONE pass over the
    // distinct-form table: zero E-step shuffles at any corpus size.
    // Semantics are bit-identical to the join DP (same integer costs,
    // same (cost, n_pieces, seg) tie-break with seg compared as UTF-8
    // bytes — Spark's min(struct) string order; same code-point
    // substring indexing) and the unchanged DuckDB oracle replays the
    // materialized join chain against it.
    val vp: Map[String, Long] = vocab.select(col("piece"), col("pcost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bcv = spark.sparkContext.broadcast(vp)
    val segment = udf { (term: String) =>
      val v = bcv.value
      val cps = term.codePoints().toArray // Spark substring/length = code points
      val n = cps.length
      val cost = new Array[Long](n + 1)
      val np = new Array[Long](n + 1)
      val seg = new Array[String](n + 1)
      val segB = new Array[Array[Byte]](n + 1)
      seg(0) = ""; segB(0) = Array.emptyByteArray
      def ltBytes(a: Array[Byte], b: Array[Byte]): Boolean = {
        val m = math.min(a.length, b.length); var i = 0
        while (i < m) {
          val x = a(i) & 0xff; val y = b(i) & 0xff
          if (x != y) return x < y
          i += 1
        }
        a.length < b.length
      }
      var j = 1
      while (j <= n) {
        var bc = Long.MaxValue; var bn = Long.MaxValue
        var bs: String = null; var bb: Array[Byte] = null
        var k = 1
        val kmax = math.min(UniMaxPiece, j)
        while (k <= kmax) {
          val piece = new String(cps, j - k, k)
          val pc = v.get(piece)
          if (pc.isDefined) {
            val c = cost(j - k) + pc.get
            val p = np(j - k) + 1
            val s = if (seg(j - k).isEmpty) piece else seg(j - k) + "·" + piece
            if (bs == null || c < bc || (c == bc && (p < bn || (p == bn && {
              val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              ltBytes(sb, bb)
            })))) {
              bc = c; bn = p; bs = s
              bb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            }
          }
          k += 1
        }
        // unreachable: every single char of every form is in the vocab
        if (bs == null)
          throw new IllegalStateException(s"unigram DP dead-end in '$term'")
        cost(j) = bc; np(j) = bn; seg(j) = bs; segB(j) = bb
        j += 1
      }
      (cost(n), np(n), seg(n))
    }
    val best = wf
      .withColumn("m", segment(col("term")))
      .select(col("term"), col("freq"), col("m._1").as("cost"),
        col("m._2").as("n_pieces"), col("m._3").as("seg"))
      .localCheckpoint(false) // both consumers read the finished E-step
    (vocab, best)
  }

  /** Viterbi segmentations of the 100 most frequent word forms — the
    * E-step readout a tokenizer engineer eyeballs. */
  def unigramSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, best) = uniTrain(spark, sfDir)
    best.select(col("term"), col("freq"), col("n_pieces"), col("cost"), col("seg"))
      .orderBy(col("freq").desc, col("term")).limit(100)
  }

  /** One full EM iteration's M-step: re-estimate piece counts from the
    * freq-weighted Viterbi segmentations (pieces a segmentation never
    * uses silently lose mass — exactly the signal Kudo's pruning step
    * consumes), top 30 with old/new counts and new-mass share. */
  def unigramEm(spark: SparkSession, sfDir: String): DataFrame = {
    val (vocab, best) = uniTrain(spark, sfDir)
    val agg = best
      .select(col("freq"), explode(split(col("seg"), "·")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("new_cnt"))
    val ntot = agg.agg(sum(col("new_cnt")).as("nt"))
    agg.join(vocab.select(col("piece"), col("cnt").as("old_cnt")), "piece")
      .crossJoin(broadcast(ntot))
      .select(col("piece"), col("old_cnt"), col("new_cnt"),
        expr("new_cnt * 10000 div nt").as("share_bp"))
      .orderBy(col("new_cnt").desc, col("piece")).limit(30)
  }

  /** Shared CTE chain of [[uniTrain]] for the two oracles. */
  private val uniCtes: String = {
    val steps = (1 to UniMaxLen).map { j =>
      val arms = (1 to math.min(UniMaxPiece, j)).map { k =>
        s"""SELECT p.term, p.freq, p.cost + v.pcost AS cost,
               p.n_pieces + 1 AS n_pieces,
               CASE WHEN p.seg = '' THEN v.piece
                    ELSE p.seg || chr(183) || v.piece END AS seg
            FROM b${j - k} p
            JOIN vocab v ON v.piece = substr(p.term, ${j - k + 1}, $k)
            WHERE length(p.term) >= $j"""
      }.mkString(" UNION ALL ")
      s"""b$j AS MATERIALIZED (
        SELECT term, freq, cost, n_pieces, seg FROM (
          SELECT *, row_number() OVER (
            PARTITION BY term ORDER BY cost, n_pieces, seg) AS rn
          FROM ($arms)
        ) WHERE rn = 1
      )"""
    }.mkString(",\n")
    val bestArms = (1 to UniMaxLen)
      .map(j => s"SELECT * FROM b$j WHERE length(term) = $j")
      .mkString(" UNION ALL ")
    s"""wf AS MATERIALIZED (
      SELECT term, CAST(count(*) AS bigint) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term
            FROM documents)
      GROUP BY term
      HAVING length(term) BETWEEN 1 AND $UniMaxLen
    ), occ AS (
      SELECT freq,
             unnest(flatten(list_transform(range(1, length(term) + 1), i ->
               list_transform(range(1, least($UniMaxPiece, length(term) - i + 1) + 1),
                 k -> substr(term, CAST(i AS int), CAST(k AS int)))))) AS piece
      FROM wf
    ), counts AS (
      SELECT piece, CAST(sum(freq) AS bigint) AS cnt FROM occ GROUP BY piece
    ), vsel AS (
      SELECT piece, cnt FROM counts WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM counts WHERE length(piece) > 1
      ) WHERE rn <= $UniVocabMulti
    ), tot AS (
      SELECT CAST(sum(cnt) AS bigint) AS vtotal FROM vsel
    ), vocab AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(length(to_base(vtotal // cnt, 2)) - 1 AS bigint) AS pcost
      FROM vsel CROSS JOIN tot
    ), b0 AS (
      SELECT term, freq, CAST(0 AS bigint) AS cost,
             CAST(0 AS bigint) AS n_pieces, '' AS seg
      FROM wf
    ),
    $steps,
    best AS MATERIALIZED ($bestArms)"""
  }

  val unigramSegmentSql: String = s"""
    WITH $uniCtes
    SELECT term, freq, CAST(n_pieces AS bigint) AS n_pieces, cost, seg
    FROM best
    ORDER BY freq DESC, term
    LIMIT 100"""

  val unigramEmSql: String = s"""
    WITH $uniCtes,
    agg AS (
      SELECT piece, CAST(sum(freq) AS bigint) AS new_cnt
      FROM (SELECT freq, unnest(string_split(seg, chr(183))) AS piece FROM best)
      GROUP BY piece
    ), ntot AS (
      SELECT CAST(sum(new_cnt) AS bigint) AS nt FROM agg
    )
    SELECT a.piece, v.cnt AS old_cnt, a.new_cnt,
           a.new_cnt * 10000 // nt AS share_bp
    FROM agg a JOIN vocab v USING (piece) CROSS JOIN ntot
    ORDER BY new_cnt DESC, piece
    LIMIT 30"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_unigram_segment" -> (unigramSegment _),
    "t_unigram_em"    -> (unigramEm _),
    "t_ccnet_bucket"  -> (ccnetBucket _),
    "t_source_cap"    -> (sourceCap _),
    "t_fertility"     -> (fertility _),
    "t_bpe_merges"    -> (bpeMerges _),
    "t_bpe_loop"      -> (bpeLoop _),
    "t_bpe_apply"     -> (bpeApply _),
    "t_decontaminate13" -> (decontaminate13 _),
    "t_ttr"           -> (ttr _),
    "d_cluster_sizes" -> (clusterSizes _),
    "d_winnow"        -> (winnow _),
    "t_chunk"         -> (chunk _),
    "t_bm25_search"   -> (bm25Search _),
    "t_mix_weights"   -> (mixWeights _),
    "t_oov_rate"      -> (oovRate _),
    "t_token_count"   -> (tokenCount _),
    "t_quality_score" -> (qualityScore _),
    "t_lang_id"       -> (langId _),
    "t_lang_confusion" -> (langConfusion _),
    "t_fingerprint"   -> (fingerprint _),
    "t_dup_ratio_by_source" -> (dupRatioBySource _),
    "t_quality_filter" -> (qualityFilter _),
    "t_doc_terms"     -> (docTerms _),
    "t_term_lift"     -> (termLift _),
    "t_repetition"    -> (repetition _),
    "t_sample_stratified" -> (sampleStratified _),
    "t_quality_sample" -> (qualitySample _),
    "t_split_assign"  -> (splitAssign _),
    "t_split_leakage" -> (splitLeakage _),
    "t_token_budget"  -> (tokenBudget _),
    "t_top_shingles"  -> (topShingles _),
    "t_ngram_diversity" -> (ngramDiversity _),
    "d_source_overlap" -> (sourceOverlap _),
    "t_sqrt_sample"   -> (sqrtSample _),
    "t_len_histogram" -> (lenHistogram _),
    "t_len_quantile_rollup" -> (lenQuantileRollup _),
    "t_priority_sample" -> (prioritySample _),
    "t_priority_sample_eval" -> (prioritySampleEval _),
    "t_zipf"          -> (zipf _),
    "t_novelty"       -> (novelty _),
    "t_vocab"         -> (vocab _),
    "t_decontaminate" -> (decontaminate _),
    "t_lm_surprisal"  -> (lmSurprisal _),
    "t_bigram_surprisal" -> (bigramSurprisal _),
    "d_dedup_exact"   -> (dedupExact _),
    "d_dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "d_containment"   -> (dedupContainment _),
    "d_dedup_clusters" -> (dedupClusters _),
    "d_dedup_keep"    -> (dedupKeep _),
    "d_dedup_segments" -> (dedupSegments _),
    "d_dedup_bloom"   -> (dedupBloom _),
    "t_pii_scrub"     -> (piiScrub _),
    "t_pack_sequences" -> (packSequences _),
    "t_tfidf_keywords" -> (tfidfKeywords _),
    "t_gopher_rules"  -> (gopherRules _),
    "t_span_dup_rate" -> (spanDupRate _),
    "t_substr_scrub"  -> (substrScrub _),
    "t_span_islands"  -> (spanIslands _),
    "t_span_length_hist" -> (spanLengthHist _),
    "t_curriculum"    -> (curriculum _),
    "t_dsir_weight"   -> (dsirWeight _),
    "t_normalize"     -> (normalizeText _))

  val oracles: Map[String, String] = Map(
    "t_unigram_segment" -> unigramSegmentSql,
    "t_unigram_em"    -> unigramEmSql,
    "t_ccnet_bucket"  -> ccnetBucketSql,
    "t_source_cap"    -> sourceCapSql,
    "t_fertility"     -> fertilitySql,
    "t_bpe_merges"    -> bpeMergesSql,
    "t_bpe_loop"      -> bpeLoopSql,
    "t_bpe_apply"     -> bpeApplySql,
    "t_decontaminate13" -> decontaminate13Sql,
    "t_ttr"           -> ttrSql,
    "d_cluster_sizes" -> clusterSizesSql,
    "d_winnow"        -> winnowSql,
    "t_chunk"         -> chunkSql,
    "t_bm25_search"   -> bm25SearchSql,
    "t_mix_weights"   -> mixWeightsSql,
    "t_oov_rate"      -> oovRateSql,
    "t_token_count"   -> tokenCountSql,
    "t_quality_score" -> qualityScoreSql,
    "t_lang_id"       -> langIdSql,
    "t_lang_confusion" -> langConfusionSql,
    "t_fingerprint"   -> fingerprintSql,
    "t_dup_ratio_by_source" -> dupRatioBySourceSql,
    "t_quality_filter" -> qualityFilterSql,
    "t_doc_terms"     -> docTermsSql,
    "t_term_lift"     -> termLiftSql,
    "t_repetition"    -> repetitionSql,
    "t_sample_stratified" -> sampleStratifiedSql,
    "t_quality_sample" -> qualitySampleSql,
    "t_split_assign"  -> splitAssignSql,
    "t_split_leakage" -> splitLeakageSql,
    "t_token_budget"  -> tokenBudgetSql,
    "t_top_shingles"  -> topShinglesSql,
    "t_ngram_diversity" -> ngramDiversitySql,
    "d_source_overlap" -> sourceOverlapSql,
    "t_sqrt_sample"   -> sqrtSampleSql,
    "t_len_histogram" -> lenHistogramSql,
    "t_len_quantile_rollup" -> lenQuantileRollupSql,
    "t_priority_sample" -> prioritySampleSql,
    "t_priority_sample_eval" -> prioritySampleEvalSql,
    "t_zipf"          -> zipfSql,
    "t_novelty"       -> noveltySql,
    "t_vocab"         -> vocabSql,
    "t_decontaminate" -> decontaminateSql,
    "t_lm_surprisal"  -> lmSurprisalSql,
    "t_bigram_surprisal" -> bigramSurprisalSql,
    "d_dedup_exact"   -> dedupExactSql,
    "d_dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "d_containment"   -> dedupContainmentSql,
    "d_dedup_clusters" -> dedupClustersSql,
    "d_dedup_keep"    -> dedupKeepSql,
    "d_dedup_segments" -> dedupSegmentsSql,
    "d_dedup_bloom"   -> dedupBloomSql,
    "t_pii_scrub"     -> piiScrubSql,
    "t_pack_sequences" -> packSequencesSql,
    "t_tfidf_keywords" -> tfidfKeywordsSql,
    "t_gopher_rules"  -> gopherRulesSql,
    "t_span_dup_rate" -> spanDupRateSql,
    "t_substr_scrub"  -> substrScrubSql,
    "t_span_islands"  -> spanIslandsSql,
    "t_span_length_hist" -> spanLengthHistSql,
    "t_curriculum"    -> curriculumSql,
    "t_dsir_weight"   -> dsirWeightSql,
    "t_normalize"     -> normalizeTextSql)
}
