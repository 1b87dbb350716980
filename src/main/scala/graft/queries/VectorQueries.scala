package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Similarity search + sketch-based near-dup over `embeddings`/`documents`
  * (SURVEY §2.4). Dot products run through the codegen'd
  * [[graft.functions.DotProductExpr]] — a sequential fold, so DuckDB's
  * `list_reduce` reproduces the exact IEEE doubles and every cosine op is
  * oracle-checked. Sketch ops (LSH / IVF / MinHash / SimHash) use
  * md5-derived hash families and literal seeded hyperplanes, so they are
  * oracle-checked too.
  */
object VectorQueries extends QueryModule {

  /** embedding as array<double>. */
  private def vec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product — same order as DuckDB list_reduce.
    * Native codegen'd expression ([[graft.functions.DotProductExpr]]):
    * no per-pair array allocation on the O(n²) dedup join. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotProduct(a, b)

  private def cosBp(a: Column, b: Column, na: Column, nb: Column): Column =
    floor(dot(a, b) * 10000.0 / (na * nb)).cast("long")

  /** Pre-normed embeddings: vec_id, v (double[]), nrm. */
  private[queries] def embs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Size caps for the quadratic baselines ([[graft.operators.Dedup
    * .guardQuadratic]]): beyond these the brute-force paths refuse and
    * point at the bucketed variant, so the O(n²) plan can't reach a
    * cluster-scale input by accident. Raise via spark conf when the
    * quadratic cost is a deliberate choice. */
  val DedupBruteConf = "graft.dedup.maxBruteRows"
  val AnnBruteConf = "graft.ann.maxBruteRows"
  val DedupBruteDefault = 100000L  // ~5·10⁹ pairs — already generous
  val AnnBruteDefault = 5000000L   // n·q with q broadcast; linear in n

  private val dotSql =
    "list_reduce(list_transform(range(1, len(%s) + 1), i -> CAST(%s[i] AS double) * CAST(%s[i] AS double)), (x, y) -> x + y)"

  private def dotSqlOf(a: String, b: String): String = dotSql.format(a, a, b)

  // -------------------------------------------------------------------- ANN

  /** Brute-force cosine top-5 neighbors for the query set (vec_id < 10).
    * The query side is broadcast → a map-side nested-loop over candidate
    * partitions, no shuffle of the big side; top-k per query via window
    * rank on a tiny intermediate. This is the exact-recall baseline the
    * LSH variant is measured against. */
  def annBruteForce(spark: SparkSession, sfDir: String): DataFrame = {
    val cands = graft.operators.Dedup.guardQuadratic(embs(spark, sfDir),
      "annBruteForce", "annLsh / annIvf", AnnBruteConf, AnnBruteDefault)
    val qs = cands.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = cands.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    scored.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  val annBruteForceSql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             CAST(floor(${"list_reduce(list_transform(range(1, len(q.v) + 1), i -> CAST(q.v[i] AS double) * CAST(c.v[i] AS double)), (x, y) -> x + y)"} * 10000.0 / (q.nrm * c.nrm)) AS bigint) AS cos_bp
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT q_id, cand_id, cos_bp, rnk FROM (
      SELECT q_id, cand_id, cos_bp,
             rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""

  /** Embedding-cosine near-dup pairs (cos ≥ 0.30). Brute-force pair join —
    * the exactness baseline; the scale path is [[annLsh]]'s bucketing. */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.operators.Dedup.guardQuadratic(embs(spark, sfDir),
      "dedupEmbedding", "annLsh buckets / dedupMinhash", DedupBruteConf, DedupBruteDefault)
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosBp(col("va"), col("vb"), col("na"), col("nb")).as("cos_bp"))
      .filter(col("cos_bp") >= 3000)
      .orderBy(col("id_a"), col("id_b"))
  }

  val dedupEmbeddingSql: String = s"""
    WITH e AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(floor(${"list_reduce(list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] AS double) * CAST(b.v[i] AS double)), (x, y) -> x + y)"} * 10000.0 / (a.nrm * b.nrm)) AS bigint) AS cos_bp
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE floor(${"list_reduce(list_transform(range(1, len(a.v) + 1), i -> CAST(a.v[i] AS double) * CAST(b.v[i] AS double)), (x, y) -> x + y)"} * 10000.0 / (a.nrm * b.nrm)) >= 3000
    ORDER BY id_a, id_b"""

  /** SemDeDup cosine threshold, in basis points — matches the
    * [[dedupEmbedding]] brute-force cut so the two views are comparable. */
  private[graft] val SemDedupCosBp = 3000L

  /** SemDeDup (cluster-bucketed semantic dedup, after Abbas et al. 2023,
    * arXiv:2303.09540): the SCALE PATH for embedding near-dup — where
    * [[dedupEmbedding]] is the guarded all-pairs baseline, this buckets the
    * corpus by k-means cluster first (the one integer-exact fit the
    * IVF/quality/medoid family already shares) and compares pairs ONLY
    * within a cluster. The pair join is an equi-join on the cluster id —
    * shuffle-partitionable, and per-bucket work is (n/k)² instead of n²;
    * at 100 TB k grows with the corpus so buckets stay bounded, exactly
    * the paper's recipe. Decision rule (deterministic, set-based): a
    * vector is DROPPED iff some lower-id vector in its cluster has cosine
    * ≥ the threshold; else kept. Output: every vector with its cluster
    * and keep flag — the materializable dedup decision. */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val fit = kmeansFit(spark, sfDir) // memoized (shared with e_kmeans etc.)
    // one fit + embedding join, materialized once, reused by both pair sides
    val e = embs(spark, sfDir)
      .join(fit.select(col("vec_id"), col("cluster")), "vec_id")
      .localCheckpoint()
    val a = e.select(col("cluster"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("cluster"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b") &&
        cosBp(col("va"), col("vb"), col("na"), col("nb")) >= SemDedupCosBp)
      .select(col("id_b").as("vec_id")).distinct()
    e.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("dropped", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        (coalesce(col("dropped"), lit(0)) === 0).cast("int").as("keep"))
      .orderBy(col("vec_id"))
  }

  // lazy: kmeansCtes is declared later in this object; a strict val here
  // would interpolate null at object-init time
  lazy val semDedupSql: String = s"""$kmeansCtes,
    e AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    ), ec AS (
      SELECT e.vec_id, e.v, e.nrm, f.k AS cluster
      FROM e JOIN fin f ON e.vec_id = f.vec_id
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM ec a JOIN ec b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE floor(${dotSqlOf("a.v", "b.v")} * 10000.0 / (a.nrm * b.nrm)) >= $SemDedupCosBp
    )
    SELECT ec.vec_id, ec.cluster,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS int) AS keep
    FROM ec LEFT JOIN dropped d ON ec.vec_id = d.vec_id
    ORDER BY ec.vec_id"""

  /** SemDeDup bucketing eval — what fraction of the EXACT cos ≥ τ pair set
    * ([[dedupEmbedding]], the guarded brute-force truth) lands with both
    * ends in the same k-means cluster, i.e. is visible to [[semDedup]]'s
    * in-cluster scan. The recall number that licenses retiring the
    * quadratic baseline, same role as the minhash/simhash/ANN evals; run
    * at eval scale only (the truth side carries the quadratic guard). */
  def semDedupEval(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = dedupEmbedding(spark, sfDir).select(col("id_a"), col("id_b"))
    val fit = kmeansFit(spark, sfDir) // memoized: one fit, both pair ends
      .select(col("vec_id"), col("cluster"))
    truth
      .join(fit.select(col("vec_id").as("id_a"), col("cluster").as("ka")), "id_a")
      .join(fit.select(col("vec_id").as("id_b"), col("cluster").as("kb")), "id_b")
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("ka") === col("kb"), 1L).otherwise(0L)).as("n_captured"))
      .select(col("n_pairs"), col("n_captured"),
        expr("10000 * n_captured div n_pairs").as("recall_bp"))
  }

  lazy val semDedupEvalSql: String = s"""$kmeansCtes,
    p AS (SELECT id_a, id_b FROM ($dedupEmbeddingSql) s)
    SELECT count(*) AS n_pairs,
           CAST(sum(CASE WHEN fa.k = fb.k THEN 1 ELSE 0 END) AS bigint) AS n_captured,
           (10000 * CAST(sum(CASE WHEN fa.k = fb.k THEN 1 ELSE 0 END) AS bigint) // count(*)) AS recall_bp
    FROM p JOIN fin fa ON p.id_a = fa.vec_id JOIN fin fb ON p.id_b = fb.vec_id"""

  // ------------------------------------- SemDeDup at the production cut

  /** Production SemDeDup eval knobs: cos ≥ 0.9 near-dups, k doubled to 16
    * (the corpus doubles when the twins land, and the paper's recipe
    * grows k with n so cells stay bounded), nearest-2-centroid
    * multi-probe. */
  private[graft] val SemDedup09CosBp = 9000L
  private[graft] val SemDedup09K = 16
  private[graft] val SemDedup09Probes = 2
  private val TwinIdOffset = 1000000L

  /** The synthetic embeddings carry no organic cos ≥ 0.9 pairs (the r6
    * eval measured the bucketing at a deliberately-weak 0.30 cut for that
    * reason), so the production-regime eval PLANTS them: every 4th vector
    * gets a twin whose elements are scaled by (1 + εᵢ), εᵢ ∈ {−2s…2s}
    * cycling per position with a per-doc amplitude s = (1 + id mod 6)/16.
    * E[ε²] = 2s² puts the twin cosine at ≈ 1/√(1+2s²) — a spread over
    * ~0.86…0.997, so the truth set straddles the 0.9 boundary instead of
    * sitting at a single trivial similarity. All constants are dyadic
    * (k/16) and the perturbed element is ONE IEEE multiply, so DuckDB
    * reproduces every planted double bit-for-bit. */
  private def augmentedEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vec(col("embedding")).as("embedding"))
    // src_id rename first: Spark 4 resolves a col("vec_id") inside this
    // select against the LATERAL alias (the +offset value), not the input
    // column, silently shifting every ε — the twin must perturb by the
    // ORIGINAL id, like the oracle's e.vec_id
    val twins = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 4 === 0)
      .select(col("vec_id").as("src_id"), col("embedding"))
      .select((col("src_id") + lit(TwinIdOffset)).as("vec_id"),
        transform(col("embedding"), (x, i0) =>
          x.cast("double") * (lit(1.0) +
            ((col("src_id") * 7 + (i0 + 1)) % 5 - 2).cast("double") *
              ((col("src_id") % 6 + 1).cast("double") * lit(0.0625)))).as("embedding"))
    base.unionByName(twins)
  }

  private val augmentedSql: String = s"""aug AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS double)) AS embedding
      FROM embeddings
      UNION ALL
      SELECT e.vec_id + $TwinIdOffset AS vec_id,
             list_transform(range(1, len(e.embedding) + 1), i ->
               CAST(e.embedding[i] AS double) * (CAST(1.0 AS double) +
                 CAST((e.vec_id * 7 + i) % 5 - 2 AS double) *
                   (CAST(e.vec_id % 6 + 1 AS double) * CAST(0.0625 AS double)))) AS embedding
      FROM embeddings e WHERE e.vec_id % 4 = 0
    )"""

  /** SemDeDup bucketing recall in the PRODUCTION regime (cos ≥ 0.9) over
    * the planted-twin corpus, at both probe depths: `recall_bp_p1` is the
    * plain argmin bucketing (what [[semDedupEval]] measures at 0.30),
    * `recall_bp_p2` the nearest-2-centroid multi-probe — a pair is visible
    * iff the two ends share ANY probed cell, which is exactly the pair
    * scan [[semDedup]] would run with multi-probe assignment. The number
    * that licenses retiring the quadratic baseline where it matters: the
    * ≥ 0.9 near-dup regime. Truth side carries the quadratic guard (eval
    * scale only); the operator chain itself stays equi-join-bucketed. */
  def semDedupEval09(spark: SparkSession, sfDir: String): DataFrame =
    semDedupEval09At(spark, sfDir, sampleBp = 10000)

  /** [[semDedupEval09]] under the sampled-truth posture ([[EvalSampleBp]]),
    * the same affordability lever `d_minhash_recall_sampled` gives the
    * sketch evals — this one for the r7 scaling table's worst row (the
    * quadratic ≥ 0.9 truth scan, ~90 s at sf1; 19.9 s sampled). The gate keys on the twin
    * BASE id (`vec_id % TwinIdOffset`, shared by a vector and its planted
    * twin), so planted truth pairs survive LINEARLY in the sample rate
    * while the all-pairs truth cost still drops with its square; the
    * k-means fit stays full-corpus (the production assignment being
    * evaluated is never sampled). */
  def semDedupEval09Sampled(spark: SparkSession, sfDir: String): DataFrame =
    semDedupEval09At(spark, sfDir, sampleBp = EvalSampleBp)

  /** The full-corpus multi-probe k-means assignment shared by the ≥0.9
    * eval pair (`d_semdedup_eval09`, `_sampled` — the fit is never
    * sampled) and `e_decontaminate`, memoized per (session, sfDir) —
    * r12: three declared rows each re-ran the identical Lloyd fit. */
  private val semFitMemo = new graft.operators.ChainMemo[DataFrame]()
  private def semDedup09Fit(spark: SparkSession, sfDir: String): DataFrame =
    semFitMemo.getOrBuild(spark, sfDir) {
      graft.operators.KMeans
        .fitTop(augmentedEmbeddings(spark, sfDir),
          SemDedup09K, KmeansIters, SemDedup09Probes)
        .select(col("vec_id"), col("cluster"), col("rnk"))
        .localCheckpoint()
    }

  private def semDedupEval09At(spark: SparkSession, sfDir: String,
                               sampleBp: Int): DataFrame = {
    val aug = augmentedEmbeddings(spark, sfDir)
    val truthSide =
      if (sampleBp >= 10000) aug
      else aug.filter(
        TextQueries.hashGateBp("ev9_", col("vec_id") % TwinIdOffset) < sampleBp)
    val e = graft.operators.Dedup.guardQuadratic(
      truthSide.select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v")))),
      "semDedupEval09", "d_semdedup (bucketed scan)", DedupBruteConf, DedupBruteDefault)
      .localCheckpoint()
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosBp(col("va"), col("vb"), col("na"), col("nb")).as("cos_bp"))
      .filter(col("cos_bp") >= SemDedup09CosBp)
      .localCheckpoint()
    val fit = semDedup09Fit(spark, sfDir) // one fit, probed by both pair
                                          // ends at both depths
    def captured(probes: Int): DataFrame = {
      val fa = fit.filter(col("rnk") <= probes)
        .select(col("vec_id").as("id_a"), col("cluster"))
      val fb = fit.filter(col("rnk") <= probes)
        .select(col("vec_id").as("id_b"), col("cluster"))
      truth.join(fa, "id_a").join(fb, Seq("id_b", "cluster"))
        .select(col("id_a"), col("id_b")).distinct()
    }
    val n1 = captured(1).count()
    val n2 = captured(SemDedup09Probes).count()
    // sampled truth CAN be empty at tiny scale — 0-recall then, not null/÷0
    def recallBp(n: Long): Column =
      when(col("n_pairs") === 0, lit(0L))
        .otherwise(expr(s"10000 * $n div n_pairs"))
    truth.agg(count(lit(1)).as("n_pairs"))
      .select(col("n_pairs"),
        lit(n1).as("n_cap_p1"), recallBp(n1).as("recall_bp_p1"),
        lit(n2).as("n_cap_p2"), recallBp(n2).as("recall_bp_p2"))
  }

  lazy val semDedupEval09Sql: String = semDedupEval09SqlAt(10000)

  lazy val semDedupEval09SampledSql: String = semDedupEval09SqlAt(EvalSampleBp)

  private def semDedupEval09SqlAt(sampleBp: Int): String = {
    val dotAug = "list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)"
    val truthFrom =
      if (sampleBp >= 10000) "ev"
      else s"""(SELECT * FROM ev WHERE ${TextQueries.hashGateBpSql("ev9_",
        s"(vec_id % $TwinIdOffset)")} < $sampleBp)"""
    s"""
    WITH $augmentedSql,
    ${kmeansChain(SemDedup09K, "aug", SemDedup09Probes)},
    ev AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM aug
    ), truth AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM $truthFrom a JOIN $truthFrom b ON a.vec_id < b.vec_id
      WHERE floor($dotAug * 10000.0 / (a.nrm * b.nrm)) >= $SemDedup09CosBp
    ), cap1 AS (
      SELECT DISTINCT t.id_a, t.id_b
      FROM truth t
      JOIN fin fa ON t.id_a = fa.vec_id AND fa.rn = 1
      JOIN fin fb ON t.id_b = fb.vec_id AND fb.rn = 1 AND fb.k = fa.k
    ), cap2 AS (
      SELECT DISTINCT t.id_a, t.id_b
      FROM truth t
      JOIN fin fa ON t.id_a = fa.vec_id
      JOIN fin fb ON t.id_b = fb.vec_id AND fb.k = fa.k
    )
    SELECT (SELECT count(*) FROM truth) AS n_pairs,
           (SELECT count(*) FROM cap1) AS n_cap_p1,
           (10000 * (SELECT count(*) FROM cap1) // (SELECT count(*) FROM truth)) AS recall_bp_p1,
           (SELECT count(*) FROM cap2) AS n_cap_p2,
           (10000 * (SELECT count(*) FROM cap2) // (SELECT count(*) FROM truth)) AS recall_bp_p2"""
  }

  // ------------------------------------------------------------- LSH / ANN

  /** Deterministic random hyperplanes (seeded driver-side, shipped as
    * literals — tiny, broadcast with the plan). */
  private def planes(n: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection LSH ANN: 8-bit bucket from 8
    * hyperplane signs; candidates share the query's bucket → equi-join on
    * bucket key instead of the O(n·q) nested loop; exact cosine re-rank
    * inside buckets. The 100 TB path: bucket key is shuffle-partitionable
    * and the candidate set per query drops ~2^8×. */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = planes(8, 64, seed = 7)
    val planeCols = ps.map(p => typedLit(p))
    val bucket = planeCols.zipWithIndex.map { case (p, i) =>
      when(dot(col("v"), p) >= 0, 1L << i).otherwise(0L)
    }.reduce(_ + _)
    val e = embs(spark, sfDir).withColumn("bucket", bucket)
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val scored = e.join(broadcast(qs), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    scored.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  val annLshSql: String = {
    val ps = planes(8, 64, seed = 7)
    val planeRows = ps.zipWithIndex.map { case (p, j) =>
      s"SELECT $j AS j, [${p.map(_.toString).mkString(", ")}]::DOUBLE[] AS p"
    }.mkString("\n      UNION ALL ")
    val dotVP = "list_reduce(list_transform(range(1, len(v) + 1), i -> CAST(v[i] AS double) * p[i]), (x, y) -> x + y)"
    val dotQC = "list_reduce(list_transform(range(1, len(q.v) + 1), i -> CAST(q.v[i] AS double) * CAST(c.v[i] AS double)), (x, y) -> x + y)"
    s"""
    WITH e AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    ), planes AS (
      $planeRows
    ), b AS (
      SELECT vec_id, CAST(sum(CASE WHEN $dotVP >= 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN planes
      GROUP BY vec_id
    ), eb AS (
      SELECT e.vec_id, e.v, e.nrm, b.bucket FROM e JOIN b USING (vec_id)
    ), scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             CAST(floor($dotQC * 10000.0 / (q.nrm * c.nrm)) AS bigint) AS cos_bp
      FROM eb q JOIN eb c ON q.bucket = c.bucket AND q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT q_id, cand_id, cos_bp, rnk FROM (
      SELECT q_id, cand_id, cos_bp,
             rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""
  }

  /** ANN quality evaluation — recall@5 of the LSH path against the
    * brute-force ground truth, per query: the accuracy check a pipeline
    * runs before trusting the bucketed path at scale (tune planes/probes
    * until recall holds, then retire the quadratic baseline). Both inputs
    * are ≤5 rows per query by construction, so the eval join + aggregate
    * run on slivers; the cost is the two ANN plans themselves. */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annBruteForce(spark, sfDir).select(col("q_id"), col("cand_id"))
    val approx = annLsh(spark, sfDir)
      .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
           sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        expr("10000 * n_hit div n_truth").as("recall_bp"))
      .orderBy(col("q_id"))
  }

  val annRecallSql: String = s"""
    WITH truth AS (SELECT q_id, cand_id FROM ($annBruteForceSql) t),
         approx AS (SELECT q_id, cand_id, 1 AS hit FROM ($annLshSql) a)
    SELECT q_id, count(*) AS n_truth,
           CAST(sum(coalesce(hit, 0)) AS bigint) AS n_hit,
           (10000 * CAST(sum(coalesce(hit, 0)) AS bigint) // count(*)) AS recall_bp
    FROM truth LEFT JOIN approx USING (q_id, cand_id)
    GROUP BY q_id
    ORDER BY q_id"""

  /** Matryoshka prefix dims priced by [[matryoshkaEval]] (full dim 64
    * anchors the curve at recall 10⁴). */
  private val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** Matryoshka-representation eval — what truncating the embedding to a
    * PREFIX of its dimensions costs in retrieval quality (Kusupati et al.
    * 2022, arXiv:2205.13147: MRL-trained models pack coarse semantics
    * into the leading dims, so serving can run ANN at d=16 and re-rank at
    * full d). One row per prefix width: recall@5 of prefix-cosine
    * brute-force top-5 against the full-dim top-5 ground truth. On these
    * synthetic (non-MRL) embeddings the curve prices exactly what a
    * pipeline must check before truncating — how fast recall decays with
    * the prefix. Scale shape: each width is the [[annBruteForce]] plan
    * (10 queries broadcast, map-side scored, no corpus shuffle), so the
    * whole eval is |dims| linear passes; the slice pushes the narrower
    * dot product into codegen, the real serving-time saving. */
  def matryoshkaEval(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.operators.Dedup.guardQuadratic(embs(spark, sfDir),
      "matryoshkaEval", "annIvf / annLsh", AnnBruteConf, AnnBruteDefault)
    def top5(d: Int): DataFrame = {
      val base = e.select(col("vec_id"), slice(col("v"), 1, d).as("pv"))
        .withColumn("pn", sqrt(dot(col("pv"), col("pv"))))
      val qs = base.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("pv").as("qv"), col("pn").as("qn"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
      base.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          cosBp(col("qv"), col("pv"), col("qn"), col("pn")).as("cos_bp"))
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 5)
        .select(col("q_id"), col("cand_id"))
    }
    // ground truth is tiny (10 queries × 5) — materialize once, reuse per width
    val truth = top5(PcaDim).localCheckpoint()
    MatryoshkaDims.map { d =>
      truth.join(top5(d).withColumn("hit", lit(1)), Seq("q_id", "cand_id"), "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(lit(d.toLong).as("dim"), col("n_queries"), col("n_truth"),
          col("n_hit"), expr("10000 * n_hit div n_truth").as("recall_bp"))
    }.reduce(_ unionByName _).orderBy(col("dim"))
  }

  // lazy: PcaDim is declared later in this object; a strict val here
  // would interpolate 0 at object-init time (the semDedupSql lesson)
  lazy val matryoshkaEvalSql: String = {
    def pdot(a: String, b: String, d: Int) =
      s"list_reduce(list_transform(range(1, $d + 1), i -> CAST($a[i] AS double) * CAST($b[i] AS double)), (x, y) -> x + y)"
    def topCte(name: String, d: Int) = s"""$name AS (
      SELECT q_id, cand_id FROM (
        SELECT q_id, cand_id,
               rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
        FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                 CAST(floor(${pdot("q.embedding", "c.embedding", d)} * 10000.0 /
                   (sqrt(${pdot("q.embedding", "q.embedding", d)}) *
                    sqrt(${pdot("c.embedding", "c.embedding", d)}))) AS bigint) AS cos_bp
          FROM embeddings q JOIN embeddings c
            ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        )
      ) WHERE rnk <= 5
    )"""
    val ctes = (Seq(topCte("truth", PcaDim)) ++
      MatryoshkaDims.map(d => topCte(s"top$d", d))).mkString(",\n")
    val rows = MatryoshkaDims.map(d => s"""
      SELECT CAST($d AS bigint) AS dim,
             CAST(count(DISTINCT t.q_id) AS bigint) AS n_queries,
             CAST(count(*) AS bigint) AS n_truth,
             CAST(sum(CASE WHEN a.q_id IS NULL THEN 0 ELSE 1 END) AS bigint) AS n_hit,
             (10000 * CAST(sum(CASE WHEN a.q_id IS NULL THEN 0 ELSE 1 END) AS bigint) // count(*)) AS recall_bp
      FROM truth t LEFT JOIN top$d a ON t.q_id = a.q_id AND t.cand_id = a.cand_id""")
      .mkString(" UNION ALL ")
    s"WITH $ctes SELECT * FROM ($rows) ORDER BY dim"
  }

  /** The IVF cell structures shared by [[annIvf]] and [[annIvfPq]]:
    * (cellOf, probes) — every vector's nearest cell (with v/nrm riding
    * along for the exact re-rank) and each query's 2 probed cells. */
  private val ivfPartsMemo =
    new graft.operators.ChainMemo[(DataFrame, DataFrame)]()
  private def ivfParts(spark: SparkSession, sfDir: String,
                       maxProbe: Int = 2): (DataFrame, DataFrame) =
    // r12: eight IVF-family rows each re-derived the assignment window;
    // ChainMemo (pqCore posture) checkpoints (cellOf, probes) once
    ivfPartsMemo.getOrBuild(spark, s"$sfDir|$maxProbe") {
      val (cellOf, probes) = ivfPartsBuild(spark, sfDir, maxProbe)
      (cellOf.localCheckpoint(false), probes.localCheckpoint(false))
    }
  private def ivfPartsBuild(spark: SparkSession, sfDir: String,
                            maxProbe: Int): (DataFrame, DataFrame) = {
    val e = embs(spark, sfDir)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
    // nearest cell per vector: rank 1 by cosine (ties → lower cell id)
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cell"))
    val assigned = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("ccos"))
      .withColumn("crnk", rank().over(wAssign))
    val cellOf = assigned.filter(col("crnk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    // queries probe their maxProbe nearest cells (crnk rides along so the
    // probe-sweep eval can re-cut one candidate table per nprobe level)
    val probes = assigned.filter(col("vec_id") < 10 && col("crnk") <= maxProbe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("cell"), col("crnk"))
    (cellOf, probes)
  }

  /** IVF-flavored ANN: coarse quantizer = 16 sampled centroids (vec_id<16 —
    * deterministic, no Lloyd iterations, so the oracle can re-derive it);
    * every vector is assigned to its nearest centroid (argmin over a
    * broadcast centroid table), queries probe their 2 nearest cells and
    * re-rank exactly inside them. At 100 TB the cell id becomes the
    * partition/bucket key and each query touches nprobe/ncells of the data.
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val (cellOf, probes) = ivfParts(spark, sfDir)
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    cellOf.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
      .withColumn("rnk", rank().over(wTop))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  /** Filtered ANN — the vector-DB staple the plain index can't serve:
    * top-5 nearest AMONG vectors matching a predicate (here: the query's
    * own label — "my nearest same-class neighbors", the within-class
    * dedup / retrieval shape). The filter is applied BEFORE ranking
    * (pre-filtering): candidates are the probed cells' vectors
    * restricted by the label equi-condition inside the same join, so a
    * highly-selective predicate SHRINKS the scan instead of starving a
    * post-filtered top-k. At 100 TB label joins the cell id as a
    * partition/bucket column and this stays one equi-join. */
  def annFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val (cellOf, probes) = ivfParts(spark, sfDir)
    val lab = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val qlab = probes.join(
      lab.withColumnRenamed("vec_id", "q_id").withColumnRenamed("label", "q_label"),
      "q_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    cellOf.join(lab, "vec_id")
      .join(broadcast(qlab), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("cand_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  /** Hard-negative mining — the contrastive-training counterpart of
    * [[annFiltered]]: for each query vector, the top-3 most-similar
    * candidates with a DIFFERENT label (high cosine, wrong class — the
    * negatives that actually teach a metric-learning objective; random
    * negatives are trivially separable). Same pre-filtered IVF shape:
    * the label inequality rides the probed-cell join, so candidate
    * generation stays sublinear and no post-filter starves the top-k. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val (cellOf, probes) = ivfParts(spark, sfDir)
    val lab = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val qlab = probes.join(
      lab.withColumnRenamed("vec_id", "q_id").withColumnRenamed("label", "q_label"),
      "q_id")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    cellOf.join(lab, "vec_id")
      .join(broadcast(qlab), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("cand_id"),
        col("label").as("neg_label"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  lazy val hardNegativesSql: String = {
    val dotPC = "list_reduce(list_transform(range(1, len(p.qv) + 1), i -> CAST(p.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    s"""
    WITH $ivfCellCtes, lab AS (
      SELECT vec_id, CAST(label AS bigint) AS label FROM embeddings
    ), fscored AS (
      SELECT p.q_id, ql.label AS q_label, t.vec_id AS cand_id,
             tl.label AS neg_label,
             CAST(floor($dotPC * 10000.0 / (p.qn * t.nrm)) AS bigint) AS cos_bp
      FROM cellof t
      JOIN probes p ON t.cell = p.cell AND t.vec_id <> p.q_id
      JOIN lab tl ON tl.vec_id = t.vec_id
      JOIN lab ql ON ql.vec_id = p.q_id AND tl.label <> ql.label
    )
    SELECT q_id, q_label, cand_id, neg_label, cos_bp, rnk FROM (
      SELECT q_id, q_label, cand_id, neg_label, cos_bp,
             rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
      FROM fscored
    ) WHERE rnk <= 3
    ORDER BY q_id, rnk, cand_id"""
  }

  // lazy: ivfCellCtes is declared later in this object (a strict val here
  // would interpolate null at object-init time — the kmeansCtes footgun)
  lazy val annFilteredSql: String = {
    val dotPC = "list_reduce(list_transform(range(1, len(p.qv) + 1), i -> CAST(p.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    s"""
    WITH $ivfCellCtes, lab AS (
      SELECT vec_id, CAST(label AS bigint) AS label FROM embeddings
    ), fscored AS (
      SELECT p.q_id, ql.label AS q_label, t.vec_id AS cand_id,
             CAST(floor($dotPC * 10000.0 / (p.qn * t.nrm)) AS bigint) AS cos_bp
      FROM cellof t
      JOIN probes p ON t.cell = p.cell AND t.vec_id <> p.q_id
      JOIN lab tl ON tl.vec_id = t.vec_id
      JOIN lab ql ON ql.vec_id = p.q_id AND tl.label = ql.label
    )
    SELECT q_id, q_label, cand_id, cos_bp, rnk FROM (
      SELECT q_id, q_label, cand_id, cos_bp,
             rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
      FROM fscored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""
  }

  /** IVF nprobe sweep — the tuning curve an operator reads before fixing
    * nprobe in production: recall@5 vs the exact cosine ground truth at
    * nprobe ∈ {1, 2, 4}, one row per level. ONE candidate table is scored
    * (cells up to crnk ≤ 4, with the probe rank riding along) and each
    * level is a FILTER over it — the sweep costs one scan + three window
    * heads, not three index builds. The aggregated readout (total truth
    * hits per level) is the capacity-planning number: it says exactly how
    * much recall each extra probed cell buys for a linear cost increase. */
  def annProbeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annBruteForce(spark, sfDir)
      .select(col("q_id"), col("cand_id")).localCheckpoint()
    val (cellOf, probes4) = ivfParts(spark, sfDir, maxProbe = 4)
    val scored = cellOf.join(broadcast(probes4), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("crnk"), col("vec_id").as("cand_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
      .localCheckpoint() // one scoring pass feeds all three sweep levels
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    val approx = Seq(1, 2, 4).map { n =>
      scored.filter(col("crnk") <= n)
        .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 5)
        .select(lit(n.toLong).as("nprobe"), col("q_id"), col("cand_id"))
    }.reduce(_ union _).withColumn("hit", lit(1))
    val truthL = Seq(1, 2, 4).map(n =>
      truth.select(lit(n.toLong).as("nprobe"), col("q_id"), col("cand_id")))
      .reduce(_ union _)
    truthL.join(approx, Seq("nprobe", "q_id", "cand_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_truth"),
           sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("nprobe"), col("n_truth"), col("n_hit"),
        expr("10000 * n_hit div n_truth").as("recall_bp"))
      .orderBy(col("nprobe"))
  }

  /** The IVF cell CTE chain (e → cents → assigned → cellof + probes),
    * spliced by both the annIvf and annIvfPq oracles. */
  private val ivfCellCtes: String = {
    val dotVC = "list_reduce(list_transform(range(1, len(e.v) + 1), i -> CAST(e.v[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    s"""e AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cell, v AS cv, nrm AS cn FROM e WHERE vec_id < 16
    ), assigned AS (
      SELECT e.vec_id, e.v, e.nrm, c.cell,
             rank() OVER (PARTITION BY e.vec_id
                          ORDER BY $dotVC / (e.nrm * c.cn) DESC, c.cell) AS crnk
      FROM e CROSS JOIN cents c
    ), cellof AS (
      SELECT vec_id, v, nrm, cell FROM assigned WHERE crnk = 1
    ), probes AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell
      FROM assigned WHERE vec_id < 10 AND crnk <= 2
    )"""
  }

  val annIvfSql: String = {
    val dotQC = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    s"""
    WITH $ivfCellCtes, scored AS (
      SELECT q.q_id, t.vec_id AS cand_id,
             CAST(floor($dotQC * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM cellof t JOIN probes q ON t.cell = q.cell AND t.vec_id <> q.q_id
    )
    SELECT q_id, cand_id, cos_bp, rnk FROM (
      SELECT q_id, cand_id, cos_bp,
             rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""
  }

  val annProbeSweepSql: String = {
    val dotPC = "list_reduce(list_transform(range(1, len(p.qv) + 1), i -> CAST(p.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    val levels = Seq(1, 2, 4).map(n => s"""
      SELECT CAST($n AS bigint) AS nprobe, q_id, cand_id, 1 AS hit FROM (
        SELECT q_id, cand_id,
               rank() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, cand_id) AS rnk
        FROM swscored WHERE crnk <= $n
      ) WHERE rnk <= 5""").mkString("\n      UNION ALL ")
    s"""
    WITH $ivfCellCtes, probes4 AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell, crnk
      FROM assigned WHERE vec_id < 10 AND crnk <= 4
    ), swscored AS (
      SELECT p.q_id, p.crnk, t.vec_id AS cand_id,
             CAST(floor($dotPC * 10000.0 / (p.qn * t.nrm)) AS bigint) AS cos_bp
      FROM cellof t JOIN probes4 p ON t.cell = p.cell AND t.vec_id <> p.q_id
    ), truth AS (
      SELECT q_id, cand_id FROM ($annBruteForceSql) t
    ), truthl AS (
      SELECT CAST(1 AS bigint) AS nprobe, q_id, cand_id FROM truth
      UNION ALL SELECT CAST(2 AS bigint), q_id, cand_id FROM truth
      UNION ALL SELECT CAST(4 AS bigint), q_id, cand_id FROM truth
    ), approx AS ($levels)
    SELECT nprobe, count(*) AS n_truth,
           CAST(sum(coalesce(hit, 0)) AS bigint) AS n_hit,
           (10000 * CAST(sum(coalesce(hit, 0)) AS bigint) // count(*)) AS recall_bp
    FROM truthl LEFT JOIN approx USING (nprobe, q_id, cand_id)
    GROUP BY nprobe
    ORDER BY nprobe"""
  }

  // -------------------------------------------------------------- kNN graph

  /** Neighbors kept per vector in [[knnGraph]]. */
  val KnnK = 5
  /** Cells each vector probes when building the graph. */
  val KnnProbe = 2

  /** Conf key: hard ceiling on [[knnGraph]]'s coarse-quantizer cell
    * count. A BROADCAST-SIZE guard, not a work clamp: at the default
    * 65536 cells the centroid table is ≤ 32 MB of 64-dim doubles
    * (comfortably broadcastable) and per-cell population stays ∝ √n up
    * to n ≈ 4·10⁹ vectors. The r8 version hard-clamped at 256 cells,
    * which made per-cell population LINEAR in n past 65k vectors and the
    * candidate join O(n²/256) — the documented-not-automatic posture the
    * graph-family cutover (r8) proved inadequate. */
  val KnnMaxCellsKey = "spark.graft.knn.maxCells"
  val DefaultKnnMaxCells = 65536L

  /** Conf key: corpus size at or above which [[knnGraph]] swaps the
    * deterministic sampled-id centroids for [[graft.operators.KMeans]]
    * Lloyd-fit centroids. Sampled ids stay oracle-replayable and are an
    * unbiased corpus sample, but give no balance guarantee; past this
    * size the two extra Lloyd passes are noise next to the O(n·√n)
    * assignment and buy bounded cell skew. Specs force a 1-vector
    * cutover to assert the switch (GraphScale-style). */
  val KnnKmeansMinVectorsKey = "spark.graft.knn.kmeansMinVectors"
  val DefaultKnnKmeansMinVectors = 262144L

  /** Centroid source [[knnGraph]] picks at `n` vectors: `"sampled"`
    * below the conf cutover, `"kmeans"` at or past it. */
  def knnCentroidMode(spark: SparkSession, n: Long): String =
    if (n >= graft.operators.GraphScale.longConf(spark,
      KnnKmeansMinVectorsKey, None, DefaultKnnKmeansMinVectors)) "kmeans"
    else "sampled"

  /** Coarse cell count at `n` vectors: ⌊√n⌋ at ANY n (floor 16), capped
    * only by the broadcast-size ceiling above. */
  def knnNumCells(spark: SparkSession, n: Long): Long =
    math.max(16L, math.min(
      graft.operators.GraphScale.longConf(spark, KnnMaxCellsKey, None,
        DefaultKnnMaxCells),
      math.sqrt(n.toDouble).toLong))

  /** The (cell, cv: double[], cn) coarse-centroid table for [[knnGraph]]:
    * sampled ids below the cutover (deterministic — the oracle replays
    * it), [[graft.operators.KMeans]] centroids past it (2 Lloyd
    * iterations over the integer-quantized table; the driver's centroid
    * arrays are scaled back into cosine space as a local table; cluster
    * ids are seed vec_ids, so cell keys stay
    * globally unique). Both sources feed the identical assignment join —
    * only the centroid VALUES differ, never the contract. */
  private[queries] def knnCentroids(spark: SparkSession, sfDir: String,
                                    e: DataFrame, n: Long,
                                    ncells: Long): DataFrame =
    if (knnCentroidMode(spark, n) == "sampled")
      e.filter(col("vec_id") < ncells)
        .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
    else {
      import spark.implicits._
      val emb = Tables.embeddings(spark, sfDir)
      val c = graft.operators.KMeans.finalCentroids(
        graft.operators.KMeans.quantize(emb), emb, ncells.toInt, 2)
      c.ids.toSeq.zip(c.values.toSeq.map(_.map(_.toDouble / 1000000.0)))
        .toDF("cell", "cv")
        .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
        // an all-zero centroid can't rank by cosine; its would-be members
        // fall to their next-nearest cell (can only arise on degenerate
        // inputs — Lloyd means of unit-ish vectors don't vanish)
        .filter(col("cn") > 0.0)
    }

  /** k-NN graph construction — every vector's top-[[KnnK]] cosine
    * neighbors, the building block for graph-based dedup/diversity
    * filtering and the [[knnSearch]] beam walk. Unlike the query-set ANN
    * rows (10 probe vectors), EVERY vector is a query here, so the
    * coarse quantizer scales with the corpus: ncells = ⌊√n⌋ at any n
    * (floor 16, broadcast-ceiling [[DefaultKnnMaxCells]]) — per-cell
    * population ∝ √n, candidate join O(n·√n·probes), never O(n²/const).
    * The centroid SOURCE switches automatically at
    * [[KnnKmeansMinVectorsKey]] (measured count, GraphScale-style):
    * sampled ids while the oracle replays them, Lloyd-fit past the
    * cutover where balance matters more than replayability.
    * Candidates come from each vector's [[KnnProbe]] nearest cells via a
    * cell equi-join (never all-pairs), and the per-vector top-k is the
    * bounded [[graft.operators.TopK]] aggregator — shuffle O(n·k), NOT a
    * window sort over all candidate pairs. */
  def knnGraph(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphCore(spark, sfDir).orderBy(col("src_id"), col("rnk"))

  /** The k-NN graph's top-k edge table, memoized per (session, sfDir) —
    * r12: the graph is an INDEX consumed by six declared rows
    * (`e_knn_graph/_recall/_mutual/_search/_search_recall` and the
    * `e_hnsw_*` layer-0 walks), and each used to re-run the O(n·√n·probe)
    * build from scratch. The [[pqCore]] ChainMemo posture applies
    * verbatim: within one session the graph is built once and every
    * consumer reads the checkpointed O(n·k) edge table — the production
    * "build the index once, serve it" shape — while Bench's per-query
    * block cleanup still makes each query's run 1 rebuild it. */
  private val knnGraphMemo = new graft.operators.ChainMemo[DataFrame]()

  /** Conf+size component of the knn-family memo keys: the graph's shape
    * depends on the conf-driven centroid mode and cell ceiling, so a
    * session that flips those confs (KnnScaleSpec's forced cutover, an
    * operator retune) must never be served a chain built under the old
    * values — the conf values are part of the key, exactly like
    * `minhashPairs`' rows-per-band. */
  /** Corpus row count per (session, sfDir) — r13 (ADVICE r12 low):
    * `knnMemoTag` ran `embeddings.count()` on EVERY memo lookup, so each
    * knn-family call paid a Spark job even on a hit, counted inside
    * Bench's timed runs 2–3. The count of an immutable input is memoized
    * once per session (ChainMemo entry with no checkpoint blocks — always
    * valid within the session, never persisted across processes). The
    * conf-driven mode/cell values stay LIVE in the tag, so a session that
    * flips the cutover confs (KnnScaleSpec) still re-keys correctly. */
  private val embCountMemo = new graft.operators.ChainMemo[Long]()
  private def embCount(spark: SparkSession, sfDir: String): Long =
    embCountMemo.getOrBuild(spark, sfDir) {
      Tables.embeddings(spark, sfDir).count()
    }

  private def knnMemoTag(spark: SparkSession, sfDir: String): String = {
    val n = embCount(spark, sfDir)
    s"$sfDir|${knnCentroidMode(spark, n)}|${knnNumCells(spark, n)}"
  }

  private def knnGraphCore(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphMemo.getOrBuild(spark, knnMemoTag(spark, sfDir)) {
      // materialize the O(n·k) result itself: every memo consumer reads
      // the finished edge list, not the assignment checkpoint re-aggregated
      knnGraphBuild(spark, sfDir).localCheckpoint(false)
    }

  /** The un-memoized graph build — what actually executes on a memo
    * miss; PlanGuardSpec asserts ITS shape (the declared query's own
    * plan is a scan of the memoized checkpoint). */
  /** The build's checkpointed (vec_id, v, nrm, cell, crnk ≤ probe) cell
    * assignment, exposed for KnnAssignSpec's window-equivalence pin. */
  private[queries] def knnGraphAssignedForSpec(spark: SparkSession,
                                               sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val n = embCount(spark, sfDir)
    val ncells = knnNumCells(spark, n)
    knnAssignTopCells(e, knnCentroids(spark, sfDir, e, n, ncells))
  }

  /** Map-side top-[[KnnProbe]] cell assignment (r13; see the note in
    * [[knnGraphBuild]]): score every broadcast centroid per row inside a
    * `transform`, sort by (ccos DESC nan-first, cell ASC), slice, explode.
    * Zero exchange; the checkpoint holds n·probe rows. */
  private[queries] def knnAssignTopCells(m: DataFrame, cents: DataFrame): DataFrame =
    m.crossJoin(broadcast(cents
        .agg(array_sort(collect_list(struct(col("cell"), col("cv"), col("cn"))))
          .as("cents"))))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(slice(array_sort(transform(col("cents"), c => {
          val ccos = dot(col("v"), c.getField("cv")) /
            (col("nrm") * c.getField("cn"))
          struct(not(isnan(ccos)).as("s0"), (-ccos).as("s1"),
            c.getField("cell").as("cell"))
        })), 1, KnnProbe)).as(Seq("p", "tc")))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("tc.cell").as("cell"), (col("p") + 1).as("crnk"))
      .localCheckpoint(false) // feeds home cells AND probe lists

  private[graft] def knnGraphBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val n = embCount(spark, sfDir) // = e.count(): one projection per row
    val ncells = knnNumCells(spark, n)
    val cents = knnCentroids(spark, sfDir, e, n, ncells)
    // r13 (guide §2.4, the r12 "narrow window" item finished properly):
    // the old shape cross-joined every vector with the broadcast centroid
    // table and ranked the n·ncells WIDE rows (embedding array included)
    // through a per-vector window exchange. The top-[[KnnProbe]] cells of
    // a vector are a per-ROW computation once the centroids ride along as
    // ONE array: score all cells inside a `transform`, sort, slice — the
    // whole assignment is map-side, ZERO exchange, and the checkpoint
    // holds only n·probe rows. Broadcast bytes are unchanged (the same
    // centroid table, packed into one row). Ordering is the window's
    // (ccos DESC, cell ASC) with Spark's nan-safe double semantics: the
    // sort key is (isnan DESC, -ccos, cell), so NaN ranks strictly before
    // +∞ (rank DESC places NaN first) — KnnAssignSpec pins equivalence
    // against the window shape on the real corpus and the NaN/+∞ order.
    val assigned = knnAssignTopCells(e, cents)
    val cellOf = assigned.filter(col("crnk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val probes = assigned
      .select(col("vec_id").as("src_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    // each (src, nbr) pair arises at most once: probe cells are distinct
    // and a neighbor has one home cell — no dedup pass needed
    val scored = cellOf.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("src_id"))
      .select(col("src_id"), col("vec_id").as("nbr_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
    graft.operators.TopK.topK(scored, "src_id", "cos_bp", "nbr_id", KnnK)
      .select(col("src_id"), col("rnk").cast("long").as("rnk"),
        col("nbr_id"), col("cos_bp"))
  }

  /** CTE chain: √n-cell assignment + all-vector probes (the [[knnGraph]]
    * counterpart of `ivfCellCtes`, which fixes 16 cells / 10 queries). */
  private val knnCtes: String = {
    val dotVC = "list_reduce(list_transform(range(1, len(e.v) + 1), i -> CAST(e.v[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    val dotQC = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    s"""e AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    ), nc AS (
      SELECT greatest(16, least($DefaultKnnMaxCells, CAST(floor(sqrt(count(*))) AS bigint))) AS ncells
      FROM e
    ), kcents AS (
      SELECT vec_id AS cell, v AS cv, nrm AS cn FROM e CROSS JOIN nc
      WHERE vec_id < ncells
    ), kassigned AS (
      SELECT e.vec_id, e.v, e.nrm, c.cell,
             rank() OVER (PARTITION BY e.vec_id
                          ORDER BY $dotVC / (e.nrm * c.cn) DESC, c.cell) AS crnk
      FROM e CROSS JOIN kcents c
    ), kcellof AS (
      SELECT vec_id, v, nrm, cell FROM kassigned WHERE crnk = 1
    ), kprobes AS (
      SELECT vec_id AS src_id, v AS qv, nrm AS qn, cell
      FROM kassigned WHERE crnk <= $KnnProbe
    ), kscored AS (
      SELECT q.src_id, t.vec_id AS nbr_id,
             CAST(floor($dotQC * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM kcellof t JOIN kprobes q ON t.cell = q.cell AND t.vec_id <> q.src_id
    ), kgraph AS (
      SELECT src_id, CAST(rnk AS bigint) AS rnk, nbr_id, cos_bp FROM (
        SELECT src_id, nbr_id, cos_bp,
               row_number() OVER (PARTITION BY src_id
                 ORDER BY cos_bp DESC, nbr_id) AS rnk
        FROM kscored
      ) WHERE rnk <= $KnnK
    )"""
  }

  val knnGraphSql: String = s"""
    WITH $knnCtes
    SELECT src_id, rnk, nbr_id, cos_bp FROM kgraph
    ORDER BY src_id, rnk"""

  /** Recall of the [[knnGraph]] edges against brute-force cosine truth,
    * in the `e_ann_recall` posture: per query vector (vec_id < 10), how
    * many of the exact top-5 neighbors does the graph keep. Prices the
    * √n-cell / 2-probe candidate generation the same way the other ANN
    * variants are priced. */
  def knnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annBruteForce(spark, sfDir).select(col("q_id"), col("cand_id"))
    val approx = knnGraph(spark, sfDir)
      .filter(col("src_id") < 10)
      .select(col("src_id").as("q_id"), col("nbr_id").as("cand_id"),
        lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        expr("10000 * n_hit div n_truth").as("recall_bp"))
      .orderBy(col("q_id"))
  }

  /** Similarity cut for a mutual edge to count as a near-dup candidate
    * (aligned with `d_dedup_embedding`'s ≥ 3000 bp regime on the
    * synthetic near-uniform vectors). */
  val MutualCosBp = 3000

  /** Mutual-kNN near-dup clustering — what the k-NN graph is FOR: an
    * (a, b) edge is a dup candidate iff each vector appears in the
    * OTHER's top-k (mutuality kills the hub-node false positives plain
    * radius cuts suffer) AND cos ≥ [[MutualCosBp]]; candidates then
    * collapse into clusters via
    * [[graft.operators.Dedup.connectedComponents]] (per-partition
    * union-find, the d_dedup_clusters recipe). Output: one row per
    * clustered vector (singletons dropped) with its cluster id and
    * size. Scale shape: the graph build's cell equi-join + bounded
    * TopK, one self-join of the O(n·k) edge list on (a, b), CC over the
    * (tiny) mutual pair set — never an all-pairs pass. */
  def knnMutual(spark: SparkSession, sfDir: String): DataFrame = {
    val g = knnGraphCore(spark, sfDir) // memoized checkpoint; skip the sort
      .filter(col("cos_bp") >= MutualCosBp)
      .select(col("src_id"), col("nbr_id"))
    val pairs = g.filter(col("src_id") < col("nbr_id"))
      .select(col("src_id").as("doc_a"), col("nbr_id").as("doc_b"))
      .join(g.filter(col("src_id") > col("nbr_id"))
          .select(col("nbr_id").as("doc_a"), col("src_id").as("doc_b")),
        Seq("doc_a", "doc_b"), "left_semi")
    val verts = Tables.embeddings(spark, sfDir).select(col("vec_id").as("doc_id"))
    val cc = graft.operators.Dedup.connectedComponents(pairs, verts)
      .localCheckpoint(false) // label table feeds the size agg AND the rejoin
    cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
      .join(cc, Seq("cluster_id"))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  val knnMutualSql: String = s"""
    WITH RECURSIVE $knnCtes,
    ge AS (
      SELECT src_id, nbr_id FROM kgraph WHERE cos_bp >= $MutualCosBp
    ), mpairs AS (
      SELECT a.src_id AS doc_a, a.nbr_id AS doc_b
      FROM ge a JOIN ge b ON a.src_id = b.nbr_id AND a.nbr_id = b.src_id
      WHERE a.src_id < a.nbr_id
    ), medges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mpairs
      UNION ALL SELECT doc_b, doc_a FROM mpairs
    ), reach(id, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.src, reach.r FROM medges e JOIN reach ON e.dst = reach.id
    ), lab AS (
      SELECT id AS vec_id, CAST(min(r) AS bigint) AS cluster_id
      FROM reach GROUP BY id
    ), csz AS (
      SELECT cluster_id, CAST(count(*) AS bigint) AS cluster_size
      FROM lab GROUP BY cluster_id HAVING count(*) >= 2
    )
    SELECT l.vec_id, l.cluster_id, c.cluster_size
    FROM lab l JOIN csz c USING (cluster_id)
    ORDER BY l.vec_id"""

  val knnRecallSql: String = s"""
    WITH $knnCtes,
    truth AS (SELECT q_id, cand_id FROM ($annBruteForceSql) t),
    approx AS (
      SELECT src_id AS q_id, nbr_id AS cand_id, 1 AS hit
      FROM kgraph WHERE src_id < 10
    )
    SELECT q_id, count(*) AS n_truth,
           CAST(sum(coalesce(hit, 0)) AS bigint) AS n_hit,
           (10000 * CAST(sum(coalesce(hit, 0)) AS bigint) // count(*)) AS recall_bp
    FROM truth LEFT JOIN approx USING (q_id, cand_id)
    GROUP BY q_id
    ORDER BY q_id"""

  // ------------------------------------------------------- kNN beam search

  /** Best-first expansion rounds in [[knnSearch]]. */
  val KnnSearchRounds = 3
  /** Beam width: unexpanded candidates kept per round. */
  val KnnSearchBeam = 8
  /** Results returned per query. */
  val KnnSearchTopK = 5

  /** HNSW-flavored graph search — a two-layer hierarchy over the
    * [[knnGraph]] edges (the refinement structure the graph exists for).
    * Layer 1 is the deterministic √n hub sample (vec_id < ncells, the
    * same id cut the coarse quantizer uses): each query scores ALL hubs
    * exactly — a bounded √n scan, the walk-in HNSW's upper layers buy —
    * and the best [[KnnSearchBeam]] hubs seed the beam. Layer 0 is the
    * greedy beam walk: each round expands the beam's unexpanded best
    * candidates through their graph edges, scores the newly reached
    * vectors exactly, and re-cuts the beam; after [[KnnSearchRounds]]
    * rounds the answer is the top-[[KnnSearchTopK]] of everything
    * visited (ties → smaller id everywhere, so DuckDB replays the whole
    * walk — a fixed single entry point was measured at 20 % recall on
    * this corpus because a uniform-random k-NN graph is not navigable
    * from one point; the hub layer is what fixes the landing zone).
    * Scale shape: the hub scan is queries×√n with the hub side
    * broadcast; the frontier is O(queries·beam) rows and BROADCAST into
    * an equi-join against the O(n·k) edge list each round — per-round
    * work is one hash-join scan of the checkpointed graph, never a
    * cartesian; scoring joins only newly-reached ids against the corpus.
    * Recall at the walk's total exact-scoring budget (hubs + walk) is
    * priced by [[knnSearchRecall]] against brute force, read next to
    * `e_ann_recall`'s IVF rows at their probe budget. */
  def knnSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    knnSearchVisited(spark, sfDir)
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnSearchTopK)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), col("cos_bp"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The walk's full scored-visited set V_R per query — (q_id, cand_id,
    * cos_bp). [[knnSearch]] reads the top-k off it; [[knnSearchRecall]]
    * also reads |V_R| as the candidate budget. */
  private val knnVisitedMemo = new graft.operators.ChainMemo[DataFrame]()
  private def knnSearchVisited(spark: SparkSession, sfDir: String): DataFrame =
    knnVisitedMemo.getOrBuild(spark, knnMemoTag(spark, sfDir)) {
      // checkpoint the final visited set: the memo's consumers
      // (`e_knn_search`, `e_knn_search_recall`) each read it 2-3×
      knnSearchVisitedBuild(spark, sfDir).localCheckpoint(false)
    }
  private[graft] def knnSearchVisitedBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    // the memoized graph core is already checkpointed — probe it directly
    val g = knnGraphCore(spark, sfDir).select(col("src_id"), col("nbr_id"))
    // r13: the 10-row query side is localized once — every broadcast of
    // it (seed scoring, per-round walk scoring) then builds job-free
    val qs = localized(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    // layer 1: exact scores against the √n hub sample seed the beam;
    // layer 0 is [[hnswWalk]] (r12: the walk loop was this function's
    // inline twin — one shared best-first implementation now serves the
    // hub-entry and multi-layer searches, with one checkpoint per round)
    val n = embCount(spark, sfDir) // = e.count(): one projection per row
    val hubIds = e.filter(col("vec_id") < knnNumCells(spark, n))
      .select(col("vec_id").as("cand_id"))
    val visited0 = hnswScore(e, qs)(
        qs.select(col("q_id")).crossJoin(broadcast(hubIds)))
      .localCheckpoint(false)
    hnswWalks("knn search", e, qs, Seq(visited0 -> Seq((g, KnnSearchBeam, KnnSearchRounds))))
      .drop("cfg")
  }

  /** Per-query recall of the beam walk vs brute-force truth (the
    * `e_ann_recall` posture) plus `n_scored` — the walk's exact-scoring
    * budget (distinct candidates visited, query itself excluded). Read
    * next to `e_ann_recall`'s IVF rows: equal-budget comparison of
    * graph-guided vs cell-probe candidate generation. */
  def knnSearchRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annBruteForce(spark, sfDir).select(col("q_id"), col("cand_id"))
    // ONE walk feeds both readouts (top-k hits and the budget count)
    val v = knnSearchVisited(spark, sfDir)
      .filter(col("cand_id") =!= col("q_id"))
      .localCheckpoint(false)
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    val approx = v.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= KnnSearchTopK)
      .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
    val budget = v.groupBy(col("q_id")).agg(count(lit(1)).as("n_scored"))
    truth.join(approx, Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .join(budget, Seq("q_id"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        expr("10000 * n_hit div n_truth").as("recall_bp"), col("n_scored"))
      .orderBy(col("q_id"))
  }

  /** The beam-walk CTE chain (entry + R unrolled expand/score/re-cut
    * rounds), ending in visited set `v$KnnSearchRounds`. Each multiply-
    * referenced stage is MATERIALIZED — the per-round state is referenced
    * twice (next round's anti-join + union), and inlining would re-derive
    * the whole chain 2^R× (the qKcore single-reference lesson; here the
    * fan-out is bounded by materialization instead). */
  private val knnSearchCtes: String = {
    val dotQT = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    val rounds = (1 to KnnSearchRounds).map { r =>
      val (pv, pf, px) = (s"v${r - 1}", s"f${r - 1}", s"x${r - 1}")
      s"""n$r AS (
      SELECT DISTINCT f.q_id, g.nbr_id AS cand_id
      FROM $pf f JOIN kgraph g ON g.src_id = f.node
    ), w$r AS (
      SELECT n.q_id, n.cand_id FROM n$r n
      WHERE NOT EXISTS (SELECT 1 FROM $pv v
                        WHERE v.q_id = n.q_id AND v.cand_id = n.cand_id)
    ), v$r AS MATERIALIZED (
      SELECT * FROM $pv
      UNION ALL
      SELECT w.q_id, w.cand_id,
             CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM w$r w JOIN e t ON t.vec_id = w.cand_id JOIN qs q ON q.q_id = w.q_id
    ), f$r AS MATERIALIZED (
      SELECT q_id, node FROM (
        SELECT v.q_id, v.cand_id AS node,
               row_number() OVER (PARTITION BY v.q_id
                 ORDER BY v.cos_bp DESC, v.cand_id) AS brnk
        FROM v$r v
        WHERE NOT EXISTS (SELECT 1 FROM $px x
                          WHERE x.q_id = v.q_id AND x.node = v.cand_id)
      ) WHERE brnk <= $KnnSearchBeam
    ), x$r AS MATERIALIZED (
      SELECT * FROM $px UNION ALL SELECT * FROM f$r
    )"""
    }.mkString(", ")
    val dotQH = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    s"""qs AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10
    ), v0 AS MATERIALIZED (
      SELECT q.q_id, c.cell AS cand_id,
             CAST(floor($dotQH * 10000.0 / (q.qn * c.cn)) AS bigint) AS cos_bp
      FROM qs q CROSS JOIN kcents c
    ), f0 AS MATERIALIZED (
      SELECT q_id, node FROM (
        SELECT q_id, cand_id AS node,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bp DESC, cand_id) AS brnk
        FROM v0
      ) WHERE brnk <= $KnnSearchBeam
    ), x0 AS (
      SELECT q_id, node FROM f0
    ), $rounds"""
  }

  val knnSearchSql: String = s"""
    WITH ${knnCtes.replace("kgraph AS (", "kgraph AS MATERIALIZED (")},
    $knnSearchCtes
    SELECT q_id, CAST(brnk AS bigint) AS rnk, cand_id, cos_bp FROM (
      SELECT q_id, cand_id, cos_bp,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos_bp DESC, cand_id) AS brnk
      FROM v$KnnSearchRounds WHERE cand_id <> q_id
    ) WHERE brnk <= $KnnSearchTopK
    ORDER BY q_id, rnk"""

  val knnSearchRecallSql: String = s"""
    WITH ${knnCtes.replace("kgraph AS (", "kgraph AS MATERIALIZED (")},
    $knnSearchCtes,
    truth AS (SELECT q_id, cand_id FROM ($annBruteForceSql) t),
    approx AS (
      SELECT q_id, cand_id, 1 AS hit FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bp DESC, cand_id) AS brnk
        FROM v$KnnSearchRounds WHERE cand_id <> q_id
      ) WHERE brnk <= $KnnSearchTopK
    ), budget AS (
      SELECT q_id, CAST(count(*) AS bigint) AS n_scored
      FROM v$KnnSearchRounds WHERE cand_id <> q_id GROUP BY q_id
    )
    SELECT t.q_id, count(*) AS n_truth,
           CAST(sum(coalesce(hit, 0)) AS bigint) AS n_hit,
           (10000 * CAST(sum(coalesce(hit, 0)) AS bigint) // count(*)) AS recall_bp,
           any_value(b.n_scored) AS n_scored
    FROM truth t
    LEFT JOIN approx a ON t.q_id = a.q_id AND t.cand_id = a.cand_id
    JOIN budget b ON b.q_id = t.q_id
    GROUP BY t.q_id
    ORDER BY t.q_id"""

  // ------------------------------------------------------- HNSW multi-layer

  /** Geometric level base: P(level ≥ l) = 16^−l. */
  private val HnswBase = 16L
  private val HnswMaxLevel = 2
  /** Per-node out-degree on the upper layers (HNSW's M). */
  private val HnswUpperK = 4
  /** Greedy rounds per upper layer. */
  private val HnswUpperRounds = 2

  /** Deterministic geometric level: md5-derived 60-bit integer, level =
    * trailing divisibility by [[HnswBase]] (capped at [[HnswMaxLevel]]);
    * vec 0 is PINNED to the top level so every layer is non-empty at any
    * corpus size (the first-inserted node is the entry point in a real
    * HNSW build). */
  private[queries] def hnswLvl: Column = {
    val h = conv(substring(md5(concat(lit("hnsw_"), col("vec_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    when(col("vec_id") === 0, HnswMaxLevel)
      .when(h % (HnswBase * HnswBase) === 0, 2)
      .when(h % HnswBase === 0, 1)
      .otherwise(0)
  }

  /** k-NN links among the members of one upper layer — the [[knnGraph]]
    * recipe scoped to the layer: √n_l quantizer cells seeded by the
    * layer's smallest ids, 2-probe assignment, exact cosine within
    * candidate cells, top-[[HnswUpperK]] per member. Upper layers shrink
    * geometrically (n/16, n/256), so these builds cost a vanishing
    * fraction of the layer-0 graph. */
  private[queries] def hnswLayerGraph(lv: DataFrame, l: Int,
                                      k: Int = HnswUpperK): DataFrame = {
    val m = lv.filter(col("lvl") >= l)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint(false) // centroid cut + assignment + scoring reuse it
    val ncells = math.max(4L, math.floor(math.sqrt(m.count().toDouble)).toLong)
    val cents = m.orderBy(col("vec_id")).limit(ncells.toInt)
      .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
    // map-side top-probe cell assignment — the [[knnGraphBuild]] r13
    // shape (zero-exchange; see the equivalence note there)
    val assigned = knnAssignTopCells(m, cents)
    val cellOf = assigned.filter(col("crnk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val probes = assigned
      .select(col("vec_id").as("src_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell"))
    val scored = cellOf.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("src_id"))
      .select(col("src_id"), col("vec_id").as("nbr_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
    graft.operators.TopK.topK(scored, "src_id", "cos_bp", "nbr_id", k)
      .select(col("src_id"), col("nbr_id"))
  }

  /** Collect a tiny DataFrame into a LocalRelation-backed twin: broadcast
    * builds over it (and further collects of it) run driver-local with no
    * Spark job. Values are bit-identical — a broadcast exchange would
    * collect exactly these rows to the driver anyway; this just skips the
    * per-use build job (r13, guide §2.6: the walk rounds were
    * job-latency-bound, not data-bound). If the input is already local,
    * the collect itself schedules no job either. */
  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** (…, q_id, cand_id) → the same columns plus the exact cosine against
    * `e`; the candidate and query sides are tiny (≤ queries·beam·k rows)
    * and ride broadcast into the corpus-side equi-join — shared by the
    * seeds and [[hnswWalks]]. */
  private def hnswScore(e: DataFrame, qs: DataFrame)(cands: DataFrame): DataFrame =
    e.join(broadcast(cands), e("vec_id") === cands("cand_id"))
      .join(broadcast(qs), "q_id")
      .select(cands.columns.map(col) :+
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"): _*)

  /** One walk round's frontier expansion: the (tiny, local) frontier
    * probes the checkpointed edge list by BROADCAST hash on src_id — a
    * shuffled join would re-shuffle the O(n·k) graph per round, a dropped
    * key would nested-loop it (PlanGuardSpec asserts this plan; it
    * executes inside the per-round collect job). The frontier's other
    * columns (q_id, and the walk's cfg) carry over to the reached ids. */
  private[graft] def hnswExpand(g: DataFrame, frontier: DataFrame): DataFrame =
    g.join(broadcast(frontier), g("src_id") === frontier("node"))
      .select(frontier.columns.filter(_ != "node").map(col) :+
        col("nbr_id").as("cand_id"): _*).distinct()

  /** Greedy beam walks over layer graphs, all advanced as ONE union state
    * keyed by `cfg` (the walk's index in `walks`). Walk i starts from its
    * already-scored seed (q_id, cand_id, cos_bp) and runs its segments in
    * order, each `(graph, beam, rounds)`: per round the best `beam`
    * UNEXPANDED visited nodes expand through the segment's graph, newly
    * reached ids are scored exactly, the beam re-cuts; a new segment
    * starts with every visited node unexpanded again (a fresh walk on
    * the next layer down). The walks never interact, so advancing them
    * together costs max-rounds rounds of fixed job latency instead of the
    * sum. Deterministic (integer cos_bp, id tie-breaks, every operator
    * keyed on (cfg, q_id)) — DuckDB replays each walk per round. Returns
    * (cfg, q_id, cand_id, cos_bp).
    *
    * The rounds are job-latency-bound at every SF and the states are
    * O(queries·beam·k) rows by construction: the per-round frontier and
    * newly-reached sets are EXACTLY the rows a broadcast() build would
    * collect to the driver anyway, so they are collected once and
    * re-shipped as local relations (`qs` must be local too), leaving TWO
    * jobs per round. ONE state table with an `expanded` flag — the
    * frontier is the top-`beam` unexpanded rows by (cos_bp DESC, node). */
  private def hnswWalks(loop: String, e: DataFrame, qs: DataFrame,
                        walks: Seq[(DataFrame, Seq[(DataFrame, Int, Int)])]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    // per walk: one (graph, beam, resetBefore) entry per round
    val plan = walks.map { case (_, segs) =>
      segs.zipWithIndex.flatMap { case ((g, b, r), si) =>
        (1 to r).map(j => (g, b, si > 0 && j == 1))
      }.toVector
    }
    val seeds = walks.zipWithIndex.map { case ((seed, _), i) => seed.withColumn("cfg", lit(i)) }
    val wBeam = Window.partitionBy(col("cfg"), col("q_id"))
      .orderBy(col("cos_bp").desc, col("node"))
    graft.operators.Rounds.fixed(loop,
        seeds.reduce(_ unionByName _).withColumn("expanded", lit(false)),
        plan.map(_.size).max) { (state, round) =>
      val steps = plan.zipWithIndex.collect { case (p, i) if round <= p.size => i -> p(round - 1) }
      val resets = steps.collect { case (i, (_, _, true)) => i }
      val st =
        if (resets.isEmpty) state
        else state.withColumn("expanded",
          when(col("cfg").isInCollection(resets), lit(false)).otherwise(col("expanded")))
      val beamCol = steps.foldLeft(lit(0)) { case (acc, (i, (_, b, _))) =>
        when(col("cfg") === i, lit(b)).otherwise(acc) }
      // JOB 1: materialize the state, cut every walk's beam, collect
      val frontierRows = st.filter(col("cfg").isInCollection(steps.map(_._1)) && !col("expanded"))
        .withColumnRenamed("cand_id", "node")
        .withColumn("brnk", row_number().over(wBeam))
        .filter(col("brnk") <= beamCol)
        .select(col("cfg"), col("q_id"), col("node"))
        .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
      // JOB 2: expand each walk through ITS segment's graph (only the
      // graphs active this round are scanned), drop already-visited
      val graphOf = steps.toMap.view.mapValues(_._1).toMap
      val newlyRows = steps.map(_._2._1).distinct.map { g =>
        hnswExpand(g, frontierRows.filter(t => graphOf(t._1) eq g).toDF("cfg", "q_id", "node"))
      }.reduce(_ unionByName _)
        .join(st, Seq("cfg", "q_id", "cand_id"), "left_anti")
        .collect().map(x => (x.getInt(0), x.getLong(1), x.getLong(2))).toSeq
      val scored = hnswScore(e, qs)(newlyRows.toDF("cfg", "q_id", "cand_id"))
      val fmark = frontierRows.map { case (c, q, n) => (c, q, n, true) }
        .toDF("cfg", "q_id", "cand_id", "inf")
      st.join(broadcast(fmark), Seq("cfg", "q_id", "cand_id"), "left")
        .select(col("cfg"), col("q_id"), col("cand_id"), col("cos_bp"),
          (col("expanded") || coalesce(col("inf"), lit(false))).as("expanded"))
        .unionByName(scored.withColumn("expanded", lit(false)))
    }.select(col("cfg"), col("q_id"), col("cand_id"), col("cos_bp"))
  }

  /** TRUE multi-layer HNSW search (the r9 "what's missing" item 4): a
    * geometric level assignment gives layers of n/16 and n/256 members
    * with their own k-NN links; search enters at ONE pinned top-layer
    * node, greedily walks each upper layer ([[HnswUpperRounds]] rounds,
    * beam 1), descends, and runs the [[knnSearchVisited]] beam walk on
    * the full layer-0 graph. Against `e_knn_search`'s √n-hub entry this
    * is the LOG-SHAPED entry: upper-layer work is O(rounds·M) per query
    * at ANY corpus size, where the hub scan grows as √n — the
    * budget-recall curve gets its second point ([[hnswRecall]] prices
    * the recall this cheaper entry costs). Every stage is deterministic
    * (exact integer cos_bp, id tie-breaks), so DuckDB replays the whole
    * descent through materialized per-layer, per-round CTEs. */
  private val hnswVisitedMemo = new graft.operators.ChainMemo[DataFrame]()
  private[queries] def hnswVisited(spark: SparkSession, sfDir: String): DataFrame =
    hnswVisitedMemo.getOrBuild(spark, knnMemoTag(spark, sfDir)) {
      // the multi-layer descent over the memoized [[knnGraphCore]] layer-0
      // graph, checkpointed once for its two consumers (`e_hnsw_search`,
      // `e_hnsw_recall` — which used to re-run the whole descent AND the
      // knn-graph build underneath it)
      hnswVisitedBuild(spark, sfDir).localCheckpoint(false)
    }
  private def hnswVisitedBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val lv = e.withColumn("lvl", hnswLvl).localCheckpoint(false)
    val g2 = hnswLayerGraph(lv, 2).localCheckpoint(false)
    val g1 = hnswLayerGraph(lv, 1).localCheckpoint(false)
    val g0 = knnGraphCore(spark, sfDir)
      .select(col("src_id"), col("nbr_id")) // memo core is checkpointed
    val qs = localized(e.filter(col("vec_id") < 10) // r13: job-free broadcasts
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val entry = lv.filter(col("lvl") >= HnswMaxLevel)
      .agg(min(col("vec_id")).as("cand_id"))
    val visited = hnswScore(e, qs)(
        qs.select(col("q_id")).crossJoin(broadcast(entry)))
      .localCheckpoint(false)
    hnswWalks("hnsw descent", e, qs, Seq(visited -> Seq((g2, 1, HnswUpperRounds),
      (g1, 1, HnswUpperRounds), (g0, KnnSearchBeam, KnnSearchRounds)))).drop("cfg")
  }

  /** Incremental HNSW maintenance — the `e_ann_ivf_incr` posture for the
    * layer graphs: a ~9% arrival batch (`vec_id % 11 = 7` — scattered,
    * scale-proportional) is INSERTED into the existing layers instead of
    * rebuilding them. Each new vector keeps its md5-geometric level (the
    * [[hnswLvl]] rule is id-keyed, exactly how a real HNSW assigns levels
    * at insert time) and, per layer ≤ its level, links to its
    * top-[[HnswUpperK]] nearest EXISTING members by the layer-graph
    * recipe itself: √n quantizer cells from the base layer, the new
    * vector probes its 2 nearest cells, exact cosine inside them — so
    * per-arrival cost is O(cells probed), never a rebuild, at any corpus
    * size. One row per (layer, new vector): link count, best link and
    * its cosine — the full link-selection pinned by the oracle replaying
    * every cell cut, probe and top-k. */
  def hnswInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir).withColumn("lvl", hnswLvl).localCheckpoint(false)
    val isNew = col("vec_id") % 11 === 7
    val base = e.filter(!isNew)
    val nw = e.filter(isNew)
    def layerLinks(l: Int): DataFrame = {
      val m = base.filter(col("lvl") >= l)
        .select(col("vec_id"), col("v"), col("nrm"))
        .localCheckpoint(false)
      val ncells = math.max(4L, math.floor(math.sqrt(m.count().toDouble)).toLong)
      val cents = m.orderBy(col("vec_id")).limit(ncells.toInt)
        .select(col("vec_id").as("cell"), col("v").as("cv"), col("nrm").as("cn"))
      val wA = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cell"))
      val cellOf = m.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
          (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("ccos"))
        .withColumn("crnk", rank().over(wA))
        .filter(col("crnk") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      val wQ = Window.partitionBy(col("src_id")).orderBy(col("ccos").desc, col("cell"))
      val probes = nw.filter(col("lvl") >= l)
        .select(col("vec_id").as("src_id"), col("v").as("qv"), col("nrm").as("qn"))
        .crossJoin(broadcast(cents))
        .select(col("src_id"), col("qv"), col("qn"), col("cell"),
          (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("ccos"))
        .withColumn("crnk", rank().over(wQ))
        .filter(col("crnk") <= KnnProbe)
        .select(col("src_id"), col("qv"), col("qn"), col("cell"))
      val wTop = Window.partitionBy(col("src_id")).orderBy(col("cos_bp").desc, col("nbr_id"))
      cellOf.join(probes, Seq("cell"))
        .select(col("src_id"), col("vec_id").as("nbr_id"),
          cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= HnswUpperK)
        .groupBy(col("src_id"))
        .agg(count(lit(1)).as("n_links"),
          min(struct(col("rnk"), col("nbr_id"), col("cos_bp"))).as("b"))
        .select(lit(l.toLong).as("layer"), col("src_id"),
          col("b.nbr_id").as("best_nbr"), col("b.cos_bp").as("best_cos_bp"),
          col("n_links"))
    }
    (0 to HnswMaxLevel).map(layerLinks).reduce(_ unionByName _)
      .orderBy(col("layer"), col("src_id"))
  }

  val hnswInsertSql: String = {
    val dotMC = "list_reduce(list_transform(range(1, len(m.v) + 1), i -> CAST(m.v[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    val dotQC = "list_reduce(list_transform(range(1, len(q.v) + 1), i -> CAST(q.v[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    val dotQT = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    def layer(l: Int): String = s"""im$l AS MATERIALIZED (
      SELECT vec_id, v, nrm FROM ilv WHERE lvl >= $l AND vec_id % 11 <> 7
    ), inc$l AS (
      SELECT greatest(4, CAST(floor(sqrt(count(*))) AS bigint)) AS ncells FROM im$l
    ), ict$l AS MATERIALIZED (
      SELECT vec_id AS cell, v AS cv, nrm AS cn FROM (
        SELECT *, row_number() OVER (ORDER BY vec_id) AS crank FROM im$l
      ) CROSS JOIN inc$l WHERE crank <= ncells
    ), icel$l AS MATERIALIZED (
      SELECT vec_id, v, nrm, cell FROM (
        SELECT m.vec_id, m.v, m.nrm, c.cell,
               rank() OVER (PARTITION BY m.vec_id
                            ORDER BY $dotMC / (m.nrm * c.cn) DESC, c.cell) AS crnk
        FROM im$l m CROSS JOIN ict$l c
      ) WHERE crnk = 1
    ), iprb$l AS MATERIALIZED (
      SELECT src_id, qv, qn, cell FROM (
        SELECT q.vec_id AS src_id, q.v AS qv, q.nrm AS qn, c.cell,
               rank() OVER (PARTITION BY q.vec_id
                            ORDER BY $dotQC / (q.nrm * c.cn) DESC, c.cell) AS crnk
        FROM (SELECT * FROM ilv WHERE lvl >= $l AND vec_id % 11 = 7) q
        CROSS JOIN ict$l c
      ) WHERE crnk <= $KnnProbe
    ), irk$l AS MATERIALIZED (
      SELECT src_id, nbr_id, cos_bp, rnk FROM (
        SELECT src_id, nbr_id, cos_bp,
               row_number() OVER (PARTITION BY src_id
                 ORDER BY cos_bp DESC, nbr_id) AS rnk
        FROM (
          SELECT q.src_id, t.vec_id AS nbr_id,
                 CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
          FROM icel$l t JOIN iprb$l q ON t.cell = q.cell
        )
      ) WHERE rnk <= $HnswUpperK
    ), ilnk$l AS (
      SELECT CAST($l AS bigint) AS layer, a.src_id,
             b.nbr_id AS best_nbr, b.cos_bp AS best_cos_bp, a.n_links
      FROM (SELECT src_id, CAST(count(*) AS bigint) AS n_links
            FROM irk$l GROUP BY src_id) a
      JOIN (SELECT src_id, nbr_id, cos_bp FROM irk$l WHERE rnk = 1) b
        USING (src_id)
    )"""
    s"""WITH ie AS MATERIALIZED (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM embeddings
    ), ilv AS MATERIALIZED (
      SELECT vec_id, v, nrm,
             CASE WHEN vec_id = 0 THEN $HnswMaxLevel
                  WHEN hb % ${HnswBase * HnswBase} = 0 THEN 2
                  WHEN hb % $HnswBase = 0 THEN 1
                  ELSE 0 END AS lvl
      FROM (SELECT vec_id, v, nrm,
                   CAST('0x' || substr(md5('hnsw_' || CAST(vec_id AS varchar)), 1, 15) AS BIGINT) AS hb
            FROM ie)
    ), ${layer(0)}, ${layer(1)}, ${layer(2)}
    SELECT layer, src_id, best_nbr, best_cos_bp, n_links
    FROM (SELECT * FROM ilnk0 UNION ALL SELECT * FROM ilnk1
          UNION ALL SELECT * FROM ilnk2)
    ORDER BY layer, src_id"""
  }

  def hnswSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    hnswVisited(spark, sfDir)
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnSearchTopK)
      .select(col("q_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), col("cos_bp"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Recall + exact-scoring budget of the multi-layer descent, next to
    * [[knnSearchRecall]]'s hub-entry row: the second point on the
    * budget-recall curve. */
  def hnswRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annBruteForce(spark, sfDir).select(col("q_id"), col("cand_id"))
    val v = hnswVisited(spark, sfDir)
      .filter(col("cand_id") =!= col("q_id"))
      .localCheckpoint(false)
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    val approx = v.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= KnnSearchTopK)
      .select(col("q_id"), col("cand_id"), lit(1).as("hit"))
    val budget = v.groupBy(col("q_id")).agg(count(lit(1)).as("n_scored"))
    truth.join(approx, Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .join(budget, Seq("q_id"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        expr("10000 * n_hit div n_truth").as("recall_bp"), col("n_scored"))
      .orderBy(col("q_id"))
  }

  // ------------------------------------------------ HNSW navigable sweep

  /** Cluster count of the navigable eval corpus ([[navEmbs]]). */
  private val NavClusters = 32

  /** NAVIGABLE eval corpus: the uniform embeddings re-shaped onto a
    * 1-D manifold of [[NavClusters]] stops — nv[i] = (1−t)·A[i] +
    * t·B[i] + v[i]/4 with t = (vec_id mod 32)/31 and A, B = the two
    * smallest vec_ids' own vectors (the `d_semdedup_eval09`
    * planted-structure posture, applied to ANN). A query's true
    * neighbors are its own stop's twins, AND cosine decays SMOOTHLY
    * with stop distance, so greedy descent always has a gradient to
    * follow — the navigability HNSW assumes. (32 isotropic well-
    * separated clusters were measured NOT to work here: inter-cluster
    * cosines are 0 ± noise, so the upper-layer walk is gradient-blind
    * between clusters — separation without navigability.) The uniform
    * corpus the other recall rows run on is the opposite worst case
    * (r9/r10 measured 20% single-entry recall there); [[hnswSweep]]
    * prices this regime, `e_hnsw_recall` that one. Deterministic and
    * engine-exact: one broadcast join against the 32-row stop table + a
    * zip_with map (double mul/add/divide-by-4, IEEE-identical in
    * DuckDB's list_transform), linear at any corpus size. */
  private[queries] def navEmbs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embs(spark, sfDir)
    val a = e.filter(col("vec_id") === 0).select(col("v").as("av"))
    val b = e.filter(col("vec_id") === 1).select(col("v").as("bv"))
    val tt = col("cid").cast("double") / lit((NavClusters - 1).toDouble)
    val stops = spark.range(NavClusters).toDF("cid")
      .crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("cid"),
        zip_with(col("av"), col("bv"),
          (x, y) => (lit(1.0) - tt) * x + tt * y).as("cv"))
    e.select(col("vec_id"), col("v"),
        pmod(col("vec_id"), lit(NavClusters.toLong)).as("cid"))
      .join(broadcast(stops), "cid")
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (x, c) => c + x / lit(4.0)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** The sweep's budget configs: (entry kind, upper-layer rounds,
    * layer-0 beam, layer-0 rounds). The MULTI-LAYER budget knob is the
    * whole descent, not just layer 0: more upper-layer greedy steps buy
    * a better LANDING cluster (the navigability HNSW's unlimited-step
    * greedy descent gets for free, rationed here so the walk stays
    * oracle-replayable round by round), and the layer-0 beam then digs
    * the cluster out. The hub baseline replaces the descent with the
    * √n hub scan at the default walk budget. */
  private val HnswSweepConfigs: Seq[(String, Int, Int, Int)] = Seq(
    ("hnsw", 1, 1, 2), ("hnsw", 3, 4, 3), ("hnsw", 6, 8, 3),
    ("hub", 0, KnnSearchBeam, KnnSearchRounds))

  /** Budget sweep of the TRUE multi-layer descent on the navigable
    * corpus (r10 verdict item 4): three multi-layer configs with
    * growing descent budgets plus the hub-entry baseline, each priced
    * as aggregate recall vs brute-force truth and its exact-scoring
    * budget. The curve this adds: on a corpus with real cluster
    * structure the O(1)-entry descent's recall RISES toward the hub
    * entry's number as the budget grows — the regime the operator
    * exists for, complementing `e_hnsw_recall`'s honest worst-case
    * point (20% on uniform data at sf1). All four configs share ONE
    * corpus build, one level table and one set of layer graphs
    * ([[hnswWalk]] over checkpointed tables), so the sweep costs one
    * index build + four cheap walks, not four index builds. Layer-0
    * graph = [[hnswLayerGraph]] at lvl ≥ 0 with [[KnnK]] edges — the
    * [[knnGraph]] recipe in its deterministic sampled-centroid mode (an
    * eval row stays oracle-replayable at any size). */
  /** The sweep's shared index build — nav corpus, level table, three
    * layer graphs, brute-force truth, and the two entry seeds — memoized
    * per (session, sfDir) (r12, ChainMemo/pqCore posture: the build is
    * the sweep's dominant cost and is pure infrastructure; the four
    * WALKS being priced re-run on every invocation). */
  private final case class NavIndex(e: DataFrame, qs: DataFrame,
      g2: DataFrame, g1: DataFrame, g0: DataFrame, truth: DataFrame,
      entrySeed: DataFrame, hubSeed: DataFrame)
  private val navIndexMemo = new graft.operators.ChainMemo[NavIndex]()
  private def navSweepIndex(spark: SparkSession, sfDir: String): NavIndex =
    navIndexMemo.getOrBuild(spark, knnMemoTag(spark, sfDir)) {
    val e = navEmbs(spark, sfDir).localCheckpoint()
    val lv = e.withColumn("lvl", hnswLvl).localCheckpoint(false)
    val g2 = hnswLayerGraph(lv, 2).localCheckpoint(false)
    val g1 = hnswLayerGraph(lv, 1).localCheckpoint(false)
    val g0 = hnswLayerGraph(lv, 0, KnnK).localCheckpoint(false)
    val qs = localized(e.filter(col("vec_id") < 10) // r13: job-free broadcasts
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")))
    val score = hnswScore(e, qs) _
    // exact truth on the nav corpus — the annBruteForce shape (query side
    // broadcast, linear in n), guarded like every brute baseline
    val cands = graft.operators.Dedup.guardQuadratic(e, "hnswSweep truth",
      "a sampled-truth variant", AnnBruteConf, AnnBruteDefault)
    val wT = Window.partitionBy(col("q_id")).orderBy(col("cos_bp").desc, col("cand_id"))
    val truth = cands.crossJoin(broadcast(qs)).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"),
        cosBp(col("qv"), col("v"), col("qn"), col("nrm")).as("cos_bp"))
      .withColumn("rnk", rank().over(wT))
      .filter(col("rnk") <= KnnSearchTopK)
      .select(col("q_id"), col("cand_id"))
      .localCheckpoint()
    val entry = lv.filter(col("lvl") >= HnswMaxLevel)
      .agg(min(col("vec_id")).as("cand_id"))
    val entrySeed = score(qs.select(col("q_id")).crossJoin(broadcast(entry)))
      .localCheckpoint(false) // every hnsw config descends from it
    // hub-entry baseline seed: exact scores against the √n smallest-id
    // hub sample (the e_knn_search entry, on THIS corpus — one nav row
    // per embedding row, so the corpus count is the embeddings count)
    val n = embCount(spark, sfDir)
    val hubIds = e.filter(col("vec_id") < knnNumCells(spark, n))
      .select(col("vec_id").as("cand_id"))
    val hubSeed = score(qs.select(col("q_id")).crossJoin(broadcast(hubIds)))
      .localCheckpoint(false)
    NavIndex(e, qs, g2, g1, g0, truth, entrySeed, hubSeed)
  }

  def hnswSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val NavIndex(e, qs, g2, g1, g0, truth, entrySeed, hubSeed) =
      navSweepIndex(spark, sfDir)
    import spark.implicits._
    // the four priced walks advance together as one [[hnswWalks]] state
    // (15 rounds, the longest config, instead of 31), with one readout;
    // per config the visited set — and the declared recall/budget rows —
    // are bit-identical to the sequential walks the DuckDB oracle replays
    val state = hnswWalks("hnsw sweep", e, qs, HnswSweepConfigs.map {
      case ("hub", _, beam, rounds) => hubSeed -> Seq((g0, beam, rounds))
      case (_, upR, beam, rounds) =>
        entrySeed -> Seq((g2, 1, upR), (g1, 1, upR), (g0, beam, rounds))
    })
    // ONE readout for all four configs: per-config top-k vs truth + budget
    val v = state.filter(col("cand_id") =!= col("q_id"))
      .localCheckpoint(false) // feeds the top-k cut and the budget count
    val wTop = Window.partitionBy(col("cfg"), col("q_id"))
      .orderBy(col("cos_bp").desc, col("cand_id"))
    val approx = v.withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= KnnSearchTopK)
      .select(col("cfg"), col("q_id"), col("cand_id"))
    val hits = approx.join(truth, Seq("q_id", "cand_id"), "left_semi")
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_hit"))
    val budget = v.groupBy(col("cfg")).agg(count(lit(1)).as("n_scored"))
    val cfgLit = localized(HnswSweepConfigs.zipWithIndex.map {
      case ((kind, upR, beam, rounds), i) =>
        (i, kind, upR.toLong, beam.toLong, rounds.toLong)
    }.toDF("cfg", "entry", "up_rounds", "beam", "rounds"))
    cfgLit
      .join(hits, Seq("cfg"), "left")
      .join(budget, Seq("cfg"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("entry"), col("up_rounds"), col("beam"), col("rounds"),
        col("n_truth"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("10000 * coalesce(n_hit, 0) div n_truth").as("recall_bp"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"))
      .orderBy(col("entry"), col("beam"))
  }

  /** Full DuckDB replay of [[hnswSweep]]: nav corpus → levels → three
    * layer graphs → shared upper descent → four layer-0 walks → per-
    * config recall/budget rows. Every multiply-referenced stage
    * MATERIALIZED (the [[knnSearchCtes]] posture). */
  val hnswSweepSql: String = {
    val dotQT = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    val dotVC = "list_reduce(list_transform(range(1, len(m.v) + 1), i -> CAST(m.v[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    def layerGraph(l: Int, k: Int): String = s"""sm$l AS MATERIALIZED (
      SELECT vec_id, v, nrm FROM slv WHERE lvl >= $l
    ), snc$l AS (
      SELECT greatest(4, CAST(floor(sqrt(count(*))) AS bigint)) AS ncells FROM sm$l
    ), sct$l AS MATERIALIZED (
      SELECT vec_id AS cell, v AS cv, nrm AS cn FROM (
        SELECT *, row_number() OVER (ORDER BY vec_id) AS crank FROM sm$l
      ) CROSS JOIN snc$l WHERE crank <= ncells
    ), sas$l AS MATERIALIZED (
      SELECT m.vec_id, m.v, m.nrm, c.cell,
             rank() OVER (PARTITION BY m.vec_id
                          ORDER BY $dotVC / (m.nrm * c.cn) DESC, c.cell) AS crnk
      FROM sm$l m CROSS JOIN sct$l c
    ), ssc$l AS (
      SELECT q.src_id, t.vec_id AS nbr_id,
             CAST(floor(list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y) * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM (SELECT vec_id, v, nrm, cell FROM sas$l WHERE crnk = 1) t
      JOIN (SELECT vec_id AS src_id, v AS qv, nrm AS qn, cell
            FROM sas$l WHERE crnk <= $KnnProbe) q
        ON t.cell = q.cell AND t.vec_id <> q.src_id
    ), sg$l AS MATERIALIZED (
      SELECT src_id, nbr_id FROM (
        SELECT src_id, nbr_id,
               row_number() OVER (PARTITION BY src_id
                 ORDER BY cos_bp DESC, nbr_id) AS rnk
        FROM ssc$l
      ) WHERE rnk <= $k
    )"""
    def walk(lp: String, graph: String, beam: Int, rounds: Int,
             inV: String): String = {
      val start = s"""${lp}f0 AS MATERIALIZED (
      SELECT q_id, node FROM (
        SELECT q_id, cand_id AS node,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bp DESC, cand_id) AS brnk
        FROM $inV
      ) WHERE brnk <= $beam
    ), ${lp}x0 AS (SELECT q_id, node FROM ${lp}f0)"""
      val rs = (1 to rounds).map { r =>
        val pv = if (r == 1) inV else s"${lp}v${r - 1}"
        val (pf, px) = (s"${lp}f${r - 1}", s"${lp}x${r - 1}")
        val core = s"""${lp}n$r AS (
      SELECT DISTINCT f.q_id, g.nbr_id AS cand_id
      FROM $pf f JOIN $graph g ON g.src_id = f.node
    ), ${lp}w$r AS (
      SELECT n.q_id, n.cand_id FROM ${lp}n$r n
      WHERE NOT EXISTS (SELECT 1 FROM $pv v
                        WHERE v.q_id = n.q_id AND v.cand_id = n.cand_id)
    ), ${lp}v$r AS MATERIALIZED (
      SELECT * FROM $pv
      UNION ALL
      SELECT w.q_id, w.cand_id,
             CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM ${lp}w$r w JOIN nav t ON t.vec_id = w.cand_id
      JOIN sqs q ON q.q_id = w.q_id
    )"""
        val cut = if (r < rounds) s""", ${lp}f$r AS MATERIALIZED (
      SELECT q_id, node FROM (
        SELECT v.q_id, v.cand_id AS node,
               row_number() OVER (PARTITION BY v.q_id
                 ORDER BY v.cos_bp DESC, v.cand_id) AS brnk
        FROM ${lp}v$r v
        WHERE NOT EXISTS (SELECT 1 FROM $px x
                          WHERE x.q_id = v.q_id AND x.node = v.cand_id)
      ) WHERE brnk <= $beam
    ), ${lp}x$r AS MATERIALIZED (
      SELECT * FROM $px UNION ALL SELECT * FROM ${lp}f$r
    )""" else ""
        core + cut
      }.mkString(", ")
      start + ", " + rs
    }
    def readout(p: String, vFinal: String): String = s"""${p}app AS (
      SELECT q_id, cand_id FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bp DESC, cand_id) AS rnk
        FROM $vFinal WHERE cand_id <> q_id
      ) WHERE rnk <= $KnnSearchTopK
    ), ${p}hit AS (
      SELECT 1 AS one FROM struth JOIN ${p}app USING (q_id, cand_id)
    ), ${p}bud AS (
      SELECT count(*) AS ns FROM $vFinal WHERE cand_id <> q_id
    )"""
    def row(p: String, kind: String, upR: Int, beam: Int, rounds: Int): String =
      s"""SELECT '$kind' AS entry, CAST($upR AS bigint) AS up_rounds,
             CAST($beam AS bigint) AS beam,
             CAST($rounds AS bigint) AS rounds,
             (SELECT count(*) FROM struth) AS n_truth,
             (SELECT count(*) FROM ${p}hit) AS n_hit,
             10000 * (SELECT count(*) FROM ${p}hit)
               // (SELECT count(*) FROM struth) AS recall_bp,
             (SELECT ns FROM ${p}bud) AS n_scored"""
    s"""
    WITH e AS (
      SELECT vec_id, embedding AS v FROM embeddings
    ), anch AS (
      SELECT (SELECT v FROM e WHERE vec_id = 0) AS av,
             (SELECT v FROM e WHERE vec_id = 1) AS bv
    ), stops AS (
      SELECT CAST(k AS bigint) AS cid,
             list_transform(range(1, len(av) + 1),
               i -> (1.0 - CAST(k AS double) / ${NavClusters - 1}.0) * CAST(av[i] AS double)
                    + (CAST(k AS double) / ${NavClusters - 1}.0) * CAST(bv[i] AS double)) AS cv
      FROM (SELECT unnest(range(0, $NavClusters)) AS k) CROSS JOIN anch
    ), nav0 AS (
      SELECT t.vec_id,
             list_transform(range(1, len(t.v) + 1),
               i -> c.cv[i] + CAST(t.v[i] AS double) / 4.0) AS v
      FROM e t JOIN stops c ON c.cid = t.vec_id % $NavClusters
    ), nav AS MATERIALIZED (
      SELECT vec_id, v,
             sqrt(list_reduce(list_transform(range(1, len(v) + 1),
               i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
      FROM nav0
    ), slv AS MATERIALIZED (
      SELECT vec_id, v, nrm,
             CASE WHEN vec_id = 0 THEN $HnswMaxLevel
                  WHEN hb % ${HnswBase * HnswBase} = 0 THEN 2
                  WHEN hb % $HnswBase = 0 THEN 1
                  ELSE 0 END AS lvl
      FROM (SELECT vec_id, v, nrm,
                   CAST('0x' || substr(md5('hnsw_' || CAST(vec_id AS varchar)), 1, 15) AS BIGINT) AS hb
            FROM nav)
    ), ${layerGraph(2, HnswUpperK)}, ${layerGraph(1, HnswUpperK)},
    ${layerGraph(0, KnnK)},
    sqs AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nav WHERE vec_id < 10
    ), sentry AS (SELECT min(vec_id) AS node FROM sm2),
    sv0 AS MATERIALIZED (
      SELECT q.q_id, t.vec_id AS cand_id,
             CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM sqs q CROSS JOIN sentry h JOIN nav t ON t.vec_id = h.node
    ),
    snc AS (
      SELECT greatest(16, least($DefaultKnnMaxCells, CAST(floor(sqrt(count(*))) AS bigint))) AS ncells
      FROM nav
    ), shub AS MATERIALIZED (
      SELECT q.q_id, t.vec_id AS cand_id,
             CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM sqs q CROSS JOIN (SELECT t.* FROM nav t CROSS JOIN snc WHERE t.vec_id < ncells) t
    ),
    struth AS MATERIALIZED (
      SELECT q_id, cand_id FROM (
        SELECT q.q_id, t.vec_id AS cand_id,
               rank() OVER (PARTITION BY q.q_id
                 ORDER BY CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) DESC, t.vec_id) AS rnk
        FROM sqs q JOIN nav t ON t.vec_id <> q.q_id
      ) WHERE rnk <= $KnnSearchTopK
    ),
    ${HnswSweepConfigs.zipWithIndex.map { case ((kind, upR, beam, rounds), i) =>
      val p = s"c$i"
      val chain =
        if (kind == "hub") walk(s"${p}z", "sg0", beam, rounds, "shub")
        else Seq(
          walk(s"${p}a", "sg2", 1, upR, "sv0"),
          walk(s"${p}b", "sg1", 1, upR, s"${p}av$upR"),
          walk(s"${p}z", "sg0", beam, rounds, s"${p}bv$upR")).mkString(",\n    ")
      s"$chain,\n    ${readout(p, s"${p}zv$rounds")}"
    }.mkString(",\n    ")}
    SELECT * FROM (
      ${HnswSweepConfigs.zipWithIndex.map { case ((kind, upR, beam, rounds), i) =>
        row(s"c$i", kind, upR, beam, rounds)
      }.mkString("\n      UNION ALL ")}
    ) ORDER BY entry, beam"""
  }

  /** Level + layer-graph + descent CTEs, every multiply-referenced stage
    * MATERIALIZED (the [[knnSearchCtes]] posture). */
  private val hnswCtes: String = {
    val dotVC = "list_reduce(list_transform(range(1, len(m.v) + 1), i -> CAST(m.v[i] AS double) * CAST(c.cv[i] AS double)), (x, y) -> x + y)"
    val dotQT = "list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y)"
    def layerGraph(l: Int): String = s"""hm$l AS MATERIALIZED (
      SELECT vec_id, v, nrm FROM hlv WHERE lvl >= $l
    ), hnc$l AS (
      SELECT greatest(4, CAST(floor(sqrt(count(*))) AS bigint)) AS ncells FROM hm$l
    ), hct$l AS MATERIALIZED (
      SELECT vec_id AS cell, v AS cv, nrm AS cn FROM (
        SELECT *, row_number() OVER (ORDER BY vec_id) AS crank FROM hm$l
      ) CROSS JOIN hnc$l WHERE crank <= ncells
    ), has$l AS MATERIALIZED (
      SELECT m.vec_id, m.v, m.nrm, c.cell,
             rank() OVER (PARTITION BY m.vec_id
                          ORDER BY $dotVC / (m.nrm * c.cn) DESC, c.cell) AS crnk
      FROM hm$l m CROSS JOIN hct$l c
    ), hsc$l AS (
      SELECT q.src_id, t.vec_id AS nbr_id,
             CAST(floor(list_reduce(list_transform(range(1, len(q.qv) + 1), i -> CAST(q.qv[i] AS double) * CAST(t.v[i] AS double)), (x, y) -> x + y) * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM (SELECT vec_id, v, nrm, cell FROM has$l WHERE crnk = 1) t
      JOIN (SELECT vec_id AS src_id, v AS qv, nrm AS qn, cell
            FROM has$l WHERE crnk <= $KnnProbe) q
        ON t.cell = q.cell AND t.vec_id <> q.src_id
    ), hg$l AS MATERIALIZED (
      SELECT src_id, nbr_id FROM (
        SELECT src_id, nbr_id,
               row_number() OVER (PARTITION BY src_id
                 ORDER BY cos_bp DESC, nbr_id) AS rnk
        FROM hsc$l
      ) WHERE rnk <= $HnswUpperK
    )"""
    def layerWalk(lp: String, graph: String, beam: Int, rounds: Int,
                  inV: String, lastLayer: Boolean): String = {
      val start = s"""${lp}f0 AS MATERIALIZED (
      SELECT q_id, node FROM (
        SELECT q_id, cand_id AS node,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bp DESC, cand_id) AS brnk
        FROM $inV
      ) WHERE brnk <= $beam
    ), ${lp}x0 AS (SELECT q_id, node FROM ${lp}f0)"""
      val rs = (1 to rounds).map { r =>
        val pv = if (r == 1) inV else s"${lp}v${r - 1}"
        val (pf, px) = (s"${lp}f${r - 1}", s"${lp}x${r - 1}")
        val core = s"""${lp}n$r AS (
      SELECT DISTINCT f.q_id, g.nbr_id AS cand_id
      FROM $pf f JOIN $graph g ON g.src_id = f.node
    ), ${lp}w$r AS (
      SELECT n.q_id, n.cand_id FROM ${lp}n$r n
      WHERE NOT EXISTS (SELECT 1 FROM $pv v
                        WHERE v.q_id = n.q_id AND v.cand_id = n.cand_id)
    ), ${lp}v$r AS MATERIALIZED (
      SELECT * FROM $pv
      UNION ALL
      SELECT w.q_id, w.cand_id,
             CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM ${lp}w$r w JOIN e t ON t.vec_id = w.cand_id
      JOIN hqs q ON q.q_id = w.q_id
    )"""
        val cut = if (r < rounds) s""", ${lp}f$r AS MATERIALIZED (
      SELECT q_id, node FROM (
        SELECT v.q_id, v.cand_id AS node,
               row_number() OVER (PARTITION BY v.q_id
                 ORDER BY v.cos_bp DESC, v.cand_id) AS brnk
        FROM ${lp}v$r v
        WHERE NOT EXISTS (SELECT 1 FROM $px x
                          WHERE x.q_id = v.q_id AND x.node = v.cand_id)
      ) WHERE brnk <= $beam
    ), ${lp}x$r AS MATERIALIZED (
      SELECT * FROM $px UNION ALL SELECT * FROM ${lp}f$r
    )""" else ""
        core + cut
      }.mkString(", ")
      start + ", " + rs
    }
    s"""hlv AS MATERIALIZED (
      SELECT vec_id, v, nrm,
             CASE WHEN vec_id = 0 THEN $HnswMaxLevel
                  WHEN hb % ${HnswBase * HnswBase} = 0 THEN 2
                  WHEN hb % $HnswBase = 0 THEN 1
                  ELSE 0 END AS lvl
      FROM (SELECT vec_id, v, nrm,
                   CAST('0x' || substr(md5('hnsw_' || CAST(vec_id AS varchar)), 1, 15) AS BIGINT) AS hb
            FROM e)
    ), ${layerGraph(2)}, ${layerGraph(1)},
    hqs AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 10
    ), hentry AS (SELECT min(vec_id) AS node FROM hm2),
    hv0 AS MATERIALIZED (
      SELECT q.q_id, t.vec_id AS cand_id,
             CAST(floor($dotQT * 10000.0 / (q.qn * t.nrm)) AS bigint) AS cos_bp
      FROM hqs q CROSS JOIN hentry h JOIN e t ON t.vec_id = h.node
    ),
    ${layerWalk("h2", "hg2", 1, HnswUpperRounds, "hv0", lastLayer = false)},
    ${layerWalk("h1", "hg1", 1, HnswUpperRounds, s"h2v$HnswUpperRounds", lastLayer = false)},
    ${layerWalk("h0", "kgraph", KnnSearchBeam, KnnSearchRounds, s"h1v$HnswUpperRounds", lastLayer = true)}"""
  }

  val hnswSearchSql: String = s"""
    WITH ${knnCtes.replace("kgraph AS (", "kgraph AS MATERIALIZED (")},
    $hnswCtes
    SELECT q_id, CAST(brnk AS bigint) AS rnk, cand_id, cos_bp FROM (
      SELECT q_id, cand_id, cos_bp,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos_bp DESC, cand_id) AS brnk
      FROM h0v$KnnSearchRounds WHERE cand_id <> q_id
    ) WHERE brnk <= $KnnSearchTopK
    ORDER BY q_id, rnk"""

  val hnswRecallSql: String = s"""
    WITH ${knnCtes.replace("kgraph AS (", "kgraph AS MATERIALIZED (")},
    $hnswCtes,
    truth AS (SELECT q_id, cand_id FROM ($annBruteForceSql) t),
    approx AS (
      SELECT q_id, cand_id, 1 AS hit FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY cos_bp DESC, cand_id) AS brnk
        FROM h0v$KnnSearchRounds WHERE cand_id <> q_id
      ) WHERE brnk <= $KnnSearchTopK
    ), budget AS (
      SELECT q_id, CAST(count(*) AS bigint) AS n_scored
      FROM h0v$KnnSearchRounds WHERE cand_id <> q_id GROUP BY q_id
    )
    SELECT t.q_id, count(*) AS n_truth,
           CAST(sum(coalesce(hit, 0)) AS bigint) AS n_hit,
           (10000 * CAST(sum(coalesce(hit, 0)) AS bigint) // count(*)) AS recall_bp,
           any_value(b.n_scored) AS n_scored
    FROM truth t
    LEFT JOIN approx a ON t.q_id = a.q_id AND t.cand_id = a.cand_id
    JOIN budget b ON b.q_id = t.q_id
    GROUP BY t.q_id
    ORDER BY t.q_id"""

  // --------------------------------------------------------------------- PQ

  /** Product-quantization geometry: 64 dims → 8 subspaces × 8 dims, a
    * 16-code codebook per subspace (one Lloyd update from the k smallest
    * vec_ids — the [[graft.operators.KMeans]] recipe run per subspace),
    * so each vector compresses to 8 four-bit codes — 4 bytes packed
    * (one byte per code unpacked, as the codes table stores them). On
    * the synthetic
    * near-uniform unit vectors recall@5 ≈ 32 % (tracked by
    * [[annPqRecall]]) — far above the sign-LSH path's 2 % on the same
    * adversarial data; real clustered embeddings fare better for both. */
  private val PqSubDim = 8
  private val PqK = 16

  /** Codebook training-set bound (the FAISS posture: codebooks are fit on
    * a bounded sample, never the corpus): the Lloyd update only sees the
    * [[PqFitSample]] smallest vec_ids. At harness scale (≤2k vectors)
    * this is the whole table — results unchanged — while at soak/corpus
    * scale the two fit joins stop growing with the data; only the final
    * code-assignment pass (inherently corpus-sized) remains. Deterministic
    * (an id cut, not a random sample) so the oracle replays it. */
  private val PqFitSample = 4096L

  /** The PQ artifacts shared by [[annPq]] and [[annIvfPq]]: (codes, lut)
    * — each vector's 8 subspace codes, and each query's exact subspace
    * distance to every codebook centroid. */
  /** The PQ training/encoding core shared by the search paths and the
    * distortion audit: (v = quantized subvector table, c1 = trained
    * codebook, codes = per-(vec, sub) assignments). */
  private def pqCore(spark: SparkSession, sfDir: String): (DataFrame, DataFrame, DataFrame) =
    pqCore(spark, sfDir, None)

  // The PQ chain (quantized table + codebook + corpus-sized code
  // assignment) is shared by e_ann_pq / e_ann_ivfpq* / e_pq_distortion /
  // e_pq_rotate_eval's raw leg: memoize it per (session, sfDir, perm) —
  // the Namespace.inodes posture — so a session that runs several PQ
  // consumers trains + assigns once instead of once per consumer
  // (VERDICT r10 watch item: the rotate eval re-ran the raw chain
  // e_ann_pq had already built). Unlike the inodes memo (a .cache()
  // whose lineage survives eviction), the chain is localCheckpoint'd —
  // lineage TRUNCATED — so a memo hit must prove the checkpoint blocks
  // still exist: each entry remembers the RDD ids its build persisted
  // and is rebuilt if any left getPersistentRDDs (Bench's per-query
  // block cleanup does exactly that — there every query rebuilds, the
  // pre-memo status quo, keeping per-query timing attribution honest;
  // Verify and long-lived sessions get the sharing). LRU-bounded with
  // unpersist-on-evict so cycling sfDirs can't pile up corpora.
  private type PqChain = (DataFrame, DataFrame, DataFrame)
  private val pqMemo = new graft.operators.ChainMemo[PqChain]()

  /** [[pqCore]] with an optional dimension PERMUTATION applied before
    * the subspace split (perm(pos0) = new position): the OPQ-flavored
    * regrouping [[pqRotateEval]] prices. None = the raw contiguous
    * split every existing PQ query uses. r12: the bespoke memo moved to
    * [[graft.operators.ChainMemo]] (same contract; eviction now drops
    * the checkpoint blocks by RDD id — ADVICE r11). */
  private def pqCore(spark: SparkSession, sfDir: String,
                     perm: Option[Array[Long]]): PqChain =
    pqMemo.getOrBuild(spark,
      sfDir + "|" + perm.map(_.mkString(",")).getOrElse("")) {
      pqBuild(spark, sfDir, perm)
    }

  private def pqBuild(spark: SparkSession, sfDir: String,
                      perm: Option[Array[Long]]): (DataFrame, DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, sfDir)
    val pos = perm match {
      case None => col("pos0").cast("long")
      case Some(pm) => element_at(lit(pm), (col("pos0") + 1).cast("int"))
    }
    val v = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"),
        (pos / PqSubDim).cast("long").as("sub"),
        (pos % PqSubDim).cast("long").as("spos"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
      .localCheckpoint() // feeds seeding, both assigns, the LUT and the scan
    val seeds = e.select(col("vec_id")).orderBy(col("vec_id")).limit(PqK)
    val vfit = v.filter(col("vec_id") < PqFitSample)
    val c0 = v.join(broadcast(seeds), "vec_id")
      .select(col("sub"), col("vec_id").as("k"), col("spos"), col("q").as("c"))
    def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
      vecs.join(broadcast(cents), Seq("sub", "spos"))
        .groupBy(col("vec_id"), col("sub"), col("k"))
        .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("dist"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("k"))).as("m"))
        .select(col("vec_id"), col("sub"), col("m.k").as("k"))
    // Lloyd update over the bounded training set only (PqFitSample)
    val c1 = assign(vfit, c0).join(vfit, Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("k"), col("spos"))
      .agg(floor(sum(col("q")) * 1.0 / count(lit(1))).cast("long").as("c"))
      .localCheckpoint() // codebook: reused by codes, LUT (and tiny)
    // code assignment is the one inherently corpus-sized pass —
    // checkpointed so the memo's consumers never re-run it
    val codes = assign(v, c1).localCheckpoint()
    (v, c1, codes)
  }

  private def pqParts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val (v, c1, codes) = pqCore(spark, sfDir)
    val lut = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("sub"), col("spos"), col("q"))
      .join(broadcast(c1), Seq("sub", "spos"))
      .groupBy(col("q_id"), col("sub"), col("k"))
      .agg(sum((col("q") - col("c")) * (col("q") - col("c"))).as("d2"))
    (codes, lut)
  }

  /** PQ distortion audit — the index-health number for the code family
    * (the [[ivfBalance]] twin for PQ): per-subspace reconstruction SSE
    * and mean per-vector quantization error, in exact integer micro²
    * units. High distortion in one subspace means its 16 codes can't
    * span that slice of the space (re-split or train longer); the ADC
    * ranking `e_ann_pq_recall` prices is exactly this error's effect.
    * Shape: codes ⋈ quantized table on (vec, sub), codebook broadcast,
    * one groupBy on the 8-subspace domain. */
  def pqDistortion(spark: SparkSession, sfDir: String): DataFrame = {
    val (v, c1, codes) = pqCore(spark, sfDir)
    v.join(codes, Seq("vec_id", "sub"))
      .join(broadcast(c1), Seq("sub", "k", "spos"))
      .groupBy(col("sub"))
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        sum((col("q") - col("c")) * (col("q") - col("c"))).as("sse"))
      .select(col("sub"), col("n_vecs"), col("sse"),
        expr("sse div n_vecs").as("mean_d2"))
      .orderBy(col("sub"))
  }

  lazy val pqDistortionSql: String = s"""
    WITH $pqCtes, agg AS (
      SELECT d.sub, CAST(count(DISTINCT v.vec_id) AS bigint) AS n_vecs,
             CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS sse
      FROM codes d
      JOIN v ON v.vec_id = d.vec_id AND v.sub = d.sub
      JOIN c1 c ON c.sub = d.sub AND c.k = d.k AND c.spos = v.spos
      GROUP BY d.sub
    )
    SELECT sub, n_vecs, sse, sse // n_vecs AS mean_d2
    FROM agg
    ORDER BY sub"""

  /** ADC top-5 over a scored (q_id, vec_id, adc_d2) table. */
  private def adcTop5(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    scored.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id").as("cand_id"), col("adc_d2"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  /** PQ ADC top-5 search — the third canonical ANN family next to
    * [[annLsh]] (hash buckets) and [[annIvf]] (coarse cells): vectors are
    * stored as 8 subspace codes, a query builds an 8×16 lookup table of
    * exact subspace distances to every codebook centroid, and the
    * asymmetric distance is the sum of 8 table lookups — the scan touches
    * CODES (4 bytes/vector packed), never raw floats, which is what makes a
    * 100 TB corpus fit an ANN index in RAM. All math is the integer-exact
    * k-means recipe (micro-quantized elements, bigint squared-L2,
    * floor-mean updates, ties to the smaller code), so the oracle replays
    * the identical codebooks, codes and ranking. Scale shape: every
    * subspace fits in ONE plan keyed by (sub, spos) — the codebook
    * (8·16·8 rows) and the query LUT (10·8·16 rows) broadcast; the scan
    * is one map-side join + a (q_id, vec_id)-keyed partial-agg shuffle.
    * ADC is linear-scan-per-query by design (compression, not pruning) —
    * [[annIvfPq]] composes the cells in when sublinear candidate
    * generation is also needed. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val (codes, lut) = pqParts(spark, sfDir)
    adcTop5(codes.join(broadcast(lut), Seq("sub", "k"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_d2")))
  }

  /** IVF-PQ: the composed index the [[annPq]] doc points at — candidate
    * generation from the IVF coarse cells (each query touches only its
    * nprobe=2 cells' vectors, the sublinear part) ranked by PQ
    * asymmetric distance over the 4-byte codes (the compression part).
    * This is the FAISS-style IVFADC shape that serves web-scale ANN: at
    * 100 TB the cell id is the partition key, the per-cell scan reads
    * codes instead of floats, and both structures are the
    * already-oracle-checked ones ([[ivfParts]] cells, [[pqParts]]
    * codebooks) so the composition is oracle-exact end-to-end. */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    adcTop5(ivfPqScored(spark, sfDir))

  /** The shared IVF-PQ ADC scoring core: (q_id, vec_id, adc_d2) over each
    * query's nprobe=2 cells — [[annIvfPq]] takes its top-5 directly;
    * [[annIvfPqRerank]] widens it to a shortlist and refines exactly. */
  private def ivfPqScored(spark: SparkSession, sfDir: String): DataFrame = {
    val (codes, lut) = pqParts(spark, sfDir)
    val (cellOf, probes) = ivfParts(spark, sfDir)
    codes
      .join(cellOf.select(col("vec_id"), col("cell")), "vec_id")
      .join(broadcast(probes.select(col("q_id"), col("cell"))), "cell")
      .join(broadcast(lut), Seq("q_id", "sub", "k"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_d2"))
  }

  /** How many ADC candidates per query survive into the exact refine. */
  private val RerankShortlist = 50

  /** IVF-PQ + exact re-rank — the FAISS "refine" stage
    * (IndexRefineFlat over IVFADC): the compressed index produces a
    * cheap top-[[RerankShortlist]] shortlist per query, then ONLY those
    * candidates' full vectors are fetched by id and re-ranked with the
    * exact integer squared-L2 the recall evals use as ground truth. This
    * is how production ANN serves high recall from a RAM-sized index: the
    * 4-byte-code scan bounds the candidate cost, the refine bounds the
    * accuracy cost, and the exact-distance work is |queries|×50 pairs —
    * never a corpus scan. Scale shape: the shortlist (tiny, post-agg) is
    * the build side of an id-keyed join against the full-vector table —
    * at 100 TB that is a batched point-lookup against the primary store,
    * not a second index. Recall recovered vs raw ADC is tracked by
    * [[annRerankRecall]]. */
  def annIvfPqRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val wShort = Window.partitionBy(col("q_id")).orderBy(col("adc_d2"), col("vec_id"))
    val shortlist = ivfPqScored(spark, sfDir)
      .withColumn("srnk", rank().over(wShort))
      .filter(col("srnk") <= RerankShortlist)
      .select(col("q_id"), col("vec_id").as("cand_id"))
    val z = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      transform(col("embedding"), x => floor(x.cast("double") * 1000000).cast("long")).as("z"))
    val qz = z.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("z").as("qz"))
    val d2 = aggregate(zip_with(col("qz"), col("z"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cand_id"))
    shortlist
      .join(z.withColumnRenamed("vec_id", "cand_id"), "cand_id")
      .join(broadcast(qz), "q_id")
      .select(col("q_id"), col("cand_id"), d2.as("d2"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("cand_id"), col("d2"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  /** The PQ CTE chain (q0 → v → seeds → c0 → a1 → c1 → codes + lut),
    * spliced by both the annPq and annIvfPq oracles. */
  private val pqCtes: String = {
    def argminCte(name: String, src: String, cents: String) = s"""$name AS (
      SELECT vec_id, sub, k FROM (
        SELECT vec_id, sub, k,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
        FROM (SELECT v.vec_id, v.sub, c.k,
                     CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS dist
              FROM $src v JOIN $cents c ON v.sub = c.sub AND v.spos = c.spos
              GROUP BY v.vec_id, v.sub, c.k)
      ) WHERE rn = 1
    )"""
    s"""q0 AS (
      SELECT vec_id,
             CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
      FROM embeddings
    ), v AS (
      SELECT vec_id, (pos - 1) // $PqSubDim AS sub, (pos - 1) % $PqSubDim AS spos, q
      FROM q0
    ), vfit AS (
      SELECT * FROM v WHERE vec_id < $PqFitSample
    ), seeds AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqK
    ), c0 AS (
      SELECT sub, vec_id AS k, spos, q AS c FROM v
      WHERE vec_id IN (SELECT vec_id FROM seeds)
    ), ${argminCte("a1", "vfit", "c0")}, c1 AS (
      SELECT a.sub, a.k, v.spos, CAST(floor(sum(v.q) * 1.0 / count(*)) AS bigint) AS c
      FROM a1 a JOIN vfit v ON a.vec_id = v.vec_id AND a.sub = v.sub
      GROUP BY a.sub, a.k, v.spos
    ), ${argminCte("codes", "v", "c1")}, lut AS (
      SELECT v.vec_id AS q_id, c.sub, c.k,
             CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS d2
      FROM v JOIN c1 c ON v.sub = c.sub AND v.spos = c.spos
      WHERE v.vec_id < 10
      GROUP BY 1, 2, 3
    )"""
  }

  /** ADC top-5 tail shared by the PQ oracles. */
  private val adcTop5Sql: String = """
    SELECT q_id, cand_id, adc_d2, rnk FROM (
      SELECT q_id, vec_id AS cand_id, adc_d2,
             rank() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""

  val annPqSql: String = s"""
    WITH $pqCtes, scored AS (
      SELECT l.q_id, d.vec_id, CAST(sum(l.d2) AS bigint) AS adc_d2
      FROM codes d JOIN lut l ON d.sub = l.sub AND d.k = l.k AND d.vec_id <> l.q_id
      GROUP BY 1, 2
    )
    $adcTop5Sql"""

  /** IVF-SQ8: coarse cells + per-vector symmetric int8 codes — the FAISS
    * IndexIVFScalarQuantizer shape, completing the compressed-index family
    * next to [[annIvfPq]] (SQ keeps per-dimension resolution at 1
    * byte/dim; PQ trades dimensions for a 16-entry codebook at 0.5
    * byte/dim). Candidate generation is the same nprobe=2 cell equi-join
    * as [[annIvf]] (sublinear — a query touches 2/16ths of the corpus);
    * ranking is ASYMMETRIC: the query stays exact (micro-quantized ints)
    * while candidates are dequantized from their stored (scale, int8[])
    * pair — so the only error is the candidate's quantization, the same
    * contract as PQ's ADC. All integer math ([[quantizeInt8]]'s
    * round-half-up codes, dequant = ⌊q·m_micro/127⌋ — products < 2⁵³ so
    * the double division is exact), which is what lets the oracle replay
    * the ranking bit-for-bit. At 100 TB the cell id is the partition key
    * and the scan reads 64 B/vector instead of 512 B of float64s. */
  def annIvfSq(spark: SparkSession, sfDir: String): DataFrame = {
    val (cellOf, probes) = ivfParts(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
    val deq = e.select(col("vec_id"),
        floor(col("m") * lit(1000000.0)).cast("long").as("mm"),
        transform(col("v"), x =>
          when(col("m") === 0.0, lit(0L))
            .otherwise(floor(x * lit(127.0) / col("m") + lit(0.5)).cast("long"))).as("q"))
      .select(col("vec_id"),
        transform(col("q"), qi => floor(qi * col("mm") / lit(127.0)).cast("long")).as("yq"))
    val qz = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => floor(x.cast("double") * 1000000).cast("long")).as("xz"))
    val d2 = aggregate(zip_with(col("xz"), col("yq"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cand_id"))
    cellOf.select(col("vec_id"), col("cell"))
      .join(broadcast(probes.select(col("q_id"), col("cell"))), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(deq, "vec_id")
      .join(broadcast(qz), "q_id")
      .select(col("q_id"), col("vec_id").as("cand_id"), d2.as("d2"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("cand_id"), col("d2"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"), col("cand_id"))
  }

  val annIvfSqSql: String = s"""
    WITH $ivfCellCtes, sq AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS double)))) AS m,
             embedding
      FROM embeddings
    ), deq AS (
      SELECT vec_id,
             list_transform(
               list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
                 ELSE CAST(floor(CAST(x AS double) * 127.0 / m + 0.5) AS bigint) END),
               qi -> CAST(floor(qi * CAST(floor(m * 1000000.0) AS bigint) / 127.0) AS bigint)) AS yq
      FROM sq
    ), qz AS (
      SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint)) AS xz
      FROM embeddings WHERE vec_id < 10
    ), sqscored AS (
      SELECT p.q_id, t.vec_id AS cand_id,
             CAST(list_reduce(list_transform(range(1, len(q.xz) + 1),
               i -> (q.xz[i] - d.yq[i]) * (q.xz[i] - d.yq[i])), (x, y) -> x + y) AS bigint) AS d2
      FROM cellof t
      JOIN probes p ON t.cell = p.cell AND t.vec_id <> p.q_id
      JOIN deq d ON d.vec_id = t.vec_id
      JOIN qz q ON q.q_id = p.q_id
    )
    SELECT q_id, cand_id, d2, rnk FROM (
      SELECT q_id, cand_id, d2,
             rank() OVER (PARTITION BY q_id ORDER BY d2, cand_id) AS rnk
      FROM sqscored
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""

  /** The IVF-PQ ADC scoring CTE ([[ivfPqScored]]'s oracle), spliced by the
    * annIvfPq and annIvfPqRerank oracles. */
  private val ivfPqScoredSql: String = """scored AS (
      SELECT l.q_id, d.vec_id, CAST(sum(l.d2) AS bigint) AS adc_d2
      FROM codes d
      JOIN cellof t ON t.vec_id = d.vec_id
      JOIN probes p ON p.cell = t.cell
      JOIN lut l ON l.q_id = p.q_id AND l.sub = d.sub AND l.k = d.k
      WHERE d.vec_id <> p.q_id
      GROUP BY 1, 2
    )"""

  val annIvfPqSql: String = s"""
    WITH $pqCtes, $ivfCellCtes, $ivfPqScoredSql
    $adcTop5Sql"""

  val annIvfPqRerankSql: String = s"""
    WITH $pqCtes, $ivfCellCtes, $ivfPqScoredSql, shortlist AS (
      SELECT q_id, vec_id AS cand_id FROM (
        SELECT q_id, vec_id,
               rank() OVER (PARTITION BY q_id ORDER BY adc_d2, vec_id) AS srnk
        FROM scored
      ) WHERE srnk <= $RerankShortlist
    ), zt AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint)) AS z
      FROM embeddings
    ), exact AS (
      SELECT s.q_id, s.cand_id,
             CAST(list_reduce(list_transform(range(1, len(q.z) + 1),
               i -> (q.z[i] - t.z[i]) * (q.z[i] - t.z[i])), (x, y) -> x + y) AS bigint) AS d2
      FROM shortlist s
      JOIN zt t ON t.vec_id = s.cand_id
      JOIN zt q ON q.vec_id = s.q_id
    )
    SELECT q_id, cand_id, d2, rnk FROM (
      SELECT q_id, cand_id, d2,
             rank() OVER (PARTITION BY q_id ORDER BY d2, cand_id) AS rnk
      FROM exact
    ) WHERE rnk <= 5
    ORDER BY q_id, rnk, cand_id"""

  /** PQ recall@5 vs exact squared-L2 ground truth — the [[annRecall]]
    * counterpart for the ADC path, so the 4-byte-code compression's
    * accuracy cost is a tracked, oracle-checked number. Ground truth uses
    * the same micro-quantized integer representation as the codebooks
    * (bigint zip-fold, bit-identical in DuckDB); the truth scan is the
    * broadcast-query nested loop over candidates — the guarded
    * brute-force shape, run at eval scale only. */
  def annPqRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallAgainst(pqTruthTop5(spark, sfDir), annPq(spark, sfDir))

  /** IVF-PQ recall@5 vs the same exact integer-L2 ground truth — closes
    * the eval triangle (LSH, IVF via annRecall-family, PQ, and now the
    * composed IVF-PQ index each carry a tracked accuracy number). The
    * composition loses recall two ways — nprobe=2 cell pruning AND 4-byte
    * code distance — so its number is expected ≤ both parents'; tracking
    * it is what licenses retiring the exact baselines at scale. */
  def annIvfPqRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallAgainst(pqTruthTop5(spark, sfDir), annIvfPq(spark, sfDir))

  /** Recall@5 of the refined index ([[annIvfPqRerank]]) vs the same exact
    * ground truth — read next to [[annIvfPqRecall]] it isolates WHERE the
    * composed index loses accuracy: the refine makes the code-distance
    * error vanish (every true neighbor inside a probed cell is recovered
    * exactly), so any remaining miss is nprobe cell pruning. That
    * decomposition is what tells an operator whether to spend the next
    * accuracy dollar on more probes or better codes. */
  def annRerankRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallAgainst(pqTruthTop5(spark, sfDir), annIvfPqRerank(spark, sfDir))

  /** Recall@5 of [[annIvfSq]] vs the same exact integer-L2 truth — the SQ
    * index's tracked accuracy number. Read against [[annIvfPqRecall]]
    * (same cells, coarser codes) it prices the SQ-vs-PQ byte-budget
    * trade; read against [[annRerankRecall]] (same cells, exact refine)
    * it isolates the int8 quantization's own contribution to loss. */
  def annIvfSqRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallAgainst(pqTruthTop5(spark, sfDir), annIvfSq(spark, sfDir))

  /** Exact squared-L2 top-5 ground truth over the micro-quantized integer
    * representation — shared by the PQ-family recall evals. The truth scan
    * is the broadcast-query nested loop over candidates: the guarded
    * brute-force shape, run at eval scale only. */
  private def pqTruthTop5(spark: SparkSession, sfDir: String): DataFrame = {
    val z = graft.operators.Dedup.guardQuadratic(
      Tables.embeddings(spark, sfDir).select(col("vec_id"),
        transform(col("embedding"), x => floor(x.cast("double") * 1000000).cast("long")).as("z")),
      "pqTruthTop5", "annPq (unguarded ADC) / annIvfPq", AnnBruteConf, AnnBruteDefault)
    val qs = z.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("z").as("qz"))
    val d2 = aggregate(zip_with(col("qz"), col("z"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cand_id"))
    z.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("cand_id"), d2.as("d2"))
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("cand_id"))
  }

  /** recall@5 readout: per-query truth rows left-joined to approx hits.
    * Both inputs are ≤5 rows per query by construction, so the eval join
    * + aggregate run on slivers; the cost is the two ANN plans. */
  private def recallAgainst(truth: DataFrame, approx0: DataFrame): DataFrame = {
    val approx = approx0.select(col("q_id"), col("cand_id"), lit(1).as("hit"))
    truth.join(approx, Seq("q_id", "cand_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
           sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("q_id"), col("n_truth"), col("n_hit"),
        expr("10000 * n_hit div n_truth").as("recall_bp"))
      .orderBy(col("q_id"))
  }

  /** Shared recall-eval SQL: integer-L2 truth CTE + recall readout around
    * a spliced approx subquery (the PQ-family oracle counterpart of
    * [[recallAgainst]]). */
  private def pqRecallSqlOver(approxSql: String): String = s"""
    WITH z AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint)) AS z
      FROM embeddings
    ), truth AS (
      SELECT q_id, cand_id FROM (
        SELECT q.vec_id AS q_id, t.vec_id AS cand_id,
               rank() OVER (PARTITION BY q.vec_id ORDER BY
                 list_reduce(list_transform(range(1, len(q.z) + 1),
                   i -> (q.z[i] - t.z[i]) * (q.z[i] - t.z[i])), (x, y) -> x + y),
                 t.vec_id) AS rnk
        FROM z q JOIN z t ON q.vec_id < 10 AND t.vec_id <> q.vec_id
      ) WHERE rnk <= 5
    ), approx AS (SELECT q_id, cand_id, 1 AS hit FROM ($approxSql) a)
    SELECT q_id, count(*) AS n_truth,
           CAST(sum(coalesce(hit, 0)) AS bigint) AS n_hit,
           (10000 * CAST(sum(coalesce(hit, 0)) AS bigint) // count(*)) AS recall_bp
    FROM truth LEFT JOIN approx USING (q_id, cand_id)
    GROUP BY q_id
    ORDER BY q_id"""

  val annPqRecallSql: String = pqRecallSqlOver(annPqSql)
  val annIvfPqRecallSql: String = pqRecallSqlOver(annIvfPqSql)
  val annRerankRecallSql: String = pqRecallSqlOver(annIvfPqRerankSql)
  val annIvfSqRecallSql: String = pqRecallSqlOver(annIvfSqSql)

  // ------------------------------------------------- label centroids / k-NN

  /** Per-label centroid components — the statistic behind classifier-style
    * quality filtering and k-means seeding. Elements are quantized per-row
    * to integer millionths BEFORE summing (bigint sums are
    * order-independent → oracle-exact); centroid component = floor(mean).
    * Shape: posexplode is a per-row map; one shuffle on (label, pos) with
    * partial aggregation — at 100 TB each partition collapses to
    * |labels|·dim rows before the exchange. */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_q"))
      .select(col("label").cast("long").as("label"), col("pos"),
        col("n_vecs"), floor(col("sum_q") * 1.0 / col("n_vecs")).cast("long").as("c_q"))
      .orderBy(col("label"), col("pos"))

  val labelCentroidsSql: String = """
    SELECT CAST(label AS bigint) AS label, pos, n_vecs,
           CAST(floor(sum_q * 1.0 / n_vecs) AS bigint) AS c_q
    FROM (
      SELECT label, pos, count(*) AS n_vecs, CAST(sum(q) AS bigint) AS sum_q
      FROM (
        SELECT label,
               CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
               unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
        FROM embeddings
      )
      GROUP BY label, pos
    )
    ORDER BY label, pos"""

  /** Inter-centroid margin: squared L2 distance between every pair of
    * label centroids, in micro² units — the class-separability audit run
    * before trusting labels for classifier training or stratified
    * curation (two centroids close together ⇒ the labels are confusable;
    * the pair list orders the confusion risk). Integer-exact: centroid
    * components are [[labelCentroids]]'s floor(mean of micro-quantized
    * elements), so diffs ≤ 2·10⁶, squared ≤ 4·10¹², × dims ≤ 64 stays
    * far under 2⁶³ at ANY corpus size (the centroid table is the
    * |labels|·dim domain, not the data). Shape: one (label, pos) shuffle
    * with partial combine builds the centroids (localCheckpointed — the
    * pair join must not re-scan the corpus twice), then the pairwise is a
    * self-join of a 512-row table. */
  def centroidMargin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = labelCentroids(spark, sfDir)
      .select(col("label"), col("pos"), col("c_q"))
      .localCheckpoint()
    val a = c.select(col("label").as("label_a"), col("pos"), col("c_q").as("ca"))
    val b = c.select(col("label").as("label_b"), col("pos"), col("c_q").as("cb"))
    a.join(b, Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("dist2_q"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val centroidMarginSql: String = s"""
    WITH c AS (
      SELECT label, pos, c_q FROM ($labelCentroidsSql)
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum((a.c_q - b.c_q) * (a.c_q - b.c_q)) AS bigint) AS dist2_q
    FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
    ORDER BY label_a, label_b"""

  /** k-NN majority-vote labeling over the LSH candidate path ([[annLsh]]'s
    * bucket shape — the scale route): each query's 5 bucket-mates vote
    * with their labels; prediction = most votes, ties to the smaller
    * label. The "label new data by its neighbors" pipeline op. */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val votes = annLsh(spark, sfDir)
      .join(labels.withColumnRenamed("vec_id", "cand_id"), "cand_id")
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "true_label"), "q_id")
      .select(col("q_id"), col("label").as("pred_label"), col("votes"),
        col("true_label"), (col("label") === col("true_label")).cast("int").as("is_match"))
      .orderBy(col("q_id"))
  }

  val knnClassifySql: String = s"""
    WITH ann AS (
      SELECT * FROM ($annLshSql)
    ), votes AS (
      SELECT ann.q_id, CAST(e.label AS bigint) AS label, count(*) AS votes
      FROM ann JOIN embeddings e ON ann.cand_id = e.vec_id
      GROUP BY ann.q_id, e.label
    )
    SELECT v.q_id, v.label AS pred_label, v.votes,
           CAST(t.label AS bigint) AS true_label,
           CAST(v.label = CAST(t.label AS bigint) AS int) AS is_match
    FROM (
      SELECT q_id, label, votes,
             row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rnk
      FROM votes
    ) v JOIN embeddings t ON v.q_id = t.vec_id
    WHERE rnk = 1
    ORDER BY q_id"""

  // ------------------------------------------------------ MinHash / SimHash

  /** MinHash + banded LSH near-dup candidates: hash family h_i(sh) =
    * (A_i·x + B_i·y + C_i) mod 2³² over the two 32-bit halves (x, y) of
    * ONE md5(sh) — the standard universal-hash construction (12 hash fns
    * from a single md5 evaluation; r1-r2 burned 3 md5s per shingle on
    * this, the corpus-sized cost of the query). A_i, B_i < 2²⁹ keeps
    * every product under 2⁶¹ so the arithmetic is exact — and identical —
    * in both Spark (wrapping long) and DuckDB (checked BIGINT).
    * Signature = per-fn min as a long; bands of `rowsPerBand` consecutive
    * minhashes (conf-driven, [[LshRowsPerBandKey]], default 6 bands × 2)
    * → 60-bit band key from md5 of the joined hashes; candidates = pairs
    * sharing a band key.
    * md5, substring, hex→long parsing and the mod-2³² arithmetic are
    * bit-identical in DuckDB, so this sketch op is fully oracle-checked.
    * Candidate generation is an equi-join on (band, band_hash) — the
    * standard shuffle-friendly shape; never all-pairs, and every
    * shuffled/joined key is an 8-byte long, not a 32-char hex string. */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** The banded-LSH candidate pair table (doc_a, doc_b, n_bands) —
    * [[dedupMinhash]] is its sorted listing; [[minhashKeep]] feeds it to
    * connected components. */
  /** The banded-signature table (doc_id, band, bh), checkpointed — both
    * self-join sides of [[minhashPairs]] and both halves of
    * [[minhashIncr]]'s corpus/batch split reuse it. */
  /** Banded-MinHash index of a documents table (doc_id, text) →
    * (doc_id, band, bh) — public so the streaming LSH gate
    * ([[graft.streaming.EventsStream.lshGated]]) probes the EXACT hash
    * family the batch chain builds. Banding is CONF-DRIVEN
    * ([[LshRowsPerBandKey]]): the default (6 bands × 2 rows) is the
    * config `d_lsh_curve`'s measured S-curve picks for the 0.5-Jaccard
    * dedup cut, and `d_dedup_minhash_b3` keeps the (4 × 3) alternative
    * oracle-green so retuning is a conf change, not a code change. */
  def minhashBandIndex(docs: DataFrame): DataFrame =
    bandSigs(minhashSigs(docs), lshRowsPerBand(docs.sparkSession))

  /** Runtime conf key: minhash rows per LSH band (bands = 12/rows). The
    * tuning artifact is `d_lsh_curve`: per-config candidate recall /
    * precision against exact Jaccard ≥ 0.5 truth next to the theoretical
    * 1 − (1 − 0.5^r)^b hit rate — move this knob along that curve, not
    * by folklore. */
  val LshRowsPerBandKey = "spark.graft.lsh.rowsPerBand"

  val DefaultLshRowsPerBand = 2

  /** Validated conf read (the [[graft.operators.GraphScale.longConf]]
    * posture): rows-per-band must divide the 12-hash signature evenly —
    * fail loud with the key named, not with a silently dropped hash. */
  private[graft] def lshRowsPerBand(spark: SparkSession): Int = {
    val r = graft.operators.GraphScale.longConf(
      spark, LshRowsPerBandKey, None, DefaultLshRowsPerBand.toLong)
    require(r > 0 && 12 % r == 0,
      s"$LshRowsPerBandKey must be a positive divisor of 12 " +
        s"(1, 2, 3, 4, 6, 12); got $r")
    r.toInt
  }

  /** The 12-minhash signature table (doc_id, h0..h11) behind
    * [[minhashBandIndex]] — factored out so [[lshCurve]] can re-band the
    * SAME signatures at every rows-per-band without recomputing them. */
  private[queries] def minhashSigs(docs: DataFrame): DataFrame = {
    val sigCols = (0 until 12).map { i =>
      min((lit(HashA(i)) * col("x") + lit(HashB(i)) * col("y") + lit(HashC(i)))
        .bitwiseAND(lit(0xFFFFFFFFL))).as(s"h$i")
    }
    docs
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.word_shingles_raw(col("text")))).as("sh"))
      .withColumn("hh", md5(col("sh")))
      .withColumn("x", conv(substring(col("hh"), 1, 8), 16, 10).cast("long"))
      .withColumn("y", conv(substring(col("hh"), 9, 8), 16, 10).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
  }

  /** Band a signature table into (doc_id, band, bh) at `rowsPerBand`
    * consecutive minhashes per band (12 must divide evenly). */
  private def bandSigs(sigs: DataFrame, rowsPerBand: Int): DataFrame = {
    val bands = (0 until 12 / rowsPerBand).map { b =>
      val cols = (0 until rowsPerBand)
        .map(j => col(s"h${b * rowsPerBand + j}").cast("string"))
      struct(lit(b).as("band"),
        conv(substring(md5(concat_ws("_", cols: _*)), 1, 15), 16, 10).cast("long").as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Per-ROW band keys for one document's text: the same 12-hash banded
    * family as [[minhashBandIndex]], folded into higher-order array
    * expressions so a STREAMING row computes its probe keys with no
    * groupBy (stateless, codegen-friendly). Null when the text is too
    * short to shingle — `explode_outer` keeps such docs as no-hit rows.
    * Value-identical to the index recipe by construction (min over the
    * same distinct-shingle hash set); spec-asserted row-for-row.
    * `rowsPerBand` must match the index the keys will probe — callers
    * with a session at hand read it via [[lshRowsPerBand]] (the
    * [[graft.streaming.EventsStream.lshGated]] posture). */
  def minhashBandKeys(text: Column,
                      rowsPerBand: Int = DefaultLshRowsPerBand): Column = {
    val numHashes = 12
    require(rowsPerBand > 0 && numHashes % rowsPerBand == 0,
      s"rowsPerBand must divide $numHashes; got $rowsPerBand")
    val xy = transform(array_distinct(graft.functions.word_shingles_raw(text)), sh => {
      val hh = md5(sh)
      struct(conv(substring(hh, 1, 8), 16, 10).cast("long").as("x"),
        conv(substring(hh, 9, 8), 16, 10).cast("long").as("y"))
    })
    val sig = (0 until numHashes).map { i =>
      array_min(transform(xy, p =>
        (lit(HashA(i)) * p.getField("x") + lit(HashB(i)) * p.getField("y") + lit(HashC(i)))
          .bitwiseAND(lit(0xFFFFFFFFL))))
    }
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val parts = (0 until rowsPerBand)
        .map(j => sig(b * rowsPerBand + j).cast("string"))
      struct(lit(b).as("band"),
        conv(substring(md5(concat_ws("_", parts: _*)), 1, 15), 16, 10)
          .cast("long").as("bh"))
    }
    when(size(xy) >= 1, array(bands: _*))
  }

  private def minhashBands(spark: SparkSession, sfDir: String): DataFrame =
    minhashBandIndex(Tables.documents(spark, sfDir))
      .localCheckpoint() // signature table built once, reused by both join sides

  // r12: the banded pair table feeds four declared rows (d_dedup_minhash,
  // d_minhash_keep, d_minhash_recall, d_edit_verify) — ChainMemo, pqCore
  // posture: one candidate generation per session
  private val minhashPairsMemo = new graft.operators.ChainMemo[DataFrame]()
  private def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    // banding is conf-driven — the conf value is part of the memo key, so
    // a mid-session retune can never be served a stale band width
    minhashPairsMemo.getOrBuild(spark, s"$sfDir|rpb=${lshRowsPerBand(spark)}") {
      val exploded = minhashBands(spark, sfDir)
      exploded.as("x").join(exploded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_bands"))
        .localCheckpoint(false)
    }

  /** Incremental fuzzy dedup — "dedup the new crawl against the existing
    * corpus", the arriving-batch counterpart of [[dedupBloom]]'s exact
    * gate: batch docs (here the deterministic doc_id%5=0 slice) probe the
    * CORPUS band table for near-dup matches; corpus-internal pairs are
    * never generated, so per-batch cost is |batch bands| ⋈ the band
    * index, not a corpus self-join. One row per batch doc: its best
    * corpus match (most shared bands, ties to the smaller id) or
    * dup_of = −1 when the batch doc is genuinely new. At 100 TB the
    * corpus band table is the persistent index this query's shape
    * maintains incrementally. */
  def minhashIncr(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = minhashBands(spark, sfDir)
    val corpus = bands.filter(col("doc_id") % 5 =!= 0)
    val batch = bands.filter(col("doc_id") % 5 === 0)
    val best = corpus.as("x").join(batch.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .groupBy(col("y.doc_id").as("new_doc"), col("x.doc_id").as("dup_of"))
      .agg(count(lit(1)).as("n_bands"))
      .groupBy(col("new_doc"))
      .agg(min(struct((-col("n_bands")).as("nb"), col("dup_of").as("d"))).as("k"))
      .select(col("new_doc"), col("k.d").as("dup_of"), (-col("k.nb")).as("n_bands"))
    Tables.documents(spark, sfDir).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("new_doc"))
      .join(best, Seq("new_doc"), "left")
      .select(col("new_doc").as("doc_id"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("n_bands"), lit(0L)).as("n_bands"),
        col("dup_of").isNotNull.cast("int").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  // lazy: minhashCtes is declared later in this object (strict would
  // interpolate null at init — the kmeansCtes footgun)
  lazy val minhashIncrSql: String = s"""
    WITH $minhashCtes, pr AS (
      SELECT y.doc_id AS new_doc, x.doc_id AS dup_of, count(*) AS n_bands
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bh = y.bh
       AND x.doc_id % 5 <> 0 AND y.doc_id % 5 = 0
      GROUP BY 1, 2
    ), best AS (
      SELECT new_doc, min({'nb': -n_bands, 'd': dup_of}) AS k
      FROM pr GROUP BY new_doc
    )
    SELECT d.doc_id,
           coalesce(k.d, -1) AS dup_of,
           CAST(coalesce(-k.nb, 0) AS bigint) AS n_bands,
           CAST(k.d IS NOT NULL AS int) AS is_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN best ON best.new_doc = d.doc_id
    ORDER BY doc_id"""

  /** The production fuzzy-dedup chain at 100 TB: banded-MinHash candidate
    * pairs ([[minhashPairs]] — sketch-sized state, no shingle self-join)
    * → [[graft.operators.Dedup.connectedComponents]] → keep the
    * best-quality doc per near-dup cluster. This is what `d_dedup_keep`
    * (exact-Jaccard clusters) costs too much to be at web scale: the LSH
    * pair generation touches 12 longs per doc instead of every shingle
    * pair, and `d_minhash_recall` quantifies exactly what that shortcut
    * misses — together they are the measured sketch-instead-of-exact
    * trade this family exists for (the SlimPajama/BigCode NearDedup
    * shape). Output matches `d_dedup_keep`'s schema: one row per
    * surviving doc. */
  def minhashKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = minhashPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val labels = graft.operators.Dedup
      .connectedComponents(pairs, docs.select(col("doc_id")))
    graft.operators.Dedup
      .keepBest(labels, docs.select(col("doc_id"), col("n_chars").as("score")))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("score").cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Universal-hash constants (A, B < 2²⁹ and odd, C < 2³²) — derived
    * from the Knuth/xxhash multiplicative constants, shared verbatim by
    * the Spark plan and the interpolated oracle SQL. */
  private val HashA = (0 until 12).map(i => ((i * 2654435761L + 0x1234567L) % (1L << 29)) | 1L)
  private val HashB = (0 until 12).map(i => ((i * 2246822519L + 0x89ABCDEL) % (1L << 29)) | 1L)
  private val HashC = (0 until 12).map(i => (i * 3266489917L + 0x0F1E2D3L) % (1L << 32))

  /** The minhash signature/band CTE chain (sh → shh → sigs → bands),
    * shared by the pair listing and the keep-one materializer oracles. */
  /** The sh/shh/sigs CTE chain (12-minhash signatures) over `table` —
    * the SQL twin of [[minhashSigs]]. */
  private def minhashSigCtesAt(table: String): String = {
    val shingleCase = """CASE WHEN len(w) >= 3
        THEN list_transform(range(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        ELSE [text] END"""
    val mins = (0 until 12).map(i =>
      s"min((${HashA(i)} * x + ${HashB(i)} * y + ${HashC(i)}) & 4294967295) AS h$i")
      .mkString(",\n             ")
    s"""sh AS (
      SELECT DISTINCT doc_id, unnest($shingleCase) AS sh
      FROM (SELECT doc_id, text, string_split_regex(text, '\\s+') AS w FROM $table)
    ), shh AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS x,
             CAST('0x' || substr(md5(sh), 9, 8) AS BIGINT) AS y
      FROM sh
    ), sigs AS (
      SELECT doc_id,
             $mins
      FROM shh GROUP BY doc_id
    )"""
  }

  /** Banded keys for `rowsPerBand` consecutive minhashes — the SQL twin
    * of [[bandSigs]], as a UNION ALL over the 12/rowsPerBand bands. */
  private def bandSelectsSql(rowsPerBand: Int): String =
    (0 until 12 / rowsPerBand).map { b =>
      val concat = (0 until rowsPerBand)
        .map(j => s"CAST(h${b * rowsPerBand + j} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, CAST('0x' || substr(md5($concat), 1, 15) AS BIGINT) AS bh FROM sigs"
    }.mkString("\n      UNION ALL ")

  private def minhashCtesAt(r: Int): String =
    s"""${minhashSigCtesAt("documents")}, bands AS (
      ${bandSelectsSql(r)}
    )"""

  private val minhashCtes: String = minhashCtesAt(DefaultLshRowsPerBand)

  private def dedupMinhashSqlAt(r: Int): String = s"""
    WITH ${minhashCtesAt(r)}
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_bands
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
    GROUP BY 1, 2
    ORDER BY doc_a, doc_b"""

  val dedupMinhashSql: String = dedupMinhashSqlAt(DefaultLshRowsPerBand)

  /** Run `body` with [[LshRowsPerBandKey]] pinned to `r`, restoring the
    * caller's setting afterwards. The banding is read EAGERLY during
    * plan construction (and `minhashBands` checkpoints eagerly), so the
    * returned frame keeps the pinned config baked in after restore. */
  private def withLshRows[A](spark: SparkSession, r: Int)(body: => A): A = {
    val prev = spark.conf.getOption(LshRowsPerBandKey)
    spark.conf.set(LshRowsPerBandKey, r.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(LshRowsPerBandKey, v)
      case None => spark.conf.unset(LshRowsPerBandKey)
    }
  }

  /** [[dedupMinhash]] at the OTHER banding `d_lsh_curve` prices next to
    * the default — 4 bands × 3 rows, the stricter cut (S-curve midpoint
    * (1/4)^(1/3) ≈ 0.63 vs the default's 0.41): proves the conf knob
    * end-to-end against the oracle at a second config, so retuning from
    * the curve is a validated conf change, not a code path nobody ran. */
  def dedupMinhashB3(spark: SparkSession, sfDir: String): DataFrame =
    withLshRows(spark, 3)(
      minhashPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b")))

  val dedupMinhashB3Sql: String = dedupMinhashSqlAt(3)

  val minhashKeepSql: String = s"""
    WITH RECURSIVE $minhashCtes, edges0 AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges0
      UNION ALL SELECT doc_b, doc_a FROM edges0
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
    ), lab AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), scored AS (
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

  /** SimHash near-dup: 60-bit signature from md5-derived token hashes
    * (sign of per-bit ±1 sums); candidates share one of four 15-bit chunks
    * (pigeonhole blocking), verified with exact hamming ≤ 16 via
    * bit_count(xor). md5-derived hashes are engine-portable → fully
    * oracle-checked. All columnar, no UDFs. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** The unsorted simhash pair set — [[simhashEval]] consumes this
    * directly so the eval never pays [[dedupSimhash]]'s presentation
    * sort on the candidate table. */
  // r12: the hamming-verified pair table feeds three declared rows
  // (d_dedup_simhash, d_simhash_eval, d_simhash_eval_sampled) — ChainMemo
  private val simhashPairsMemo = new graft.operators.ChainMemo[DataFrame]()
  private def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsMemo.getOrBuild(spark, sfDir) {
      simhashPairsBuild(spark, sfDir).localCheckpoint(false)
    }
  private def simhashPairsBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), "\\s+"))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    // per-bit ones-counts (branch-free arithmetic, cheaper codegen than a
    // CASE per bit); sign of the ±1 sum ⟺ 2·ones > n_tokens
    val bitSums = (0 until 60).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"o$b")
    }
    val aggs = count(lit(1)).as("n_tok") +: bitSums
    val agg = toks.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val simhash = (0 until 60).map { b =>
      when(col(s"o$b") * 2 > col("n_tok"), lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    val sigs = agg.select(col("doc_id"), simhash.as("simhash"))
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"), shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL)).as("ck"))
    }
    val exploded = sigs.select(col("doc_id"), col("simhash"), explode(array(chunks: _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.chunk").as("chunk"), col("c.ck").as("ck"))
      .localCheckpoint() // signature table built once, reused by both join sides
    // A pair sharing m chunks would surface m times; keep only the row
    // whose join chunk is the SMALLEST shared chunk — a branch-free
    // map-side filter on the two signatures that replaces a full
    // distinct() shuffle of the candidate set (millions of rows on
    // near-dup-heavy corpora).
    def chunkEq(j: Int): Column =
      shiftright(col("x.simhash"), j * 15).bitwiseAND(lit(0x7FFFL)) ===
      shiftright(col("y.simhash"), j * 15).bitwiseAND(lit(0x7FFFL))
    val earlierShared = (0 until 3).map(j => lit(j) < col("x.chunk") && chunkEq(j)).reduce(_ || _)
    exploded.as("x").join(exploded.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
        col("x.doc_id") < col("y.doc_id"))
      .filter(!earlierShared)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= 16)
  }

  val dedupSimhashSql: String = {
    val bitSums = (0 until 60).map(b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b").mkString(",\n             ")
    val simhash = (0 until 60).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    val chunks = (0 until 4).map(c =>
      s"SELECT doc_id, simhash, $c AS chunk, ((simhash >> ${c * 15}) & 32767) AS ck FROM sigs")
      .mkString("\n      UNION ALL ")
    s"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
    ), bits AS (
      SELECT doc_id,
             $bitSums
      FROM toks GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, CAST($simhash AS BIGINT) AS simhash FROM bits
    ), chunks AS (
      $chunks
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM chunks x JOIN chunks y
      ON x.chunk = y.chunk AND x.ck = y.ck AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= 16
    ORDER BY doc_a, doc_b"""
  }

  // ----------------------------------------------------------------- k-means

  // private[graft]: graft.Pipeline runs the same fit and its oracle
  // (PipelineQueries) splices kmeansCtes — one definition site for k/iters
  private[graft] val KmeansK = 8
  private[graft] val KmeansIters = 2

  /** Distributed Lloyd's k-means ([[graft.operators.KMeans]]): cluster the
    * embedding corpus with integer-exact math — quantized elements, bigint
    * squared-L2, floor(sum/n) centroid updates — so the oracle replays the
    * IDENTICAL trajectory (seeds = k smallest vec_ids, ties to the smaller
    * cluster id). The curation move behind IVF cells and diversity
    * bucketing. */
  def kmeans(spark: SparkSession, sfDir: String): DataFrame =
    kmeansFit(spark, sfDir).orderBy(col("vec_id"))

  /** The k=[[KmeansK]] Lloyd fit shared by `e_kmeans`,
    * `e_cluster_quality` and `e_medoids` — r12: each re-ran the full fit
    * (BENCH_NOTES r4: "a pipeline would fit once and derive all three");
    * the ChainMemo does exactly that within a session. */
  private val kmeansFitMemo = new graft.operators.ChainMemo[DataFrame]()
  private def kmeansFit(spark: SparkSession, sfDir: String): DataFrame =
    kmeansFitMemo.getOrBuild(spark, sfDir) {
      graft.operators.KMeans
        .fit(Tables.embeddings(spark, sfDir), KmeansK, KmeansIters)
        .localCheckpoint(false)
    }

  /** The k-means trajectory as a reusable `WITH …` CTE chain ending at
    * `fin` (vec_id, k, dist — the final assignment), shared by the kmeans,
    * cluster-quality and medoid oracles so all three replay the one
    * integer-exact trajectory. */
  private[queries] val kmeansCtes: String = kmeansCtesFor(KmeansK)

  /** [[kmeansCtes]] parameterized on k — the elbow sweep runs the chain
    * at several k values, each inside its own subquery scope. */
  private[queries] def kmeansCtesFor(kk: Int): String =
    "\n    WITH " + kmeansChain(kk, "embeddings", 1)

  /** The trajectory CTE body WITHOUT the leading `WITH`, parameterized on
    * the source relation (a base table or an earlier CTE — e.g. the
    * planted-near-dup corpus of [[semDedupEval09]]) and the probe depth of
    * the final assignment: finRnMax = 1 reproduces [[kmeansCtesFor]]'s
    * argmin `fin`; finRnMax = p keeps each vector's p nearest centroids
    * with their rank (the [[graft.operators.KMeans.assignTop]] twin). */
  private[queries] def kmeansChain(kk: Int, src: String, finRnMax: Int,
                                   prefix: String = ""): String = {
    // the same iteration unrolled as a CTE chain: a_i assigns against c_{i-1},
    // c_i re-averages; `fin` is the (iters+1)-th assignment. `prefix`
    // namespaces every CTE so two trajectories (e.g. base index + full
    // rebuild in e_ann_ivf_incr) compose in one query.
    val p = prefix
    def assignCte(name: String, cents: String, rnMax: Int) = {
      val proj = if (rnMax == 1) "vec_id, k, dist" else "vec_id, k, dist, rn"
      s"""$name AS (
      SELECT $proj FROM (
        SELECT vec_id, k, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
        FROM (SELECT v.vec_id, c.k, CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS dist
              FROM ${p}q v JOIN $cents c ON v.pos = c.pos
              GROUP BY v.vec_id, c.k)
      ) WHERE rn <= $rnMax
    )"""
    }
    def centCte(i: Int) = s"""${p}c$i AS (
      SELECT a.k, v.pos, CAST(floor(sum(v.q) * 1.0 / count(*)) AS bigint) AS c
      FROM ${p}a$i a JOIN ${p}q v ON a.vec_id = v.vec_id
      GROUP BY a.k, v.pos
    )"""
    val chain = (1 to KmeansIters).map(i =>
      assignCte(s"${p}a$i", s"${p}c${i - 1}", 1) + ", " + centCte(i)).mkString(", ")
    s"""${p}q AS (
      SELECT vec_id,
             CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
      FROM $src
    ), ${p}seeds AS (
      SELECT vec_id FROM $src ORDER BY vec_id LIMIT $kk
    ), ${p}c0 AS (
      SELECT v.vec_id AS k, v.pos, v.q AS c FROM ${p}q v
      WHERE v.vec_id IN (SELECT vec_id FROM ${p}seeds)
    ), $chain,
    ${assignCte(s"${p}fin", s"${p}c$KmeansIters", finRnMax)}"""
  }

  val kmeansSql: String =
    s"""$kmeansCtes
    SELECT vec_id, k AS cluster, dist FROM fin ORDER BY vec_id"""

  /** Inertia-vs-k elbow sweep — the [[annProbeSweep]] pattern for the
    * clustering knob: the full integer-exact Lloyd chain at k ∈ {2,4,8},
    * reporting total within-cluster SSE (inertia), surviving-cluster
    * count and size. The one-number-per-k readout that picks k before
    * committing an IVF/SemDeDup build to it; each run is the already-
    * benched k-means shape over ONE shared quantized table
    * ([[graft.operators.KMeans.quantize]] — the corpus quantization and
    * its checkpoint are paid once, not per k), and the three Lloyd chains
    * are embarrassingly parallel across k on a cluster. */
  def kmeansElbow(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val vecs = graft.operators.KMeans.quantize(e)
    Seq(2, 4, 8).map { k =>
      graft.operators.KMeans.fitQuantized(vecs, e, k, KmeansIters)
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("cluster")).as("n_live"),
          sum(col("dist")).as("inertia"))
        .select(lit(k.toLong).as("k"), col("n_vecs"), col("n_live"), col("inertia"))
    }.reduce(_ union _).orderBy(col("k"))
  }

  lazy val kmeansElbowSql: String = Seq(2, 4, 8).map { k =>
    s"""SELECT * FROM (${kmeansCtesFor(k)}
      SELECT CAST($k AS bigint) AS k, CAST(count(*) AS bigint) AS n_vecs,
             CAST(count(DISTINCT fin.k) AS bigint) AS n_live,
             CAST(sum(dist) AS bigint) AS inertia
      FROM fin)"""
  }.mkString("\n    UNION ALL\n    ") + "\n    ORDER BY k"

  // ------------------------------------------------------ cluster quality

  /** Cluster-quality metrics over the k-means fit (SURVEY §7 r4) — the
    * index-health view before trusting IVF cells or diversity buckets:
    * per cluster its population, within-cluster scatter (WCSS and mean
    * squared distance, exact bigints in millionths²), squared distance to
    * the nearest OTHER centroid, and a Davies-Bouldin-flavored
    * compactness/separation ratio in basis points (integer division, so
    * both engines agree bit-for-bit). Scale shape: the fit is the heavy
    * part (see [[graft.operators.KMeans]]); everything here aggregates
    * onto the k-row cluster domain, and the k·dim centroid table pairwise
    * join is k²·dim rows — driver-trivial at any corpus size. */
  def clusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val fit = kmeansFit(spark, sfDir) // memoized checkpoint: feeds the
                                      // centroid rebuild AND per-cluster agg
    val vecs = e.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
    // centroids of the FINAL assignment (same floor(sum/n) update rule)
    val cf = fit.join(vecs, "vec_id")
      .groupBy(col("cluster"), col("pos"))
      .agg(floor(sum(col("q")) * 1.0 / count(lit(1))).cast("long").as("c"))
    val cd = cf.select(col("cluster").as("ka"), col("pos"), col("c").as("ca"))
      .join(cf.select(col("cluster").as("kb"), col("pos"), col("c").as("cb")),
        "pos")
      .filter(col("ka") =!= col("kb"))
      .groupBy(col("ka"), col("kb"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("d2"))
    val sep = cd.groupBy(col("ka").as("cluster")).agg(min(col("d2")).as("d_min"))
    fit.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("wcss"))
      .withColumn("mean_dist",
        floor(col("wcss") * 1.0 / col("n_vecs")).cast("long"))
      .join(broadcast(sep), "cluster")
      .withColumn("compact_bp", // d_min = 0 when two final centroids
        // quantize identically (duplicate-heavy corpus) — ANSI DIV throws
        when(col("d_min") === 0, lit(null).cast("long"))
          .otherwise(expr("mean_dist * 10000 DIV d_min")))
      .select(col("cluster"), col("n_vecs"), col("wcss"), col("mean_dist"),
        col("d_min"), col("compact_bp"))
      .orderBy(col("cluster"))
  }

  val clusterQualitySql: String =
    s"""$kmeansCtes,
    cf AS (
      SELECT f.k AS cluster, v.pos,
             CAST(floor(sum(v.q) * 1.0 / count(*)) AS bigint) AS c
      FROM fin f JOIN q v ON f.vec_id = v.vec_id
      GROUP BY f.k, v.pos
    ), cd AS (
      SELECT a.cluster AS ka, b.cluster AS kb,
             CAST(sum((a.c - b.c) * (a.c - b.c)) AS bigint) AS d2
      FROM cf a JOIN cf b ON a.pos = b.pos AND a.cluster <> b.cluster
      GROUP BY a.cluster, b.cluster
    ), sep AS (
      SELECT ka AS cluster, min(d2) AS d_min FROM cd GROUP BY ka
    )
    SELECT f.k AS cluster, count(*) AS n_vecs,
           CAST(sum(f.dist) AS bigint) AS wcss,
           CAST(floor(sum(f.dist) * 1.0 / count(*)) AS bigint) AS mean_dist,
           s.d_min AS d_min,
           CASE WHEN s.d_min = 0 THEN NULL
                ELSE (CAST(floor(sum(f.dist) * 1.0 / count(*)) AS bigint)
                      * 10000) // s.d_min
           END AS compact_bp
    FROM fin f JOIN sep s ON f.k = s.cluster
    GROUP BY f.k, s.d_min
    ORDER BY cluster"""

  /** Cluster medoid-ish representatives: per cluster the vector closest to
    * its centroid (ties to the smaller vec_id) — the pick behind
    * cluster-stratified diversity sampling ("one exemplar per region of
    * embedding space"). A k-row bounded output; the argmin is one
    * partial-aggregable min(struct) over the fit. */
  def medoids(spark: SparkSession, sfDir: String): DataFrame =
    kmeansFit(spark, sfDir)
      .groupBy(col("cluster"))
      .agg(min(struct(col("dist"), col("vec_id"))).as("m"),
        count(lit(1)).as("n_vecs"))
      .select(col("cluster"), col("m.vec_id").as("medoid_id"),
        col("m.dist").as("medoid_dist"), col("n_vecs"))
      .orderBy(col("cluster"))

  val medoidsSql: String =
    s"""$kmeansCtes
    SELECT k AS cluster,
           first(vec_id ORDER BY dist, vec_id) AS medoid_id,
           min(dist) AS medoid_dist,
           count(*) AS n_vecs
    FROM fin
    GROUP BY k
    ORDER BY cluster"""

  // ------------------------------------------------------- int8 quantization

  /** Per-vector symmetric int8 quantization — the storage/serving posture
    * for embeddings at 100 TB (4× smaller than float32, 8× than float64):
    * scale = max|x|/127, q_i = round-half-up(x_i·127/max|x|). Emits exact
    * integer diagnostics per vector (saturation count, zero count, L1
    * mass) instead of the int8 array itself so the oracle hash-checks the
    * quantization bit-for-bit (round-half-up = floor(x+0.5) is
    * engine-portable; Spark/DuckDB `round` half-away ties are not relied
    * on). Shuffle-free per-row map; the sort is the oracle-facing ORDER BY.
    */
  def quantizeInt8(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
        vec(col("embedding")).as("v"))
      // m staged as its own column: inside the quantization lambda it must
      // be an attribute read, not a re-evaluated array_max per element
      .withColumn("m", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", transform(col("v"), x =>
        when(col("m") === 0.0, lit(0L))
          .otherwise(floor(x * lit(127.0) / col("m") + lit(0.5)).cast("long"))))
      .select(col("vec_id"), col("dim"),
        floor(col("m") * lit(1000000.0)).cast("long").as("maxabs_micro"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        size(filter(col("q"), x => abs(x) === 127L)).cast("long").as("n_sat"),
        size(filter(col("q"), x => x === 0L)).cast("long").as("n_zero"))
      .orderBy(col("vec_id"))
  }

  val quantizeInt8Sql: String = """
    WITH base AS (
      SELECT vec_id, len(embedding) AS dim,
             list_max(list_transform(embedding, x -> abs(CAST(x AS double)))) AS m,
             embedding
      FROM embeddings
    ), qq AS (
      SELECT vec_id, dim, m,
             list_transform(embedding, x -> CASE WHEN m = 0 THEN 0
               ELSE CAST(floor(CAST(x AS double) * 127.0 / m + 0.5) AS bigint) END) AS q
      FROM base
    )
    SELECT vec_id, CAST(dim AS bigint) AS dim,
           CAST(floor(m * 1000000.0) AS bigint) AS maxabs_micro,
           CAST(list_sum(q) AS bigint) AS q_sum,
           CAST(list_sum(list_transform(q, x -> abs(x))) AS bigint) AS q_l1,
           CAST(len(list_filter(q, x -> abs(x) = 127)) AS bigint) AS n_sat,
           CAST(len(list_filter(q, x -> x = 0)) AS bigint) AS n_zero
    FROM qq
    ORDER BY vec_id"""

  /** The shared sketch-vs-exact-Jaccard eval shape: ground truth = exact
    * n-gram Jaccard pairs at ≥ 0.5, candidates = the given sketch pair
    * set; reports counts + recall/precision in bp. Each pair set feeds
    * its own count AND the semi-join — checkpoint so the expensive
    * self-join+agg subplans run once, not twice. */
  private def sketchEval(spark: SparkSession, sfDir: String, candPairs: DataFrame,
                         sampleBp: Int = 10000): DataFrame = {
    // sampleBp < 10000: the corpus-scale posture — exact Jaccard truth is
    // computed only over a deterministic md5 doc sample (the
    // t_sample_stratified gate recipe, its own 'evl_' salt), and the
    // sketch's candidate pairs are restricted to both-ends-sampled, so
    // recall/precision stay oracle-checkable while the truth cost drops
    // with the SQUARE of the sample rate. The sketch chain itself still
    // runs on the full corpus — only its eval is sampled.
    val docs0 = graft.core.Tables.documents(spark, sfDir)
    val docs =
      if (sampleBp >= 10000) docs0
      else docs0.filter(TextQueries.hashGateBp("evl_", col("doc_id")) < sampleBp)
    val cand0 = candPairs.select(col("doc_a"), col("doc_b"))
    // r13 (guide §2.6 — the eval's residue is job latency, the tables are
    // candidate-sized): the sampled-id gate is localized (its two
    // semi-joins then broadcast job-free), and the candidate table's
    // checkpoint is LAZY — its two consumers (the truth semi-join and the
    // n_cand count) sit in the same readout job and share the blocks, so
    // the eval no longer pays a separate eager materialization pass.
    val cand = (if (sampleBp >= 10000) cand0
      else {
        val ids = localized(docs.select(col("doc_id")))
        cand0
          .join(broadcast(ids.withColumnRenamed("doc_id", "doc_a")), Seq("doc_a"), "left_semi")
          .join(broadcast(ids.withColumnRenamed("doc_id", "doc_b")), Seq("doc_b"), "left_semi")
      }).localCheckpoint(false)
    val exact = exactTruthPairs(spark, sfDir, sampleBp)
    val hit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        when(col("n_exact") === 0, lit(0L))
          .otherwise(floor(col("n_hit") * 10000.0 / col("n_exact")).cast("long"))
          .as("recall_bp"),
        when(col("n_cand") === 0, lit(0L))
          .otherwise(floor(col("n_hit") * 10000.0 / col("n_cand")).cast("long"))
          .as("precision_bp"))
  }

  /** The exact-Jaccard(≥0.5) ground-truth pair set every sketch eval is
    * scored against, memoized per (session, sfDir, sampleBp) — r12: the
    * truth is the EXPENSIVE side of the evals by design (BENCH_NOTES r5+),
    * and `d_minhash_recall`, `d_simhash_eval`, `d_winnow_eval` each
    * re-derived the identical full-corpus pair set (their `_sampled`
    * twins and `d_lsh_curve` the identical 2500 bp-gated one). One truth
    * build per session now serves the whole eval family — the ChainMemo
    * contract ([[pqCore]]): checkpoint-validated, never cross-session. */
  private val truthPairsMemo = new graft.operators.ChainMemo[DataFrame]()
  private def exactTruthPairs(spark: SparkSession, sfDir: String,
                              sampleBp: Int): DataFrame =
    truthPairsMemo.getOrBuild(spark, s"$sfDir|$sampleBp") {
      val docs0 = graft.core.Tables.documents(spark, sfDir)
      val docs =
        if (sampleBp >= 10000) docs0
        else docs0.filter(TextQueries.hashGateBp("evl_", col("doc_id")) < sampleBp)
      // the full-corpus truth additionally shares the canonical
      // pair-stats build with the d_dedup_* candidate family
      val statsTag =
        if (sampleBp >= 10000) sfDir else s"$sfDir|evl$sampleBp"
      graft.operators.Dedup
        .ngramJaccardPairs(docs, minJaccardBp = 5000, sorted = false,
          memoTag = Some(statsTag))
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
    }

  /** The ONE DuckDB twin of [[sketchEval]], parameterized on the
    * candidate pair SQL — minhash and simhash evals splice it so the
    * eval arithmetic can never drift between the two. */
  private def sketchEvalSql(candSql: String, sampleBp: Int = 10000): String = s"""
    WITH ${if (sampleBp >= 10000) "" else
      s"""sdocs AS (
      SELECT * FROM documents WHERE ${TextQueries.hashGateBpSql("evl_")} < $sampleBp
    ), """}cand AS (
      SELECT doc_a, doc_b FROM ($candSql) c${if (sampleBp >= 10000) "" else """
      WHERE doc_a IN (SELECT doc_id FROM sdocs)
        AND doc_b IN (SELECT doc_id FROM sdocs)"""}
    ), ex AS (
      SELECT doc_a, doc_b FROM (${TextQueries.ngramJaccardSqlAt(5000,
        if (sampleBp >= 10000) "documents" else "sdocs")})
    ), hit AS (
      SELECT 1 FROM ex JOIN cand USING (doc_a, doc_b)
    )
    SELECT (SELECT count(*) FROM ex) AS n_exact,
           (SELECT count(*) FROM cand) AS n_cand,
           (SELECT count(*) FROM hit) AS n_hit,
           CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 0
                ELSE CAST(floor((SELECT count(*) FROM hit) * 10000.0
                     / (SELECT count(*) FROM ex)) AS bigint) END AS recall_bp,
           CASE WHEN (SELECT count(*) FROM cand) = 0 THEN 0
                ELSE CAST(floor((SELECT count(*) FROM hit) * 10000.0
                     / (SELECT count(*) FROM cand)) AS bigint) END AS precision_bp"""

  /** MinHash-LSH candidate recall vs exact Jaccard — the sketch-quality
    * eval (the `e_ann_recall` counterpart for the dedup sketches) over
    * the banded minhash pairs. 6 bands × 2 rows targets the s-curve
    * threshold (1/6)^(1/2) ≈ 0.41, so recall at 0.5 should be high — the
    * query makes that number a tracked, oracle-checked fact instead of
    * folklore. */
  def minhashRecall(spark: SparkSession, sfDir: String): DataFrame =
    sketchEval(spark, sfDir, minhashPairs(spark, sfDir))

  val minhashRecallSql: String = sketchEvalSql(dedupMinhashSql)

  /** SimHash blocking quality vs exact Jaccard — the [[minhashRecall]]
    * twin for the other sketch, over [[dedupSimhash]]'s hamming-verified
    * pairs (via the unsorted [[simhashPairs]]). SimHash blocks on
    * token-set cosine rather than 3-gram Jaccard, so precision against
    * this ground truth is structurally low — the eval quantifies exactly
    * that trade (broad recall, loose precision) the same way
    * `e_ann_recall` pins the ANN sketches. */
  def simhashEval(spark: SparkSession, sfDir: String): DataFrame =
    sketchEval(spark, sfDir, simhashPairs(spark, sfDir))

  val simhashEvalSql: String = sketchEvalSql(dedupSimhashSql)

  /** Sampled-truth eval knob for the exact-Jaccard ground truth, in bp of
    * docs kept: at corpus scale the exact truth is unaffordable, so the
    * production posture evaluates the sketch on a deterministic md5
    * sample — 2500 bp (25% of docs ⇒ ~6% of the truth's pair cost) keeps
    * the estimate stable at test scale while exercising the gate. */
  private[graft] val EvalSampleBp = 2500

  /** [[minhashRecall]] under the sampled-truth posture ([[EvalSampleBp]]):
    * exact Jaccard runs only over the md5-sampled docs, candidates
    * restricted to both-ends-sampled. The recall/precision readout a
    * 100 TB corpus can actually afford — and it stays oracle-checked
    * because the oracle re-derives the identical sample. */
  def minhashRecallSampled(spark: SparkSession, sfDir: String): DataFrame =
    sketchEval(spark, sfDir, minhashPairs(spark, sfDir), sampleBp = EvalSampleBp)

  val minhashRecallSampledSql: String = sketchEvalSql(dedupMinhashSql, EvalSampleBp)

  /** Exact S-curve hit probability at Jaccard 0.5 for b bands of r rows,
    * 1 − (1 − 0.5^r)^(12/r), in bp — computed by repeated EXACT dyadic
    * multiplication (every factor has ≤ r·(12/r) = 12 mantissa bits, so
    * no rounding ever happens) and spliced as a literal into both
    * engines. */
  private def sCurveAt50Bp(r: Int): Long = {
    val q = 1.0 - Seq.fill(r)(0.5).product
    val miss = Seq.fill(12 / r)(q).product
    math.floor((1.0 - miss) * 10000.0).toLong
  }

  /** MinHash-LSH banding parameter sweep — the S-curve, measured: re-band
    * the SAME 12-hash signatures at r = 1, 2, 3, 4 rows per band
    * (b = 12, 6, 4, 3 bands) and price each config's candidate recall and
    * precision against the exact-Jaccard(≥0.5) truth, next to its
    * theoretical hit probability at J = 0.5 (1 − (1 − 0.5^r)^b). This is
    * the tuning readout behind `d_dedup_minhash`'s fixed (6, 2) choice:
    * r = 1 floods candidates (high recall, precision collapse), r = 4
    * starves them — the sweep turns that folklore into four
    * oracle-checked rows. Runs under the sampled-truth posture
    * ([[EvalSampleBp]], the same `evl_` gate as the *_sampled evals):
    * banding is per-doc, so banding the SAMPLE equals restricting
    * full-corpus candidates to both-ends-sampled — and the signature
    * table is built ONCE and re-banded (bands are projections of the
    * checkpointed sigs, so the corpus-sized shingle pass is paid once,
    * not four times — at 100 TB that pass IS the query's cost). */
  /** The curve's sampled 12-hash signature table, memoized per
    * (session, sfDir) — r13: the corpus-sized signature pass was rebuilt
    * on every invocation (including Bench's warm runs 2–3) even though
    * the four band configs are mere projections of it. Same ChainMemo
    * posture as [[minhashPairs]]; the `evl_` gate and hash family are
    * fixed constants, so sfDir identifies the input completely. */
  private val lshCurveSigsMemo = new graft.operators.ChainMemo[DataFrame]()
  private def lshCurveSigs(spark: SparkSession, sfDir: String): DataFrame =
    lshCurveSigsMemo.getOrBuild(spark, s"$sfDir|evl$EvalSampleBp|sigs") {
      val sdocs = graft.core.Tables.documents(spark, sfDir)
        .filter(TextQueries.hashGateBp("evl_", col("doc_id")) < EvalSampleBp)
      minhashSigs(sdocs).localCheckpoint()
    }

  def lshCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = lshCurveSigs(spark, sfDir)
    // identical gate + threshold as the *_sampled evals → shared memo
    val exact = exactTruthPairs(spark, sfDir, EvalSampleBp)
    val rows = Seq(1, 2, 3, 4).map { r =>
      val bt = bandSigs(sigs, r)
      val cand = bt.as("x").join(bt.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
        .localCheckpoint(false) // feeds its count and the truth semi-join
      val hit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(lit(r.toLong).as("rows_per_band"), lit((12 / r).toLong).as("n_bands"),
          col("n_exact"), col("n_cand"), col("n_hit"),
          when(col("n_exact") === 0, lit(0L))
            .otherwise(floor(col("n_hit") * 10000.0 / col("n_exact")).cast("long"))
            .as("recall_bp"),
          when(col("n_cand") === 0, lit(0L))
            .otherwise(floor(col("n_hit") * 10000.0 / col("n_cand")).cast("long"))
            .as("precision_bp"),
          lit(sCurveAt50Bp(r)).as("theory50_bp"))
    }
    rows.reduce(_ union _).orderBy(col("rows_per_band"))
  }

  lazy val lshCurveSql: String = {
    val per = Seq(1, 2, 3, 4).map { r =>
      s"""bt$r AS (
      ${bandSelectsSql(r)}
    ), cand$r AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bt$r x JOIN bt$r y
        ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
    ), hit$r AS (SELECT 1 FROM ex JOIN cand$r USING (doc_a, doc_b))"""
    }.mkString(",\n    ")
    val rowsSel = Seq(1, 2, 3, 4).map { r =>
      s"""SELECT CAST($r AS bigint) AS rows_per_band, CAST(${12 / r} AS bigint) AS n_bands,
      (SELECT count(*) FROM ex) AS n_exact,
      (SELECT count(*) FROM cand$r) AS n_cand,
      (SELECT count(*) FROM hit$r) AS n_hit,
      CASE WHEN (SELECT count(*) FROM ex) = 0 THEN 0
           ELSE CAST(floor((SELECT count(*) FROM hit$r) * 10000.0
                / (SELECT count(*) FROM ex)) AS bigint) END AS recall_bp,
      CASE WHEN (SELECT count(*) FROM cand$r) = 0 THEN 0
           ELSE CAST(floor((SELECT count(*) FROM hit$r) * 10000.0
                / (SELECT count(*) FROM cand$r)) AS bigint) END AS precision_bp,
      CAST(${sCurveAt50Bp(r)} AS bigint) AS theory50_bp"""
    }.mkString("\n    UNION ALL\n    ")
    s"""
    WITH sdocs AS (
      SELECT * FROM documents WHERE ${TextQueries.hashGateBpSql("evl_")} < $EvalSampleBp
    ), ${minhashSigCtesAt("sdocs")},
    ex AS (
      SELECT doc_a, doc_b FROM (${TextQueries.ngramJaccardSqlAt(5000, "sdocs")})
    ),
    $per
    SELECT * FROM ($rowsSel)
    ORDER BY rows_per_band"""
  }

  /** [[simhashEval]]'s sampled-truth twin ([[EvalSampleBp]]) — completes
    * the sampled-eval family (minhash and winnow already have theirs):
    * at corpus scale the exact-Jaccard truth is the eval's whole cost,
    * and the simhash gate needs the same affordable readout. */
  def simhashEvalSampled(spark: SparkSession, sfDir: String): DataFrame =
    sketchEval(spark, sfDir, simhashPairs(spark, sfDir), sampleBp = EvalSampleBp)

  val simhashEvalSampledSql: String = sketchEvalSql(dedupSimhashSql, EvalSampleBp)

  /** [[winnowEval]]'s sampled-truth twin — same gate, winnowed index. */
  def winnowEvalSampled(spark: SparkSession, sfDir: String): DataFrame =
    sketchEval(spark, sfDir, TextQueries.winnowPairs(spark, sfDir), sampleBp = EvalSampleBp)

  val winnowEvalSampledSql: String = sketchEvalSql(TextQueries.winnowSql, EvalSampleBp)

  /** Embedding-space (SEMANTIC) decontamination — the paraphrase-leakage
    * catch that exact 13-gram matching (`t_decontaminate13`) structurally
    * misses: flag every TRAIN vector whose cosine against ANY eval vector
    * reaches the near-dup cut (0.9). Eval side = the planted twins of
    * [[augmentedEmbeddings]] (each a perturbed paraphrase of a train
    * vector — ground truth by construction); candidates come from the
    * nearest-2-centroid multi-probe cells ([[graft.operators.KMeans
    * .fitTop]]), so the scan is an equi-join on the cell id — the
    * d_semdedup_eval09-measured 10000 bp recall regime — never
    * train×eval. Output: each contaminated train vector with its
    * best-matching eval vector and cosine (ties to the smaller eval id).
    * At 100 TB the eval side is tiny and the train side is bucketed:
    * per-cell work is |cell∩train|·|cell∩eval|. */
  def embedDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val aug = augmentedEmbeddings(spark, sfDir)
    val fit = semDedup09Fit(spark, sfDir) // one fit; both sides probe it
      .select(col("vec_id"), col("cluster"))
    val e = aug.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .join(fit, "vec_id") // ≤2 rows per vector: its probed cells
    val train = e.filter(col("vec_id") < TwinIdOffset)
      .select(col("cluster"), col("vec_id").as("train_id"),
        col("v").as("tv"), col("nrm").as("tn"))
    val eval = e.filter(col("vec_id") >= TwinIdOffset)
      .select(col("cluster"), col("vec_id").as("eval_id"),
        col("v").as("ev"), col("nrm").as("en"))
    val hits = train.join(eval, "cluster")
      .select(col("train_id"), col("eval_id"),
        cosBp(col("tv"), col("ev"), col("tn"), col("en")).as("cos_bp"))
      .filter(col("cos_bp") >= SemDedup09CosBp)
      .distinct() // a pair can share both probed cells
    val byTrain = Window.partitionBy(col("train_id"))
    hits
      .withColumn("n_eval_hits", count(lit(1)).over(byTrain))
      .withColumn("rn", row_number().over(
        byTrain.orderBy(col("cos_bp").desc, col("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("eval_id"), col("cos_bp"), col("n_eval_hits"))
      .orderBy(col("train_id"))
  }

  lazy val embedDecontaminateSql: String = s"""
    WITH $augmentedSql,
    ${kmeansChain(SemDedup09K, "aug", SemDedup09Probes)},
    ev AS (
      SELECT vec_id, embedding AS v,
             sqrt(${dotSqlOf("embedding", "embedding")}) AS nrm
      FROM aug
    ), cells AS (
      SELECT e.vec_id, e.v, e.nrm, f.k AS cluster
      FROM ev e JOIN fin f ON e.vec_id = f.vec_id
    ), hits AS (
      SELECT DISTINCT t.vec_id AS train_id, q.vec_id AS eval_id,
             CAST(floor(${"list_reduce(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * q.v[i]), (x, y) -> x + y)"} * 10000.0 / (t.nrm * q.nrm)) AS bigint) AS cos_bp
      FROM cells t JOIN cells q
        ON t.cluster = q.cluster AND t.vec_id < $TwinIdOffset AND q.vec_id >= $TwinIdOffset
      WHERE floor(${"list_reduce(list_transform(range(1, len(t.v) + 1), i -> t.v[i] * q.v[i]), (x, y) -> x + y)"} * 10000.0 / (t.nrm * q.nrm)) >= $SemDedup09CosBp
    )
    SELECT train_id, eval_id, cos_bp, n_eval_hits FROM (
      SELECT train_id, eval_id, cos_bp,
             CAST(count(*) OVER (PARTITION BY train_id) AS bigint) AS n_eval_hits,
             row_number() OVER (PARTITION BY train_id ORDER BY cos_bp DESC, eval_id) AS rn
      FROM hits)
    WHERE rn = 1
    ORDER BY train_id"""

  /** Incremental IVF index maintenance — [[dedupMinhash]]'s `d_minhash_incr`
    * twin for the vector index: a new batch (vec_id ≡ 3 mod 10) is inserted
    * into a PERSISTED index (Lloyd codebooks fit on the base corpus only)
    * by assigning the batch against the FROZEN centroids — O(|batch|·k)
    * map-side work with the centroid table broadcast, the base cell rows
    * untouched; no refit. The readout compares the incrementally-updated
    * index against a FULL rebuild (refit over base+batch): per cell,
    * total/inserted populations and how many of its members the rebuild
    * agrees on — the drift number that tells an operator when accumulated
    * inserts warrant a re-fit (FAISS's add-vs-train distinction). Cluster
    * ids ARE seed vec_ids, so a rebuild whose seed set shifts (the batch
    * holds ids below the old seeds) relabels some cells wholesale —
    * n_rebuild_same measures agreement under the honest id contract, label
    * drift included, exactly what a persisted-index operator sees. All
    * integer-exact, so the oracle replays both trajectories. */
  def annIvfIncr(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.KMeans
    val all = Tables.embeddings(spark, sfDir)
    val base = all.filter(col("vec_id") % 10 =!= 3)
    val batch = all.filter(col("vec_id") % 10 === 3)
    val baseVecs = KMeans.quantize(base)
    // the persisted codebook, on the driver, shared by both assigns
    val cents = KMeans.finalCentroids(baseVecs, base, KmeansK, KmeansIters)
    val baseAsn = KMeans.assignTop(baseVecs, cents, 1)
      .select(col("vec_id"), col("cluster"))
    val batchAsn = KMeans.assignTop(KMeans.quantize(batch), cents, 1)
      .select(col("vec_id"), col("cluster"))
    val merged = baseAsn.unionByName(batchAsn)
    // r13: the full rebuild is the IDENTICAL k/iters Lloyd fit over the
    // whole corpus that [[kmeansFit]] already memoizes for e_kmeans /
    // e_cluster_quality / e_medoids — read the shared fit instead of
    // re-running it per invocation
    val rebuild = kmeansFit(spark, sfDir)
      .select(col("vec_id"), col("cluster").as("rk"))
    merged.join(rebuild, "vec_id")
      .groupBy(col("cluster").as("cell"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("vec_id") % 10 === 3, 1L).otherwise(0L)).as("n_inserted"),
        sum(when(col("rk") === col("cluster"), 1L).otherwise(0L)).as("n_rebuild_same"))
      .orderBy(col("cell"))
  }

  lazy val annIvfIncrSql: String = s"""
    WITH bse AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 3
    ),
    ${kmeansChain(KmeansK, "bse", 1, prefix = "b")},
    bq2 AS (
      SELECT vec_id,
             CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
      FROM embeddings WHERE vec_id % 10 = 3
    ), basn AS (
      SELECT vec_id, k FROM (
        SELECT vec_id, k,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) AS rn
        FROM (SELECT v.vec_id, c.k, CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS dist
              FROM bq2 v JOIN bc$KmeansIters c ON v.pos = c.pos
              GROUP BY v.vec_id, c.k)
      ) WHERE rn = 1
    ), merged AS (
      SELECT vec_id, k FROM bfin UNION ALL SELECT vec_id, k FROM basn
    ),
    ${kmeansChain(KmeansK, "embeddings", 1, prefix = "f")}
    SELECT m.k AS cell,
           CAST(count(*) AS bigint) AS n_total,
           CAST(sum(CASE WHEN m.vec_id % 10 = 3 THEN 1 ELSE 0 END) AS bigint) AS n_inserted,
           CAST(sum(CASE WHEN f.k = m.k THEN 1 ELSE 0 END) AS bigint) AS n_rebuild_same
    FROM merged m JOIN ffin f ON m.vec_id = f.vec_id
    GROUP BY 1
    ORDER BY cell"""

  /** Per-dimension embedding statistics — the index-health check run
    * before building ANN structures (a dead dimension: min == max; a
    * scale-skewed one: outsized range). Values quantized to integer
    * micro-units BEFORE summing (floor(x·10⁶) as long) so the aggregate
    * is order-independent and oracle-exact — the [[labelCentroids]]
    * determinism recipe. posexplode is map-side; one shuffle onto the
    * |dims| key domain with partial aggregation. */
  def dimStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select((col("pos0") + 1).as("pos"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("q")).as("min_micro"), max(col("q")).as("max_micro"),
        sum(col("q")).as("sum_micro"))
      .orderBy(col("pos"))

  val dimStatsSql: String = """
    SELECT pos, count(*) AS n_vecs,
           CAST(min(q) AS bigint) AS min_micro,
           CAST(max(q) AS bigint) AS max_micro,
           CAST(sum(q) AS bigint) AS sum_micro
    FROM (
      SELECT CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
      FROM embeddings
    )
    GROUP BY pos
    ORDER BY pos"""

  /** Exact ROC-AUC per label, one-vs-rest, via the Mann–Whitney rank sum
    * — the eval every retrieval/quality scorer feeding a data pipeline
    * needs. Score = Σ floor(eᵢ·10⁶) per vector (integer-exact in both
    * engines — per-element IEEE double multiply then floor, summed as
    * longs, no order-dependent float accumulation). Tie handling is the
    * textbook average-rank rule kept in integers: a row in a score-group
    * of size n starting at cumulative rank c−n+1 has 2·avgRank =
    * 2c−n+1, so AUC_bp = 10⁴·(Σ2R₊ − p(p+1)) div (2pq). Shuffle posture:
    * one groupBy(score) histogram, one cumulative window over the
    * DISTINCT-score domain (eval-sized by definition; the raw corpus
    * never sorts globally), then a per-label re-agg; the 1-row total is
    * a broadcast. Integer range: 10⁴·Σ2R ≲ 2·10⁴·N² — fine to ~10⁷
    * rows; past that, switch the final ratio to doubles (same plan). */
  def aucLabel(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("long").as("label"),
        aggregate(vec(col("embedding")), lit(0L),
          (acc, x) => acc + floor(x * 1e6).cast("long")).as("score"))
    val byScore = scored.groupBy(col("score")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("score"))))
    val bySL = scored.groupBy(col("score"), col("label")).agg(count(lit(1)).as("cnt"))
    val tot = scored.agg(count(lit(1)).as("n_total"))
    bySL.join(byScore, "score")
      .select(col("label"), col("cnt"),
        (col("cnt") * (lit(2) * col("cum") - col("n") + 1)).as("sum2r"))
      .groupBy(col("label"))
      .agg(sum(col("cnt")).as("n_pos"), sum(col("sum2r")).as("sum_2r"))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("n_pos"), (col("n_total") - col("n_pos")).as("n_neg"),
        expr("(10000 * (sum_2r - n_pos * (n_pos + 1))) div (2 * n_pos * (n_total - n_pos))")
          .as("auc_bp"))
      .orderBy(col("label"))
  }

  val aucLabelSql: String = """
    WITH scored AS (
      SELECT CAST(label AS bigint) AS label,
             CAST(list_sum(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS bigint) AS score
      FROM embeddings
    ), by_score AS (
      SELECT score, count(*) AS n FROM scored GROUP BY score
    ), cum AS (
      SELECT score, n, sum(n) OVER (ORDER BY score) AS cum FROM by_score
    ), by_sl AS (
      SELECT score, label, count(*) AS cnt FROM scored GROUP BY score, label
    ), tot AS (SELECT count(*) AS n_total FROM scored)
    SELECT label, CAST(sum(cnt) AS bigint) AS n_pos,
           CAST(max(n_total) - sum(cnt) AS bigint) AS n_neg,
           CAST((10000 * (sum(cnt * (2 * cum - n + 1)) - sum(cnt) * (sum(cnt) + 1)))
                // (2 * sum(cnt) * (max(n_total) - sum(cnt))) AS bigint) AS auc_bp
    FROM by_sl JOIN cum USING (score) CROSS JOIN tot
    GROUP BY label
    ORDER BY label"""

  /** Vector-norm histogram — the index-health readout that decides
    * between inner-product and cosine retrieval (a wide norm spread
    * makes raw IP rankings length-dominated; near-constant norms make
    * the two equivalent and the cheaper IP safe). Exact integer: squared
    * L2 norm in milli-units² per vector, bucketed by ⌊log₂⌋ (the
    * q_percentiles_approx recipe — mergeable, partial-aggregable), with
    * per-bucket counts and exact min/max. Per-row map + one groupBy on
    * the ≤64-bucket domain. */
  def normHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(aggregate(
        transform(col("embedding"), x =>
          floor(x.cast("double") * 1000).cast("long")),
        lit(0L), (a, q) => a + q * q).as("n2"))
      // ⌊log₂⌋ via binary-string length (the q_percentiles_approx recipe)
      // — float log2 at exact powers of two is engine-dependent
      .select(col("n2"),
        when(col("n2") <= 0, lit(-1L))
          .otherwise((length(conv(col("n2"), 10, 2)) - 1).cast("long")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("n2")).as("min_n2"),
        max(col("n2")).as("max_n2"))
      .orderBy(col("bucket"))

  val normHistogramSql: String = """
    WITH n AS (
      SELECT CAST(list_sum(list_transform(embedding,
               x -> CAST(floor(CAST(x AS double) * 1000) AS BIGINT)
                    * CAST(floor(CAST(x AS double) * 1000) AS BIGINT))) AS bigint) AS n2
      FROM embeddings
    )
    SELECT CASE WHEN n2 <= 0 THEN -1
                ELSE CAST(length(to_base(n2, 2)) - 1 AS bigint) END AS bucket,
           CAST(count(*) AS bigint) AS n_vecs,
           CAST(min(n2) AS bigint) AS min_n2,
           CAST(max(n2) AS bigint) AS max_n2
    FROM n
    GROUP BY 1
    ORDER BY bucket"""

  /** Per-dimension variance audit — the diagonal [[covPairs]] never
    * reports: exact integer variance numerator n·Σq² − (Σq)² per
    * dimension in milli-units (the covPairs quantization, same long
    * bound), plus the zero-variance dead-dim flag. Dead or
    * near-constant dims waste PQ codebook entries and ANN distance
    * budget — this is the drop list. One posexplode + one groupBy on
    * the dim domain. */
  def dimVar(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select((col("pos0") + 1).cast("long").as("pos"),
        floor(col("x").cast("double") * 1000).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("s2"))
      .select(col("pos"), col("n"),
        (col("n") * col("s2") - col("s") * col("s")).as("var_num"),
        (col("n") * col("s2") - col("s") * col("s") === 0L).cast("int").as("dead"))
      .orderBy(col("pos"))

  val dimVarSql: String = """
    SELECT pos, CAST(count(*) AS bigint) AS n,
           CAST(count(*) * sum(q * q) - sum(q) * sum(q) AS bigint) AS var_num,
           CAST(count(*) * sum(q * q) - sum(q) * sum(q) = 0 AS int) AS dead
    FROM (
      SELECT CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS double) * 1000) AS BIGINT))) AS q
      FROM embeddings
    )
    GROUP BY pos
    ORDER BY pos"""

  /** Embedding drift monitor — per-dimension mean shift between two
    * deterministic halves of the corpus (even vs odd vec_id — in
    * production the split key is ingestion day/batch): the cheap canary
    * that catches upstream encoder or feature-pipeline changes before
    * they silently rot an ANN index built on the old distribution. Means
    * in exact integer micro-units (the dimStats recipe: quantize BEFORE
    * summing, floor-div per half), shift = mean_a − mean_b. One
    * posexplode + one groupBy on the (pos, half) domain. */
  def embedDrift(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select((col("vec_id") % 2).as("half"), posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("half"), (col("pos0") + 1).cast("long").as("pos"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q"))
      .groupBy(col("pos"))
      // floor(sum·1.0/n), the k-means centroid recipe: the centroid
      // convention is MATHEMATICAL floor, while Scala Long `/`, Spark
      // `div` and DuckDB `//` all truncate toward zero (−7/2 = −3 in all
      // three; the `q_div_contract` oracle row pins this so a DuckDB
      // semantics change is caught) — on the negative sums embeddings
      // produce, raw integer division would round the wrong way
      .agg(
        floor(sum(when(col("half") === 0, col("q")).otherwise(0L)) * 1.0 /
          sum(when(col("half") === 0, 1L).otherwise(0L))).cast("long").as("mean_a_micro"),
        floor(sum(when(col("half") === 1, col("q")).otherwise(0L)) * 1.0 /
          sum(when(col("half") === 1, 1L).otherwise(0L))).cast("long").as("mean_b_micro"))
      .withColumn("shift_micro", col("mean_a_micro") - col("mean_b_micro"))
      .orderBy(col("pos"))

  val embedDriftSql: String = """
    WITH agg AS (
      SELECT pos,
             CAST(floor(sum(CASE WHEN half = 0 THEN q ELSE 0 END) * 1.0
                  / sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)) AS bigint) AS mean_a_micro,
             CAST(floor(sum(CASE WHEN half = 1 THEN q ELSE 0 END) * 1.0
                  / sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)) AS bigint) AS mean_b_micro
      FROM (
      SELECT vec_id % 2 AS half,
             CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding,
               x -> CAST(floor(CAST(x AS double) * 1000000) AS BIGINT))) AS q
      FROM embeddings
      )
      GROUP BY pos
    )
    SELECT pos, mean_a_micro, mean_b_micro,
           mean_a_micro - mean_b_micro AS shift_micro
    FROM agg
    ORDER BY pos"""

  /** Reciprocal-rank fusion of two retrieval rankings (Cormack et al.'s
    * RRF, the hybrid-search default in every vector DB): the exact-cosine
    * top-5 and the PQ-ADC top-5 fuse per query by score(c) =
    * Σ_lists 10⁶ div (60 + rank_list(c)) — rank-only fusion, so the two
    * lists' incomparable score scales (cosine bp vs ADC distance) never
    * need calibration, and a candidate surfaced by BOTH views outranks
    * either view's solo picks. Integer div keeps it oracle-exact.
    * Shape: both inputs are existing top-5 plans (≤ 5·|queries| rows
    * each); the fusion is one union + one groupBy + one rank window on
    * the query domain — free at any corpus size. */
  def rankFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val a = annBruteForce(spark, sfDir).select(col("q_id"), col("cand_id"), col("rnk"))
    val b = annPq(spark, sfDir).select(col("q_id"), col("cand_id"), col("rnk"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("cand_id"))
    a.union(b)
      .groupBy(col("q_id"), col("cand_id"))
      .agg(sum(expr("1000000 div (60 + rnk)")).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("frnk", rank().over(w))
      .filter(col("frnk") <= 5)
      .orderBy(col("q_id"), col("frnk"), col("cand_id"))
  }

  lazy val rankFusionSql: String = s"""
    WITH la AS ($annBruteForceSql), lb AS ($annPqSql),
    u AS (
      SELECT q_id, cand_id, rnk FROM la
      UNION ALL SELECT q_id, cand_id, rnk FROM lb
    ), s AS (
      SELECT q_id, cand_id,
             CAST(sum(1000000 // (60 + rnk)) AS bigint) AS rrf,
             CAST(count(*) AS bigint) AS n_lists
      FROM u GROUP BY 1, 2
    )
    SELECT q_id, cand_id, rrf, n_lists, frnk FROM (
      SELECT q_id, cand_id, rrf, n_lists,
             rank() OVER (PARTITION BY q_id ORDER BY rrf DESC, cand_id) AS frnk
      FROM s
    ) WHERE frnk <= 5
    ORDER BY q_id, frnk, cand_id"""

  /** Edit-distance verification of the MinHash candidate pairs — the
    * final stage of the classic fuzzy-dedup cascade (cheap sketch →
    * candidate pairs → exact-ish verify on the SURVIVORS only): each
    * banded-LSH pair gets a Levenshtein similarity over the first 500
    * chars, sim_bp = ⌊(m − lev)·10⁴ / m⌋ with m = the longer prefix, and
    * a dup verdict at ≥ 0.8. The O(len²) edit DP runs |candidates| times
    * — never corpus-quadratic, which is the whole point of the cascade —
    * and the 500-char cap bounds the worst case per pair (both engines
    * truncate identically, so the oracle is exact). Shape: the small
    * pair table joins the corpus twice on doc_id (at scale: batched
    * point lookups against the primary store). */
  def editVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), substring(col("text"), 1, 500).as("t"))
    minhashPairs(spark, sfDir)
      .join(docs.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("m"))
      .select(col("doc_a"), col("doc_b"), col("lev"),
        floor((col("m") - col("lev")) * 10000.0 / col("m")).cast("long").as("sim_bp"))
      .withColumn("dup", (col("sim_bp") >= 8000).cast("int"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val editVerifySql: String = s"""
    WITH cand AS ($dedupMinhashSql),
    d AS (SELECT doc_id, substr(text, 1, 500) AS t FROM documents),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(a.t, b.t) AS bigint) AS lev,
             CAST(greatest(length(a.t), length(b.t)) AS bigint) AS m
      FROM cand c
      JOIN d a ON c.doc_a = a.doc_id
      JOIN d b ON c.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, lev,
           CAST(floor((m - lev) * 10000.0 / m) AS bigint) AS sim_bp,
           CAST(floor((m - lev) * 10000.0 / m) >= 8000 AS int) AS dup
    FROM scored
    ORDER BY doc_a, doc_b"""

  /** Winnowing-fingerprint candidate quality vs exact Jaccard — the
    * [[minhashRecall]] twin for the winnowed (1/w-compressed) index:
    * prices exactly what the 4× join-input cut costs in recall and what
    * the containment scoring admits in precision, over the same exact
    * ground truth as the minhash/simhash evals. */
  def winnowEval(spark: SparkSession, sfDir: String): DataFrame =
    sketchEval(spark, sfDir, TextQueries.winnowPairs(spark, sfDir))

  val winnowEvalSql: String = sketchEvalSql(TextQueries.winnowSql)

  /** IVF cell-balance audit — the index-health readout behind every IVF
    * deployment decision (FAISS's "imbalance factor"): per-cell
    * populations with corpus share and load factor (10⁴ = perfectly
    * balanced; a cell at 5·10⁴ serves 5× the scan work its probe share
    * predicts). Probing nprobe/ncells of the cells only bounds the scan
    * fraction if cells are near-balanced — this query turns that
    * assumption into a tracked number, the same way `e_ann_recall`
    * tracks sketch quality. Shape: one groupBy on the 16-cell domain
    * over the assignment table; the 1-row total re-enters broadcast. */
  def ivfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (cellOf, _) = ivfParts(spark, sfDir)
    val counts = cellOf.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        floor(col("n_vecs") * 10000.0 / col("n_total")).cast("long").as("share_bp"),
        floor(col("n_vecs") * col("n_cells") * 10000.0 / col("n_total"))
          .cast("long").as("load_bp"))
      .orderBy(col("cell"))
  }

  lazy val ivfBalanceSql: String = s"""
    WITH $ivfCellCtes, counts AS (
      SELECT cell, CAST(count(*) AS bigint) AS n_vecs FROM cellof GROUP BY cell
    ), tot AS (
      SELECT CAST(sum(n_vecs) AS bigint) AS n_total,
             CAST(count(*) AS bigint) AS n_cells
      FROM counts
    )
    SELECT cell, n_vecs,
           CAST(floor(n_vecs * 10000.0 / n_total) AS bigint) AS share_bp,
           CAST(floor(n_vecs * n_cells * 10000.0 / n_total) AS bigint) AS load_bp
    FROM counts CROSS JOIN tot
    ORDER BY cell"""

  /** Load-factor bound (bp of fair share) above which [[ivfRebalance]]
    * splits a cell. Real deployments bound at 2–5× fair share; the
    * synthetic near-uniform corpus tops out ≈ 1.35×, so the default sits
    * below that — the operator must actually split (and be oracle-
    * checked splitting) at every harness SF, not no-op until production
    * data arrives. The predicate is scale-invariant pure-integer
    * cross-multiplication (pop·ncells·10⁴ > bound·n), no floats. */
  val IvfSplitLoadBp = 11000L

  /** Lloyd updates per split (k′=2 inside one hot cell converges in very
    * few iterations; one update can leave a lopsided cut when the two
    * seed ids happen to be close — two measured enough to bring every
    * post-split load under [[IvfSplitLoadBp]] on the harness corpus). */
  val IvfSplitLloydIters = 3

  /** Per-cell IVF re-balance — the index-maintenance operator
    * [[ivfBalance]]'s readout calls for: every cell above
    * [[IvfSplitLoadBp]] of fair share is split in two with the
    * [[graft.operators.KMeans]] recipe at k′=2 (seeds = the cell's two
    * smallest vec_ids, [[IvfSplitLloydIters]] integer-exact Lloyd
    * updates refining the split direction), closed by a BALANCED median
    * cut on the sub-centroid cosine margin — the balanced-k-means
    * capacity step, because free Lloyd assignment only TENDS toward
    * even halves while the guarantee is the point (details at the cut
    * below). Ties → smaller sub-seed / smaller vec_id everywhere, so
    * DuckDB replays the split bit-for-bit. The index is re-emitted with
    * fresh collision-free cell ids (max(cell)+1 + 2·hot_rank + sub).
    * Hot cells are where the nprobe/ncells scan-fraction guarantee
    * quietly dies at 100 TB — probing a 5×-loaded cell scans 5× the
    * promised fraction. Scale shape: the split only touches hot-cell
    * members; seeds come from the bounded [[graft.operators.TopK]]
    * aggregator (never a corpus window sort), the Lloyd update is one
    * map-side-combinable groupBy on (cell, sub, pos) with exact bigint
    * sums, assignment margins are broadcast joins against a ≤2·|hot|
    * sub-centroid table, and the one per-cell sort (the median cut) is
    * keyed by cell — hot-cell members only. Output: one row per FINAL
    * cell (cell, parent_cell, was_split, n_vecs). */
  def ivfRebalance(spark: SparkSession, sfDir: String): DataFrame =
    ivfRebalanceCore(spark, sfDir).orderBy(col("cell"))

  /** [[ivfRebalance]]'s final cell table, memoized — r12:
    * `e_ivf_rebalance_eval` re-ran the whole split/Lloyd/median-cut chain
    * `e_ivf_rebalance` had just built (4.5 s each at sf0.1); the
    * ChainMemo shares one build per session. */
  private val ivfRebalanceMemo = new graft.operators.ChainMemo[DataFrame]()
  private def ivfRebalanceCore(spark: SparkSession, sfDir: String): DataFrame =
    ivfRebalanceMemo.getOrBuild(spark, sfDir) {
      ivfRebalanceBuild(spark, sfDir).localCheckpoint(false)
    }
  private def ivfRebalanceBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val (cellOf, _) = ivfParts(spark, sfDir)
    val cellOfC = cellOf.localCheckpoint(false) // counts + members + final
    val counts = cellOfC.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .localCheckpoint(false)
    val tot = counts.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"), (max(col("cell")) + 1).as("id_base"))
    val wHot = Window.orderBy(col("cell"))
    val hot = counts.crossJoin(broadcast(tot))
      .filter(col("n_vecs") * col("n_cells") * 10000 >
        lit(IvfSplitLoadBp) * col("n_total"))
      .withColumn("hrnk", row_number().over(wHot))
      .select(col("cell"), col("hrnk"), col("id_base"))
      .localCheckpoint(false) // tiny (≤ ncells rows); wHot's global window
                              // sort is over this same bounded domain
    val members = cellOfC.join(broadcast(hot), "cell")
    // k'=2 seeds: the cell's two smallest member ids (the KMeans recipe's
    // deterministic seeding)
    val seeds = graft.operators.TopK.topK(
        members.select(col("cell"), (-col("vec_id")).as("negid"), col("vec_id").as("sid")),
        "cell", "negid", "sid", 2)
      .select(col("cell"), col("rnk").as("srnk"), col("sid"))
    val seedVecs = seeds.join(embs(spark, sfDir), col("sid") === col("vec_id"))
      .select(col("cell"), col("srnk"), col("v").as("sv"), col("nrm").as("sn"))
    // member → (cosine to each sub-centroid), as the MARGIN cos₁ − cos₂
    // (missing sub-centroid rows contribute 0 — identically in the oracle)
    def margin(cents: DataFrame, cv: String, cn: String): DataFrame =
      members.join(broadcast(cents), "cell")
        .select(col("cell"), col("vec_id"),
          (when(col("srnk") === 1, lit(1.0)).otherwise(lit(-1.0))
            * dot(col("v"), col(cv)) / (col("nrm") * col(cn))).as("sc"))
        .groupBy(col("cell"), col("vec_id"))
        .agg(sum(col("sc")).as("mrg"))
    // free Lloyd assignment during refinement: argmax cosine = sign of the
    // margin (tie → sub 1, the smaller id — DuckDB replays the tie)
    def argmaxSub(cents: DataFrame, cv: String, cn: String): DataFrame =
      margin(cents, cv, cn)
        .select(col("cell"), col("vec_id"),
          when(col("mrg") >= 0, lit(1)).otherwise(lit(2)).as("srnk"))
    // integer-exact Lloyd update (the KMeans recipe): per-dim bigint sums
    // per sub-cell, floor-mean back to cosine space
    def update(asg: DataFrame): DataFrame =
      members.join(asg, Seq("cell", "vec_id"))
        .select(col("cell"), col("srnk"),
          posexplode(col("v")).as(Seq("pos0", "x")))
        .select(col("cell"), col("srnk"), (col("pos0") + 1).as("pos"),
          floor(col("x") * 1000000).cast("long").as("q"))
        .groupBy(col("cell"), col("srnk"), col("pos"))
        .agg(count(lit(1)).as("nn"), sum(col("q")).as("s"))
        .select(col("cell"), col("srnk"), col("pos"),
          floor(col("s") * 1.0 / col("nn")).cast("long").as("c"))
        .groupBy(col("cell"), col("srnk"))
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cell"), col("srnk"),
          expr("transform(pc, x -> CAST(x.c AS double) / 1000000.0)").as("scv"))
        .withColumn("scn", sqrt(dot(col("scv"), col("scv"))))
    // refine the split DIRECTION with IvfSplitLloydIters Lloyd rounds…
    var asg = argmaxSub(seedVecs, "sv", "sn")
    var cents: DataFrame = null
    for (i <- 1 to IvfSplitLloydIters) {
      cents = update(asg)
      if (i < IvfSplitLloydIters) asg = argmaxSub(cents, "scv", "scn")
    }
    // …then make the FINAL assignment a balanced median cut on the margin
    // (the balanced-k-means capacity step): free Lloyd assignment only
    // TENDS toward even halves — on near-uniform high-dim data it can
    // converge to a 37/5 local optimum that stays over the load bound
    // (measured at sf0.001) — while ranking each cell's members by margin
    // and cutting at ⌈pop/2⌉ GUARANTEES both halves, hence max_load ≤
    // bound whenever the hot cell was ≤ 2× fair share. The per-cell sort
    // is over hot-cell members only (the window key is the cell id).
    val wCut = Window.partitionBy(col("cell")).orderBy(col("mrg").desc, col("vec_id"))
    val asgFinal = margin(cents, "scv", "scn")
      .withColumn("crn", row_number().over(wCut))
      .join(broadcast(counts), "cell")
      .select(col("cell"), col("vec_id"),
        when(col("crn") <= expr("(n_vecs + 1) div 2"), lit(1)).otherwise(lit(2))
          .as("srnk"))
    val splitCells = asgFinal.join(broadcast(hot), "cell")
      .groupBy(col("cell"), col("hrnk"), col("id_base"), col("srnk"))
      .agg(count(lit(1)).as("n_vecs"))
      .select(
        (col("id_base") + (col("hrnk") - 1) * 2 + (col("srnk") - 1)).as("cell"),
        col("cell").as("parent_cell"), lit(true).as("was_split"), col("n_vecs"))
    val keptCells = counts.join(hot.select(col("cell")), Seq("cell"), "left_anti")
      .select(col("cell"), col("cell").as("parent_cell"),
        lit(false).as("was_split"), col("n_vecs"))
    keptCells.union(splitCells)
  }

  /** Shared CTE chain: cellof → counts/tot/hot → k′=2 seed split → one
    * integer Lloyd update → re-assignment → `finalcells`. */
  private lazy val ivfRebalanceCtes: String = {
    val dotMS = "list_reduce(list_transform(range(1, len(m.v) + 1), i -> CAST(m.v[i] AS double) * CAST(s.sv[i] AS double)), (x, y) -> x + y)"
    val dotMC = "list_reduce(list_transform(range(1, len(m.v) + 1), i -> CAST(m.v[i] AS double) * CAST(s.scv[i] AS double)), (x, y) -> x + y)"
    val dotCC = "list_reduce(list_transform(range(1, len(scv) + 1), i -> scv[i] * scv[i]), (x, y) -> x + y)"
    // IvfSplitLloydIters unrolled update rounds; free (sign-of-margin)
    // re-assignment between rounds, the final round's margin feeds the
    // balanced cut instead
    val lloyd = (1 to IvfSplitLloydIters).map { i =>
      val asgCte = if (i < IvfSplitLloydIters) s""", asg$i AS (
      SELECT cell, vec_id,
             CASE WHEN mrg >= 0 THEN 1 ELSE 2 END AS srnk
      FROM mrg$i
    )""" else ""
      s"""qd$i AS (
      SELECT a.cell, a.srnk,
             CAST(unnest(range(1, len(m.v) + 1)) AS bigint) AS pos,
             unnest(list_transform(m.v, x ->
               CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
      FROM members m
      JOIN asg${i - 1} a ON m.cell = a.cell AND m.vec_id = a.vec_id
    ), subc$i AS (
      SELECT cell, srnk,
             list(CAST(c AS double) / 1000000.0 ORDER BY pos) AS scv
      FROM (
        SELECT cell, srnk, pos,
               CAST(floor(CAST(sum(q) AS double) * 1.0 / count(*)) AS bigint) AS c
        FROM qd$i GROUP BY cell, srnk, pos
      ) GROUP BY cell, srnk
    ), subcn$i AS (
      SELECT cell, srnk, scv, sqrt($dotCC) AS scn FROM subc$i
    ), mrg$i AS (
      SELECT m.cell, m.vec_id,
             sum((CASE WHEN s.srnk = 1 THEN 1.0 ELSE -1.0 END)
                 * $dotMC / (m.nrm * s.scn)) AS mrg
      FROM members m JOIN subcn$i s ON m.cell = s.cell
      GROUP BY m.cell, m.vec_id
    )$asgCte"""
    }.mkString(", ")
    s"""$ivfCellCtes, counts AS (
      SELECT cell, CAST(count(*) AS bigint) AS n_vecs FROM cellof GROUP BY cell
    ), tot AS (
      SELECT CAST(sum(n_vecs) AS bigint) AS n_total,
             CAST(count(*) AS bigint) AS n_cells,
             CAST(max(cell) + 1 AS bigint) AS id_base
      FROM counts
    ), hot AS (
      SELECT cell, row_number() OVER (ORDER BY cell) AS hrnk, id_base
      FROM counts CROSS JOIN tot
      WHERE n_vecs * n_cells * 10000 > $IvfSplitLoadBp * n_total
    ), members AS (
      SELECT t.vec_id, t.v, t.nrm, t.cell FROM cellof t JOIN hot h ON t.cell = h.cell
    ), seeds AS (
      SELECT cell, srnk, sid FROM (
        SELECT cell, vec_id AS sid,
               row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS srnk
        FROM members
      ) WHERE srnk <= 2
    ), seedvecs AS (
      SELECT s.cell, s.srnk, e.v AS sv, e.nrm AS sn
      FROM seeds s JOIN e ON e.vec_id = s.sid
    ), mrg0 AS (
      SELECT m.cell, m.vec_id,
             sum((CASE WHEN s.srnk = 1 THEN 1.0 ELSE -1.0 END)
                 * $dotMS / (m.nrm * s.sn)) AS mrg
      FROM members m JOIN seedvecs s ON m.cell = s.cell
      GROUP BY m.cell, m.vec_id
    ), asg0 AS (
      SELECT cell, vec_id,
             CASE WHEN mrg >= 0 THEN 1 ELSE 2 END AS srnk
      FROM mrg0
    ), $lloyd, asgfin AS (
      SELECT r.cell, r.vec_id,
             CASE WHEN r.crn <= (c.n_vecs + 1) // 2 THEN 1 ELSE 2 END AS srnk
      FROM (
        SELECT cell, vec_id,
               row_number() OVER (PARTITION BY cell
                 ORDER BY mrg DESC, vec_id) AS crn
        FROM mrg$IvfSplitLloydIters
      ) r JOIN counts c ON r.cell = c.cell
    ), finalcells AS (
      SELECT c.cell, c.cell AS parent_cell, FALSE AS was_split, c.n_vecs
      FROM counts c WHERE c.cell NOT IN (SELECT cell FROM hot)
      UNION ALL
      SELECT CAST(h.id_base + 2 * (h.hrnk - 1) + (a.srnk - 1) AS bigint) AS cell,
             a.cell AS parent_cell, TRUE AS was_split,
             CAST(count(*) AS bigint) AS n_vecs
      FROM asgfin a JOIN hot h ON a.cell = h.cell
      GROUP BY h.id_base, h.hrnk, a.srnk, a.cell
    )"""
  }

  lazy val ivfRebalanceSql: String = s"""
    WITH $ivfRebalanceCtes
    SELECT cell, parent_cell, was_split, n_vecs FROM finalcells
    ORDER BY cell"""

  /** Before/after balance audit for [[ivfRebalance]]: max population and
    * max load factor (both phases normalized by the PRE-split fair share
    * n_total/n_cells — the scan-fraction denominator the probe budget
    * was sized against), plus conservation-checkable totals. */
  def ivfRebalanceEval(spark: SparkSession, sfDir: String): DataFrame = {
    val before = ivfBalance(spark, sfDir)
      .agg(count(lit(1)).as("n_cells"), sum(col("n_vecs")).as("n_total"),
        max(col("n_vecs")).as("max_pop"))
    val nc = before.select(col("n_cells"), col("n_total"))
    val after = ivfRebalance(spark, sfDir)
      .agg(count(lit(1)).as("n_cells_a"), sum(col("n_vecs")).as("n_total_a"),
        max(col("n_vecs")).as("max_pop_a"))
      .crossJoin(broadcast(nc))
      .select(lit("after").as("phase"), col("n_cells_a").as("n_cells"),
        col("n_total_a").as("n_total"), col("max_pop_a").as("max_pop"),
        floor(col("max_pop_a") * col("n_cells") * 10000.0 / col("n_total"))
          .cast("long").as("max_load_bp"))
    before
      .select(lit("before").as("phase"), col("n_cells"), col("n_total"),
        col("max_pop"),
        floor(col("max_pop") * col("n_cells") * 10000.0 / col("n_total"))
          .cast("long").as("max_load_bp"))
      .union(after)
      .orderBy(col("phase"))
  }

  lazy val ivfRebalanceEvalSql: String = s"""
    WITH $ivfRebalanceCtes
    SELECT * FROM (
      SELECT 'before' AS phase, n_cells,
             n_total, CAST(max(n_vecs) AS bigint) AS max_pop,
             CAST(floor(max(n_vecs) * n_cells * 10000.0 / n_total) AS bigint)
               AS max_load_bp
      FROM counts CROSS JOIN tot GROUP BY n_cells, n_total
      UNION ALL
      SELECT 'after' AS phase, CAST(count(*) AS bigint) AS n_cells,
             CAST(sum(n_vecs) AS bigint) AS n_total,
             CAST(max(n_vecs) AS bigint) AS max_pop,
             CAST(floor(max(n_vecs) * any_value(t.n_cells) * 10000.0
                  / any_value(t.n_total)) AS bigint) AS max_load_bp
      FROM finalcells CROSS JOIN tot t
    ) ORDER BY phase"""

  /** Top dimension-covariance pairs over the leading 16 embedding dims —
    * the redundancy audit run before PQ subspace splits or dimension
    * truncation (two strongly covarying dims carry one dim of signal;
    * PQ groups want them in the SAME subspace, truncation wants one of
    * them dropped). Integer-exact: values quantized to milli-units
    * (floor(x·10³), the dimStats recipe) so cov_num = n·Σab − Σa·Σb is
    * order-independent long arithmetic (bound: |cov_num| ≤ n²·10⁸ →
    * exact to n ≈ 3·10⁵ vectors; at larger n the same plan runs in
    * centi-units). Shape: the d²/2 = 120 pair products expand MAP-SIDE
    * per row and collapse to the 120-key domain in the partial agg —
    * the corpus never self-joins (the oracle's vec_id join is the
    * SQL-only mirror); per-dim sums ride a 16-row broadcast. */
  def covPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val D = 16
    val base = Tables.embeddings(spark, sfDir)
      .select(transform(slice(col("embedding"), 1, D),
        x => floor(x.cast("double") * 1000).cast("long")).as("q"))
      .localCheckpoint(false) // feeds the pair agg AND the per-dim sums
    val pairAgg = base
      .select(explode(flatten(transform(col("q"), (x, i) =>
        transform(slice(col("q"), i + 2, lit(D)), (y, j) =>
          struct((i + 1).cast("long").as("pos_a"),
            (i + j + 2).cast("long").as("pos_b"), (x * y).as("xy")))))).as("c"))
      .groupBy(col("c.pos_a").as("pos_a"), col("c.pos_b").as("pos_b"))
      .agg(count(lit(1)).as("n"), sum(col("c.xy")).as("sum_ab"))
    val dims = base.select(posexplode(col("q")).as(Seq("p0", "v")))
      .groupBy((col("p0") + 1).cast("long").as("pos")).agg(sum(col("v")).as("s"))
    pairAgg
      .join(broadcast(dims.select(col("pos").as("pos_a"), col("s").as("sa"))), "pos_a")
      .join(broadcast(dims.select(col("pos").as("pos_b"), col("s").as("sb"))), "pos_b")
      .select(col("pos_a"), col("pos_b"), col("n"), col("sum_ab"),
        (col("n") * col("sum_ab") - col("sa") * col("sb")).as("cov_num"))
      .orderBy(abs(col("cov_num")).desc, col("pos_a"), col("pos_b"))
      .limit(20)
  }

  val covPairsSql: String = """
    WITH q AS (
      -- range capped at len(embedding): zipping a fixed range(1,17)
      -- against embedding[1:16] would pad NULL v rows on a <16-dim
      -- vector while the Spark slice just produces fewer positions
      SELECT vec_id,
             CAST(unnest(range(1, least(len(embedding), 16) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding[1:16],
               x -> CAST(floor(CAST(x AS double) * 1000) AS BIGINT))) AS v
      FROM embeddings
    ), pair AS (
      SELECT a.pos AS pos_a, b.pos AS pos_b,
             CAST(count(*) AS bigint) AS n, CAST(sum(a.v * b.v) AS bigint) AS sum_ab
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.pos < b.pos
      GROUP BY 1, 2
    ), d AS (
      SELECT pos, CAST(sum(v) AS bigint) AS s FROM q GROUP BY pos
    )
    SELECT pos_a, pos_b, n, sum_ab,
           n * sum_ab - da.s * db.s AS cov_num
    FROM pair JOIN d da ON pair.pos_a = da.pos JOIN d db ON pair.pos_b = db.pos
    ORDER BY abs(n * sum_ab - da.s * db.s) DESC, pos_a, pos_b
    LIMIT 20"""

  /** Fixed JL target dimension (64 → 16) and the deterministic audit
    * sample size (md5-ordered TakeOrdered, so the sample is the SAME 32
    * vectors at any corpus size — pairs stay 496, never corpus²). */
  private val RpOutDims = 16
  private val RpSampleN = 32

  /** Deterministic md5-smallest sample of micro-quantized vectors — the
    * shared input of both RP queries. 32 rows, localCheckpointed so the
    * TakeOrdered scan runs once, not once per consumer branch. */
  private def rpSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("q"),
        conv(substring(md5(concat(lit("rps_"), col("vec_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(RpSampleN)
      .select(col("vec_id"), col("q"))
      .localCheckpoint(false)

  /** The ±1 sign matrix S (64 in-dims × 16 out-dims), entry (i,j) drawn
    * from one md5 hex digit — bit-identical in both engines, so the
    * "random" projection is a pure function both can replay. */
  private def rpSigns(spark: SparkSession): DataFrame =
    spark.range(64).toDF("i")
      .select(col("i"), explode(sequence(lit(0), lit(RpOutDims - 1))).as("j"))
      .withColumn("s", lit(1L) - lit(2L) *
        (conv(substring(md5(concat(lit("rp_"), col("i").cast("string"),
          lit("_"), col("j").cast("string"))), 1, 1), 16, 10).cast("long") % 2))

  private val rpSignExprSql =
    "1 - 2 * (CAST('0x' || substr(md5('rp_' || CAST(i AS varchar) || '_' || CAST(j AS varchar)), 1, 1) AS bigint) % 2)"

  private val rpSampleCte = s"""smp AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint)) AS q
      FROM embeddings
      ORDER BY CAST('0x' || substr(md5('rps_' || CAST(vec_id AS varchar)), 1, 15) AS bigint),
               vec_id
      LIMIT $RpSampleN
    ), dim AS (
      SELECT vec_id, CAST(unnest(range(0, len(q))) AS bigint) AS i, unnest(q) AS qi
      FROM smp
    ), sgn AS (
      SELECT CAST(i AS bigint) AS i, CAST(j AS bigint) AS j, $rpSignExprSql AS s
      FROM range(64) t1(i) CROSS JOIN range($RpOutDims) t2(j)
    ), proj AS (
      SELECT d.vec_id, g.j, CAST(sum(g.s * d.qi) AS bigint) AS y
      FROM dim d JOIN sgn g ON d.i = g.i
      GROUP BY d.vec_id, g.j
    )"""

  /** Sign-random-projection (the database-friendly Johnson–Lindenstrauss
    * transform, Achlioptas 2003): y = Sᵀq maps 64 micro-quantized dims to
    * [[RpOutDims]] with ±1 entries — integer-exact, so the oracle replays
    * every coordinate. Emitted over the deterministic 32-vector audit
    * sample (bounded output; the map itself is a per-row transform at any
    * scale: explode → broadcast sign join → (vec, j) partial agg, one
    * shuffle of 16 rows per vector). */
  def rpProject(spark: SparkSession, sfDir: String): DataFrame =
    rpSample(spark, sfDir)
      .select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "qi")))
      .join(broadcast(rpSigns(spark)), col("i0") === col("i"))
      .groupBy(col("vec_id"), col("j").cast("long").as("j"))
      .agg(sum(col("s") * col("qi")).as("y"))
      .orderBy(col("vec_id"), col("j"))

  val rpProjectSql: String = s"""
    WITH $rpSampleCte
    SELECT vec_id, j, y FROM proj ORDER BY vec_id, j"""

  /** Prices the projection: exact squared L2 in 64-d vs projected squared
    * L2 over the 496 sample pairs. With ±1 signs E[d²_proj] = k·d²_exact,
    * so ratio_bp = d²_proj·(10⁴/k) div d²_exact concentrates at 10000 —
    * the JL guarantee made an oracle-checked measurement (same pricing
    * posture as e_pq_distortion). 625 = 10⁴/16 keeps the numerator
    * ≤ ~2.6·10¹⁸ even for adversarial sign alignment (unit-norm micro
    * vectors: d²_proj ≤ (8‖q‖)²·16 ≈ 4·10¹⁵); ANSI mode would make an
    * overflow loud, never silently wrong. */
  def rpDistortion(spark: SparkSession, sfDir: String): DataFrame = {
    val sample = rpSample(spark, sfDir)
    val proj = sample
      .select(col("vec_id"), posexplode(col("q")).as(Seq("i0", "qi")))
      .join(broadcast(rpSigns(spark)), col("i0") === col("i"))
      .groupBy(col("vec_id"), col("j")).agg(sum(col("s") * col("qi")).as("y"))
    val dProj = proj.select(col("vec_id").as("a"), col("j"), col("y").as("ya"))
      .join(proj.select(col("vec_id").as("b"), col("j"), col("y").as("yb")), Seq("j"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("ya") - col("yb")) * (col("ya") - col("yb"))).as("d2_proj"))
    val dims = sample.select(col("vec_id"), posexplode(col("q")).as(Seq("i", "qi")))
    val dExact = dims.select(col("vec_id").as("a"), col("i"), col("qi").as("qa"))
      .join(dims.select(col("vec_id").as("b"), col("i"), col("qi").as("qb")), Seq("i"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum((col("qa") - col("qb")) * (col("qa") - col("qb"))).as("d2_exact"))
    dProj.join(dExact, Seq("a", "b"))
      .select(col("a"), col("b"), col("d2_exact"), col("d2_proj"),
        when(col("d2_exact") === 0, lit(null).cast("long"))
          .otherwise(expr(s"d2_proj * ${10000 / RpOutDims} div d2_exact")).as("ratio_bp"))
      .orderBy(col("a"), col("b"))
  }

  val rpDistortionSql: String = s"""
    WITH $rpSampleCte, dp AS (
      SELECT pa.vec_id AS a, pb.vec_id AS b,
             CAST(sum((pa.y - pb.y) * (pa.y - pb.y)) AS bigint) AS d2_proj
      FROM proj pa JOIN proj pb ON pa.j = pb.j AND pa.vec_id < pb.vec_id
      GROUP BY 1, 2
    ), de AS (
      SELECT da.vec_id AS a, db.vec_id AS b,
             CAST(sum((da.qi - db.qi) * (da.qi - db.qi)) AS bigint) AS d2_exact
      FROM dim da JOIN dim db ON da.i = db.i AND da.vec_id < db.vec_id
      GROUP BY 1, 2
    )
    SELECT dp.a, dp.b, d2_exact, d2_proj,
           CASE WHEN d2_exact = 0 THEN NULL
                ELSE d2_proj * ${10000 / RpOutDims} // d2_exact END AS ratio_bp
    FROM dp JOIN de ON dp.a = de.a AND dp.b = de.b
    ORDER BY dp.a, dp.b"""

  // ------------------------------------------------------------ PCA (power)

  private val PcaDim = 64
  private val PcaQScale = 16384L   // 2^14 per-dim quantization
  private val PcaWScale = 1L << 20 // iterate renormalization target
  private val PcaIters = 8

  /** Quantized embeddings (vec_id, vq: array<long>) at [[PcaQScale]] —
    * exact integers, so the Gram pass sums in any order. */
  private[queries] def pcaQuant(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * PcaQScale).cast("long")).as("vq"))

  /** The distributed Gram pass: G[i][j] = Σ_vec vq_i·vq_j as one
    * map-side-combined aggregation — 64 exploded rows per vector, 64 sum
    * columns per row, partial-aggregated to ≤64 rows per scan partition
    * before the shuffle. The ONLY corpus-sized stage of the PCA family;
    * its output is O(d²) model state. */
  private[queries] def pcaGram(quant: DataFrame): DataFrame = {
    val sums = (0 until PcaDim).map(j =>
      sum(col("vqi") * element_at(col("vq"), j + 1)).as(s"g$j"))
    quant.select(col("vq"), posexplode(col("vq")).as(Seq("i", "vqi")))
      .groupBy(col("i"))
      .agg(sums.head, sums.tail: _*)
  }

  /** Collect the 64×64 Gram (32 KB of model state — the KMeans-centroid
    * collect posture, never corpus data) and run [[PcaIters]] integer
    * power-iteration rounds: y = Gq·w, then renormalize w = y ÷
    * max(1, max|y| ÷ 2²⁰), all in TRUNCATING division (Scala Long `/`,
    * Spark `div` and DuckDB `//` agree on negatives), so the oracle
    * replays the identical trajectory through 8 unrolled CTE rounds. */
  private def pcaDirection(spark: SparkSession, sfDir: String,
                           quant: DataFrame): Array[Long] =
    pcaIterate(pcaGramQ(quant))

  /** Collect + rescale the Gram to the iteration's working scale. */
  private def pcaGramQ(quant: DataFrame): Array[Array[Long]] = {
    val rows = pcaGram(quant).collect()
    val g = Array.ofDim[Long](PcaDim, PcaDim)
    rows.foreach { r =>
      val i = r.getInt(0)
      (0 until PcaDim).foreach(j => g(i)(j) = r.getLong(j + 1))
    }
    val maxAbs = math.max(1L, g.flatten.map(math.abs).max)
    val gs = math.max(1L, maxAbs / PcaWScale)
    g.map(_.map(_ / gs))
  }

  /** The 8 integer power rounds from the all-ones start. */
  private def pcaIterate(gq: Array[Array[Long]]): Array[Long] = {
    var w = Array.fill(PcaDim)(PcaWScale)
    for (_ <- 1 to PcaIters) {
      val y = Array.tabulate(PcaDim)(i =>
        (0 until PcaDim).map(j => gq(i)(j) * w(j)).sum)
      val ys = math.max(1L, y.map(math.abs).max / PcaWScale)
      w = y.map(_ / ys)
    }
    w
  }

  /** Hotelling deflation in the SAME truncating-integer posture the
    * rounds use, so DuckDB replays it: t = (G·w) div 2²⁰ (≤2²⁷),
    * u = (wᵀ·t) div 2²⁰ (≤2³³), G ← G − outer(t,t) div u — the rank-1
    * removal λ·qqᵀ/|q|² with every quotient truncated; t·t ≤ 2⁵⁴ so
    * nothing overflows a long at the working scales. */
  private def pcaDeflate(gq: Array[Array[Long]], w: Array[Long]): Array[Array[Long]] = {
    val t = Array.tabulate(PcaDim)(i =>
      (0 until PcaDim).map(j => gq(i)(j) * w(j)).sum / PcaWScale)
    val u = math.max(1L, (0 until PcaDim).map(i => w(i) * t(i)).sum / PcaWScale)
    Array.tabulate(PcaDim, PcaDim)((i, j) => gq(i)(j) - t(i) * t(j) / u)
  }

  /** Top [[PcaTopComponents]] principal directions by power iteration +
    * deflation (VERDICT r9 item 4): component 1 is exactly
    * [[pcaPower]]'s direction (same Gram, same rounds); each further
    * component re-runs the 8 rounds on the deflated Gram. Everything
    * after the ONE corpus Gram pass is O(d²) driver-side model math. */
  private[queries] def pcaTopDirections(quant: DataFrame, k: Int): Seq[Array[Long]] = {
    var gq = pcaGramQ(quant)
    (1 to k).map { c =>
      val w = pcaIterate(gq)
      if (c < k) gq = pcaDeflate(gq, w)
      w
    }
  }

  /** Top principal direction of the embedding table by 8-round integer
    * power iteration over the distributed Gram matrix (the Spark-shaped
    * PCA for skinny matrices: ONE corpus pass aggregates G = Σ v·vᵀ with
    * map-side combine, then the iteration runs on O(d²) state — at
    * 100 TB the corpus pass is embarrassingly parallel and nothing else
    * grows with n). Output: (dim, pc1_q) at the 2²⁰ fixed-point scale.
    * Deterministic: exact integer Gram, truncating renormalization, and
    * an all-ones start — DuckDB re-derives every round bit-for-bit. */
  def pcaPower(spark: SparkSession, sfDir: String): DataFrame = {
    val w = pcaDirection(spark, sfDir, pcaQuant(spark, sfDir))
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("dim", "pc1_q").orderBy(col("dim"))
  }

  /** The 8 unrolled power-iteration rounds + Gram CTEs (1-based dim ids
    * i ∈ 1..64), shared by both PCA oracles; every CTE MATERIALIZED
    * ([[materializedCtes]]): each `w<k>` reads `y<k>` directly and through
    * `s<k>`, so inlined rounds re-evaluate exponentially (the `e_pca_var`
    * oracle took ~6 min at sf0.01 that way, 0.3 s materialized). */
  private def pcaCtes: String = {
    val rounds = (1 to PcaIters).map { k =>
      val prev = s"w${k - 1}"
      s"""y$k AS (
      SELECT gq.i, CAST(sum(gq.gq * $prev.w) AS bigint) AS y
      FROM gq JOIN $prev ON gq.j = $prev.i GROUP BY gq.i
    ), s$k AS (SELECT greatest(1, max(abs(y)) // $PcaWScale) AS s FROM y$k),
    w$k AS (SELECT i, y // s AS w FROM y$k, s$k)"""
    }.mkString(",\n    ")
    materializedCtes(s"""emb AS (
      SELECT vec_id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS double) * $PcaQScale) AS bigint)) AS vq
      FROM embeddings
    ), idx AS (SELECT CAST(range AS int) AS i FROM range(1, ${PcaDim + 1})),
    cells AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(vq[a.i] * vq[b.i]) AS bigint) AS g
      FROM emb CROSS JOIN idx a CROSS JOIN idx b GROUP BY 1, 2
    ), gs AS (SELECT greatest(1, max(abs(g)) // $PcaWScale) AS s FROM cells),
    gq AS (SELECT i, j, g // s AS gq FROM cells, gs),
    w0 AS (SELECT i, CAST($PcaWScale AS bigint) AS w FROM idx),
    $rounds""")
  }

  val pcaPowerSql: String = s"""
    WITH $pcaCtes
    SELECT CAST(i - 1 AS bigint) AS dim, w AS pc1_q
    FROM w$PcaIters
    ORDER BY dim"""

  /** Variance explained by [[pcaPower]]'s direction — the eval that
    * prices the 8-round budget: project every vector onto w (one more
    * corpus pass, p = ⟨vq, w⟩ ÷ 2²⁰ per vector), then
    * explained ≈ Σp²·2⁴⁰·10⁴ / (|w|²·Σ|vq|²) in bp. The two corpus
    * passes (Gram, projection) share one checkpointed quantized table;
    * everything else is O(d²). */
  def pcaVar(spark: SparkSession, sfDir: String): DataFrame = {
    val quant = pcaQuant(spark, sfDir).localCheckpoint()
    val w = pcaDirection(spark, sfDir, quant)
    val b = w.map(x => x * x).sum
    quant.select(
        expr(s"aggregate(zip_with(vq, ${w.mkString("array(", ",", ")")}, (a, b) -> a * b), 0L, (acc, x) -> acc + x) div $PcaWScale")
          .as("p"),
        expr("aggregate(vq, 0L, (acc, x) -> acc + x * x)").as("nq2"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("p") * col("p")).as("sum_p2"),
        sum(col("nq2")).as("total_q"))
      .select(col("n_vectors"), col("sum_p2"), lit(b).as("w_norm2"), col("total_q"),
        floor(col("sum_p2") * lit(10000.0) * lit(1099511627776.0) /
          (lit(b.toDouble) * col("total_q").cast("double"))).cast("long")
          .as("explained_bp"))
  }

  val pcaVarSql: String = s"""
    WITH $pcaCtes,
    b AS (SELECT CAST(sum(w * w) AS bigint) AS w_norm2 FROM w$PcaIters),
    proj AS (
      SELECT e.vec_id,
             CAST(sum(e.vq[w.i] * w.w) AS bigint) // $PcaWScale AS p
      FROM emb e CROSS JOIN w$PcaIters w
      GROUP BY e.vec_id
    ), tq AS (
      SELECT vec_id, CAST(sum(v * v) AS bigint) AS nq2
      FROM (SELECT vec_id, unnest(vq) AS v FROM emb)
      GROUP BY vec_id
    )
    SELECT count(*) AS n_vectors,
           CAST(sum(p.p * p.p) AS bigint) AS sum_p2,
           (SELECT w_norm2 FROM b) AS w_norm2,
           CAST(sum(t.nq2) AS bigint) AS total_q,
           CAST(floor(sum(p.p * p.p) * 10000.0 * 1099511627776.0 /
             (CAST((SELECT w_norm2 FROM b) AS double)
              * CAST(sum(t.nq2) AS double))) AS bigint) AS explained_bp
    FROM proj p JOIN tq t USING (vec_id)"""

  private val PcaTopComponents = 4

  /** Top-4 PCA subspace — [[pcaPower]] extended by integer Hotelling
    * deflation ([[pcaDeflate]]): 4×64 rows (component, dim, w_q) at the
    * 2²⁰ fixed-point scale. Component 1 ≡ `e_pca_power`'s pc1
    * (spec-pinned); approximate pairwise orthogonality is spec-asserted.
    * One corpus pass (the shared Gram), then O(d²) model math — nothing
    * here grows with n. The oracle replays all 4 components through
    * unrolled round + deflation CTEs. */
  def pcaTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = pcaTopDirections(pcaQuant(spark, sfDir), PcaTopComponents)
    import spark.implicits._
    ws.zipWithIndex.flatMap { case (w, c) =>
      w.zipWithIndex.map { case (x, d) => (c + 1L, d.toLong, x) }
    }.toDF("component", "dim", "w_q").orderBy(col("component"), col("dim"))
  }

  /** The unrolled 4-component CTE chain: shared Gram (g1 at the working
    * scale), then per component c: 8 rounds c{c}w0..c{c}w8 and — between
    * components — the deflation t{c}/u{c}/g{c+1}. Shared by the
    * [[pcaTopKSql]] / [[pcaTopKVarSql]] / [[pqRotateEvalSql]] oracles. */
  private def pcaTopKCtes: String = {
    def rounds(c: Int): String = (1 to PcaIters).map { k =>
      val prev = s"c${c}w${k - 1}"
      s"""c${c}y$k AS (
      SELECT g.i, CAST(sum(g.gq * $prev.w) AS bigint) AS y
      FROM g$c g JOIN $prev ON g.j = $prev.i GROUP BY g.i
    ), c${c}s$k AS (SELECT greatest(1, max(abs(y)) // $PcaWScale) AS s FROM c${c}y$k),
    c${c}w$k AS (SELECT i, y // s AS w FROM c${c}y$k, c${c}s$k)"""
    }.mkString(",\n    ")
    def start(c: Int): String =
      s"c${c}w0 AS (SELECT i, CAST($PcaWScale AS bigint) AS w FROM idx)"
    def deflate(c: Int): String = s"""t$c AS (
      SELECT g.i, CAST(sum(g.gq * w.w) AS bigint) // $PcaWScale AS t
      FROM g$c g JOIN c${c}w$PcaIters w ON g.j = w.i GROUP BY g.i
    ), u$c AS (
      SELECT greatest(1, CAST(sum(w.w * t.t) AS bigint) // $PcaWScale) AS u
      FROM c${c}w$PcaIters w JOIN t$c t ON t.i = w.i
    ), g${c + 1} AS (
      SELECT g.i, g.j, g.gq - (ta.t * tb.t) // u.u AS gq
      FROM g$c g JOIN t$c ta ON ta.i = g.i JOIN t$c tb ON tb.i = g.j
      CROSS JOIN u$c u
    )"""
    val comps = (1 to PcaTopComponents).map { c =>
      val d = if (c < PcaTopComponents) ",\n    " + deflate(c) else ""
      start(c) + ",\n    " + rounds(c) + d
    }.mkString(",\n    ")
    s"""emb AS (
      SELECT vec_id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS double) * $PcaQScale) AS bigint)) AS vq
      FROM embeddings
    ), idx AS (SELECT CAST(range AS int) AS i FROM range(1, ${PcaDim + 1})),
    cells AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(vq[a.i] * vq[b.i]) AS bigint) AS g
      FROM emb CROSS JOIN idx a CROSS JOIN idx b GROUP BY 1, 2
    ), gsc AS (SELECT greatest(1, max(abs(g)) // $PcaWScale) AS s FROM cells),
    g1 AS (SELECT i, j, g // s AS gq FROM cells, gsc),
    $comps"""
  }

  /** DuckDB inlines CTEs per REFERENCE: a chain like the 4-component
    * deflation (each round referencing its predecessor 2-3 times)
    * re-evaluates exponentially and exhausts file handles on the base
    * scan. Forcing every CTE MATERIALIZED makes the oracle evaluate the
    * chain once per CTE — the same single-evaluation semantics the Spark
    * side's checkpoints/driver arrays have. */
  private def materializedCtes(sql: String): String =
    sql.replace("AS (", "AS MATERIALIZED (")

  val pcaTopKSql: String = {
    val unions = (1 to PcaTopComponents).map(c =>
      s"SELECT CAST($c AS bigint) AS component, CAST(i - 1 AS bigint) AS dim, w AS w_q FROM c${c}w$PcaIters")
      .mkString(" UNION ALL ")
    materializedCtes(s"""
    WITH $pcaTopKCtes
    SELECT component, dim, w_q FROM ($unions)
    ORDER BY component, dim""")
  }

  /** Per-component variance explained for the [[pcaTopK]] subspace —
    * the eval that prices deflation: ONE more corpus pass projects every
    * vector onto all 4 directions simultaneously (map-side expressions,
    * one partial-agg shuffle), then the [[pcaVar]] formula per
    * component. A healthy spectrum decays; the synthetic corpus's weak
    * structure shows as a flat tail, and the row says so honestly. */
  def pcaTopKVar(spark: SparkSession, sfDir: String): DataFrame = {
    val quant = pcaQuant(spark, sfDir).localCheckpoint()
    val ws = pcaTopDirections(quant, PcaTopComponents)
    val norms = ws.map(w => w.map(x => x * x).sum)
    val projCols = ws.zipWithIndex.map { case (w, c) =>
      expr(s"aggregate(zip_with(vq, ${w.mkString("array(", ",", ")")}, (a, b) -> a * b), 0L, (acc, x) -> acc + x) div $PcaWScale")
        .as(s"p${c + 1}")
    } :+ expr("aggregate(vq, 0L, (acc, x) -> acc + x * x)").as("nq2")
    val aggCols = (1 to PcaTopComponents).map(c =>
      sum(col(s"p$c") * col(s"p$c")).as(s"sp$c")) :+
      count(lit(1)).as("n_vectors") :+ sum(col("nq2")).as("total_q")
    val one = quant.select(projCols: _*).agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(false) // 1 row, fans out to 4 component rows
    (1 to PcaTopComponents).map { c =>
      one.select(lit(c.toLong).as("component"), col("n_vectors"),
        col(s"sp$c").as("sum_p2"), lit(norms(c - 1)).as("w_norm2"), col("total_q"),
        floor(col(s"sp$c") * lit(10000.0) * lit(1099511627776.0) /
          (lit(norms(c - 1).toDouble) * col("total_q").cast("double")))
          .cast("long").as("explained_bp"))
    }.reduce(_ unionByName _).orderBy(col("component"))
  }

  val pcaTopKVarSql: String = {
    val projs = (1 to PcaTopComponents).map(c => s"""b$c AS (
      SELECT CAST(sum(w * w) AS bigint) AS w_norm2 FROM c${c}w$PcaIters
    ), proj$c AS (
      SELECT e.vec_id, CAST(sum(e.vq[w.i] * w.w) AS bigint) // $PcaWScale AS p
      FROM emb e CROSS JOIN c${c}w$PcaIters w GROUP BY e.vec_id
    )""").mkString(", ")
    val unions = (1 to PcaTopComponents).map(c =>
      s"""SELECT CAST($c AS bigint) AS component,
             (SELECT count(*) FROM tq) AS n_vectors,
             (SELECT CAST(sum(p * p) AS bigint) FROM proj$c) AS sum_p2,
             (SELECT w_norm2 FROM b$c) AS w_norm2,
             (SELECT CAST(sum(nq2) AS bigint) FROM tq) AS total_q,
             CAST(floor((SELECT sum(p * p) FROM proj$c) * 10000.0 * 1099511627776.0 /
               (CAST((SELECT w_norm2 FROM b$c) AS double)
                * CAST((SELECT sum(nq2) FROM tq) AS double))) AS bigint) AS explained_bp""")
      .mkString(" UNION ALL ")
    materializedCtes(s"""
    WITH $pcaTopKCtes, $projs, tq AS (
      SELECT vec_id, CAST(sum(v * v) AS bigint) AS nq2
      FROM (SELECT vec_id, unnest(vq) AS v FROM emb)
      GROUP BY vec_id
    )
    SELECT * FROM ($unions)
    ORDER BY component""")
  }

  /** The PCA-informed dimension permutation: each dim keyed by its
    * DOMINANT component (argmax |loading|, ties to the smaller
    * component) then |loading| desc, dim asc — dims that co-vary along
    * the same principal direction become CONTIGUOUS and land in the
    * same PQ subspace (the OPQ eigen-grouping idea in its
    * permutation-only form; a full 64×64 rotation would need all 64
    * components). Returns pos0 → new position, a bijection. */
  private[queries] def pcaPerm(ws: Seq[Array[Long]]): Array[Long] = {
    val keyed = (0 until PcaDim).map { d =>
      var bc = 1
      var ba = math.abs(ws.head(d))
      for (c <- 2 to ws.length) {
        val a = math.abs(ws(c - 1)(d))
        if (a > ba) { ba = a; bc = c }
      }
      (d, bc, ba)
    }
    val order = keyed.sortBy { case (d, c, a) => (c, -a, d) }.map(_._1)
    val np = new Array[Long](PcaDim)
    order.zipWithIndex.foreach { case (d, r) => np(d) = r.toLong }
    np
  }

  /** What the PCA subspace buys PQ (VERDICT r9 item 4): the
    * [[pqDistortion]] metric computed twice — once on the raw contiguous
    * subspace split, once with the dims PERMUTED by [[pcaPerm]] so
    * same-direction dims share a codebook — 16 rows (variant, sub,
    * n_vecs, sse, mean_d2). Both variants train + assign with the exact
    * integer Lloyd recipe, so the oracle replays every codebook; the
    * delta between the two totals is the honest price/win of the
    * rotation on THIS corpus. Scale shape: two [[pqCore]] runs (each one
    * corpus-sized code assignment) + the one Gram pass the permutation
    * derivation shares with `e_pca_topk`. */
  def pqRotateEval(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = pcaTopDirections(pcaQuant(spark, sfDir), PcaTopComponents)
    val perm = pcaPerm(ws)
    def dist(variant: String, p: Option[Array[Long]]): DataFrame = {
      val (v, c1, codes) = pqCore(spark, sfDir, p)
      v.join(codes, Seq("vec_id", "sub"))
        .join(broadcast(c1), Seq("sub", "k", "spos"))
        .groupBy(col("sub"))
        .agg(countDistinct(col("vec_id")).as("n_vecs"),
          sum((col("q") - col("c")) * (col("q") - col("c"))).as("sse"))
        .select(lit(variant).as("variant"), col("sub"), col("n_vecs"),
          col("sse"), expr("sse div n_vecs").as("mean_d2"))
    }
    dist("raw", None).unionByName(dist("rotated", Some(perm)))
      .orderBy(col("variant"), col("sub"))
  }

  val pqRotateEvalSql: String = {
    def argminCte(name: String, src: String, cents: String) = s"""$name AS (
      SELECT vec_id, sub, k FROM (
        SELECT vec_id, sub, k,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, k) AS rn
        FROM (SELECT v.vec_id, v.sub, c.k,
                     CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS dist
              FROM $src v JOIN $cents c ON v.sub = c.sub AND v.spos = c.spos
              GROUP BY v.vec_id, v.sub, c.k)
      ) WHERE rn = 1
    )"""
    def chain(sfx: String) = s"""vfit$sfx AS (
      SELECT * FROM v$sfx WHERE vec_id < $PqFitSample
    ), c0$sfx AS (
      SELECT sub, vec_id AS k, spos, q AS c FROM v$sfx
      WHERE vec_id IN (SELECT vec_id FROM pseeds)
    ), ${argminCte(s"a1$sfx", s"vfit$sfx", s"c0$sfx")}, c1$sfx AS (
      SELECT a.sub, a.k, v.spos, CAST(floor(sum(v.q) * 1.0 / count(*)) AS bigint) AS c
      FROM a1$sfx a JOIN vfit$sfx v ON a.vec_id = v.vec_id AND a.sub = v.sub
      GROUP BY a.sub, a.k, v.spos
    ), ${argminCte(s"codes$sfx", s"v$sfx", s"c1$sfx")}, dist$sfx AS (
      SELECT d.sub, CAST(count(DISTINCT v.vec_id) AS bigint) AS n_vecs,
             CAST(sum((v.q - c.c) * (v.q - c.c)) AS bigint) AS sse
      FROM codes$sfx d
      JOIN v$sfx v ON v.vec_id = d.vec_id AND v.sub = d.sub
      JOIN c1$sfx c ON c.sub = d.sub AND c.k = d.k AND c.spos = v.spos
      GROUP BY d.sub
    )"""
    val allw = (1 to PcaTopComponents).map(c =>
      s"SELECT $c AS c, i, w FROM c${c}w$PcaIters").mkString(" UNION ALL ")
    materializedCtes(s"""
    WITH $pcaTopKCtes,
    allw AS ($allw),
    dom AS (
      SELECT i, c, a FROM (
        SELECT i, c, abs(w) AS a,
               row_number() OVER (PARTITION BY i ORDER BY abs(w) DESC, c) AS rn
        FROM allw
      ) WHERE rn = 1
    ), perm AS (
      SELECT i, CAST(row_number() OVER (ORDER BY c, a DESC, i) - 1 AS bigint) AS np
      FROM dom
    ), q0 AS (
      SELECT vec_id,
             CAST(unnest(range(1, len(embedding) + 1)) AS bigint) AS pos,
             unnest(list_transform(embedding, x -> CAST(floor(CAST(x AS double) * 1000000) AS bigint))) AS q
      FROM embeddings
    ), pseeds AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqK
    ), vraw AS (
      SELECT vec_id, (pos - 1) // $PqSubDim AS sub, (pos - 1) % $PqSubDim AS spos, q
      FROM q0
    ), vrot AS (
      SELECT q0.vec_id, p.np // $PqSubDim AS sub, p.np % $PqSubDim AS spos, q0.q
      FROM q0 JOIN perm p ON p.i = q0.pos
    ), ${chain("raw")}, ${chain("rot")}
    SELECT variant, sub, n_vecs, sse, sse // n_vecs AS mean_d2
    FROM (
      SELECT 'raw' AS variant, * FROM distraw
      UNION ALL SELECT 'rotated' AS variant, * FROM distrot
    )
    ORDER BY variant, sub""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e_rp_project"      -> (rpProject _),
    "e_rp_distortion"   -> (rpDistortion _),
    "e_cov_pairs"       -> (covPairs _),
    "e_ivf_balance"     -> (ivfBalance _),
    "e_ivf_rebalance"   -> (ivfRebalance _),
    "e_ivf_rebalance_eval" -> (ivfRebalanceEval _),
    "e_rank_fusion"     -> (rankFusion _),
    "e_pq_distortion"   -> (pqDistortion _),
    "e_kmeans_elbow"    -> (kmeansElbow _),
    "e_embed_drift"     -> (embedDrift _),
    "e_dim_var"         -> (dimVar _),
    "e_norm_histogram"  -> (normHistogram _),
    "d_edit_verify"     -> (editVerify _),
    "d_winnow_eval"     -> (winnowEval _),
    "d_winnow_eval_sampled" -> (winnowEvalSampled _),
    "d_minhash_recall_sampled" -> (minhashRecallSampled _),
    "d_lsh_curve" -> (lshCurve _),
    "d_simhash_eval_sampled" -> (simhashEvalSampled _),
    "e_pca_power" -> (pcaPower _),
    "e_pca_topk" -> (pcaTopK _),
    "e_pca_topk_var" -> (pcaTopKVar _),
    "e_pq_rotate_eval" -> (pqRotateEval _),
    "e_hnsw_search" -> (hnswSearch _),
    "e_hnsw_recall" -> (hnswRecall _),
    "e_hnsw_sweep"  -> (hnswSweep _),
    "e_hnsw_insert" -> (hnswInsert _),
    "e_pca_var" -> (pcaVar _),
    "d_semdedup_eval09_sampled" -> (semDedupEval09Sampled _),
    "e_ann_ivf_incr"    -> (annIvfIncr _),
    "e_decontaminate"   -> (embedDecontaminate _),
    "e_dim_stats"       -> (dimStats _),
    "e_auc_label"       -> (aucLabel _),
    "d_minhash_recall"  -> (minhashRecall _),
    "e_quantize_int8"   -> (quantizeInt8 _),
    "e_kmeans"          -> (kmeans _),
    "e_cluster_quality" -> (clusterQuality _),
    "e_medoids"         -> (medoids _),
    "e_ann_bruteforce"  -> (annBruteForce _),
    "e_ann_lsh"         -> (annLsh _),
    "e_ann_ivf"         -> (annIvf _),
    "e_ann_pq"          -> (annPq _),
    "e_ann_ivfpq"       -> (annIvfPq _),
    "e_ann_pq_recall"   -> (annPqRecall _),
    "e_ann_ivfpq_recall" -> (annIvfPqRecall _),
    "e_ann_ivfpq_rerank" -> (annIvfPqRerank _),
    "e_ann_rerank_recall" -> (annRerankRecall _),
    "e_ann_ivfsq"       -> (annIvfSq _),
    "e_ann_ivfsq_recall" -> (annIvfSqRecall _),
    "e_ann_probe_sweep" -> (annProbeSweep _),
    "e_ann_filtered"    -> (annFiltered _),
    "e_hard_negatives"  -> (hardNegatives _),
    "e_ann_recall"      -> (annRecall _),
    "e_matryoshka_eval" -> (matryoshkaEval _),
    "e_knn_graph"       -> (knnGraph _),
    "e_knn_recall"      -> (knnRecall _),
    "e_knn_mutual"      -> (knnMutual _),
    "e_knn_search"      -> (knnSearch _),
    "e_knn_search_recall" -> (knnSearchRecall _),
    "d_dedup_embedding" -> (dedupEmbedding _),
    "d_semdedup"        -> (semDedup _),
    "d_semdedup_eval"   -> (semDedupEval _),
    "d_semdedup_eval09" -> (semDedupEval09 _),
    "d_dedup_minhash"   -> (dedupMinhash _),
    "d_dedup_minhash_b3" -> (dedupMinhashB3 _),
    "d_minhash_keep"    -> (minhashKeep _),
    "d_minhash_incr"    -> (minhashIncr _),
    "d_dedup_simhash"   -> (dedupSimhash _),
    "d_simhash_eval"    -> (simhashEval _),
    "e_label_centroids" -> (labelCentroids _),
    "e_centroid_margin" -> (centroidMargin _),
    "e_knn_classify"    -> (knnClassify _))

  val oracles: Map[String, String] = Map(
    "e_rp_project"      -> rpProjectSql,
    "e_rp_distortion"   -> rpDistortionSql,
    "e_cov_pairs"       -> covPairsSql,
    "e_ivf_balance"     -> ivfBalanceSql,
    "e_ivf_rebalance"   -> ivfRebalanceSql,
    "e_ivf_rebalance_eval" -> ivfRebalanceEvalSql,
    "e_rank_fusion"     -> rankFusionSql,
    "e_pq_distortion"   -> pqDistortionSql,
    "e_kmeans_elbow"    -> kmeansElbowSql,
    "e_embed_drift"     -> embedDriftSql,
    "e_dim_var"         -> dimVarSql,
    "e_norm_histogram"  -> normHistogramSql,
    "d_edit_verify"     -> editVerifySql,
    "d_winnow_eval"     -> winnowEvalSql,
    "d_winnow_eval_sampled" -> winnowEvalSampledSql,
    "d_minhash_recall_sampled" -> minhashRecallSampledSql,
    "d_lsh_curve" -> lshCurveSql,
    "d_simhash_eval_sampled" -> simhashEvalSampledSql,
    "e_pca_power" -> pcaPowerSql,
    "e_pca_topk" -> pcaTopKSql,
    "e_pca_topk_var" -> pcaTopKVarSql,
    "e_pq_rotate_eval" -> pqRotateEvalSql,
    "e_hnsw_search" -> hnswSearchSql,
    "e_hnsw_recall" -> hnswRecallSql,
    "e_hnsw_sweep"  -> hnswSweepSql,
    "e_hnsw_insert" -> hnswInsertSql,
    "e_pca_var" -> pcaVarSql,
    "d_semdedup_eval09_sampled" -> semDedupEval09SampledSql,
    "e_ann_ivf_incr"    -> annIvfIncrSql,
    "e_decontaminate"   -> embedDecontaminateSql,
    "e_dim_stats"       -> dimStatsSql,
    "e_auc_label"       -> aucLabelSql,
    "d_minhash_recall"  -> minhashRecallSql,
    "e_quantize_int8"   -> quantizeInt8Sql,
    "e_kmeans"          -> kmeansSql,
    "e_cluster_quality" -> clusterQualitySql,
    "e_medoids"         -> medoidsSql,
    "e_ann_bruteforce"  -> annBruteForceSql,
    "d_dedup_embedding" -> dedupEmbeddingSql,
    "d_semdedup"        -> semDedupSql,
    "d_semdedup_eval"   -> semDedupEvalSql,
    "d_semdedup_eval09" -> semDedupEval09Sql,
    "e_ann_lsh"         -> annLshSql,
    "e_ann_ivf"         -> annIvfSql,
    "e_ann_pq"          -> annPqSql,
    "e_ann_ivfpq"       -> annIvfPqSql,
    "e_ann_pq_recall"   -> annPqRecallSql,
    "e_ann_ivfpq_recall" -> annIvfPqRecallSql,
    "e_ann_ivfpq_rerank" -> annIvfPqRerankSql,
    "e_ann_rerank_recall" -> annRerankRecallSql,
    "e_ann_ivfsq"       -> annIvfSqSql,
    "e_ann_ivfsq_recall" -> annIvfSqRecallSql,
    "e_ann_probe_sweep" -> annProbeSweepSql,
    "e_ann_filtered"    -> annFilteredSql,
    "e_hard_negatives"  -> hardNegativesSql,
    "e_ann_recall"      -> annRecallSql,
    "e_matryoshka_eval" -> matryoshkaEvalSql,
    "e_knn_graph"       -> knnGraphSql,
    "e_knn_recall"      -> knnRecallSql,
    "e_knn_mutual"      -> knnMutualSql,
    "e_knn_search"      -> knnSearchSql,
    "e_knn_search_recall" -> knnSearchRecallSql,
    "d_dedup_minhash"   -> dedupMinhashSql,
    "d_dedup_minhash_b3" -> dedupMinhashB3Sql,
    "d_minhash_keep"    -> minhashKeepSql,
    "d_minhash_incr"    -> minhashIncrSql,
    "d_dedup_simhash"   -> dedupSimhashSql,
    "d_simhash_eval"    -> simhashEvalSql,
    "e_label_centroids" -> labelCentroidsSql,
    "e_centroid_margin" -> centroidMarginSql,
    "e_knn_classify"    -> knnClassifySql)
}
