package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{graftshim => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{Literal, ShiftLeft}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shingle-based near-dup candidate generation as a reusable operator
  * (SURVEY §2.4) — the equi-join-on-shingle shape with the stop-shingle
  * cut that makes it safe on web-scale corpora. */
object Dedup {

  /** Default doc-frequency cap: a shingle shared by more documents than
    * this is boilerplate ("click here to read more") — each such shingle
    * key produces df² join rows, so one hot shingle in 1% of a 10⁹-doc
    * corpus would otherwise dominate the whole job. Cutting it changes
    * candidate recall only for near-universal shingles, which carry no
    * dedup signal anyway (standard practice in MinHash/Jaccard pipelines).
    */
  val DefaultMaxShingleDf = 500L

  /** N-gram Jaccard near-dup pairs over (doc_id, text): explode distinct
    * word-3-gram shingles → drop shingles with doc-frequency above
    * `maxShingleDf` → equi-join on shingle (never O(n²)) → pair-count →
    * Jaccard in basis points (denominator uses the UNCUT per-doc shingle
    * counts, so the cap only affects candidate generation).
    *
    * Shuffle shape: one exchange on `sh` feeds the df window AND both join
    * sides (reused exchange); one exchange on the (doc_a, doc_b) pair agg.
    */
  /** @param sorted order the result by (doc_a, doc_b) — the oracle-facing
    *               contract; pass false when feeding another operator
    *               (e.g. clustering), which would otherwise materialize a
    *               pointless global sort of the pair table */
  def ngramJaccardPairs(documents: DataFrame, minJaccardBp: Long,
                        maxShingleDf: Long = DefaultMaxShingleDf,
                        sorted: Boolean = true,
                        memoTag: Option[String] = None): DataFrame = {
    val scored = pairStats(documents, maxShingleDf, memoTag)
      .select(col("doc_a"), col("doc_b"),
        floor(col("n_common") * 10000.0 / (col("na") + col("nb") - col("n_common"))).cast("long").as("jaccard_bp"))
      .filter(col("jaccard_bp") >= minJaccardBp)
    if (sorted) scored.orderBy(col("doc_a"), col("doc_b")) else scored
  }

  /** Shingle-CONTAINMENT near-dup pairs: C(a,b) = |S(a)∩S(b)| /
    * min(|S(a)|,|S(b)|) — the asymmetric overlap measure that catches a
    * short document embedded verbatim inside a longer one (quote farms,
    * boilerplate-wrapped reposts), which symmetric Jaccard dilutes below
    * any usable threshold (a 50-shingle doc inside a 5000-shingle doc has
    * C = 1.0 but J ≈ 0.01). Same candidate generation as
    * [[ngramJaccardPairs]] — equi-join on the df-capped shingle key, never
    * all-pairs — only the score normalization differs. */
  def shingleContainmentPairs(documents: DataFrame, minContainBp: Long,
                              maxShingleDf: Long = DefaultMaxShingleDf,
                              sorted: Boolean = true,
                              memoTag: Option[String] = None): DataFrame = {
    val scored = pairStats(documents, maxShingleDf, memoTag)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        floor(col("n_common") * 10000.0 / least(col("na"), col("nb"))).cast("long").as("contain_bp"))
      .filter(col("contain_bp") >= minContainBp)
    if (sorted) scored.orderBy(col("doc_a"), col("doc_b")) else scored
  }

  /** Shared pair-statistics core of the shingle-overlap family:
    * (doc_a, doc_b, n_common, na, nb) for every pair sharing ≥1 df-capped
    * shingle. One row per (doc, distinct shingle); n_sh carried alongside
    * so the pair aggregation needs no extra join against a counts table.
    * localCheckpoint: materialize the shingle table once — the df window
    * and both join sides reuse it instead of re-deriving the 3-gram md5
    * arrays per side (measured: exchange reuse does NOT dedupe these
    * self-join sides, the checkpoint is 2-5× faster).
    *
    * The df cut is a count window over sh, not a groupBy+anti-join: the
    * window's exchange is reused by BOTH self-join sides below (one heavy
    * shuffle total), whereas the agg+anti-join variant recomputes per side
    * or needs a second checkpoint (measured 25% slower end-to-end). A hot
    * shingle does land in a single window partition, but that cost is a
    * linear, spillable sort whose rows the filter then drops — the cap
    * still prevents the quadratic JOIN blowup, which is the real hazard. */
  /** [[ngramPairStats]] behind an optional [[graft.operators.ChainMemo]]
    * entry — r12: the stats table is the shared core of the whole
    * shingle-overlap family (jaccard pairs at four thresholds, the
    * containment pairs, the cluster/keep chain's edges, the sketch
    * evals' exact-Jaccard truth), and each consumer used to re-run the
    * corpus-sized shingle explode + df window + self-join. A caller
    * whose `documents` IS the canonical corpus passes a tag identifying
    * it (sfDir, plus any gate suffix); non-canonical inputs (synthetic
    * soak corpora, spec fixtures) pass None and keep the untouched
    * per-call build — the memo can never serve the wrong corpus because
    * the TAG, not the DataFrame, is the key, and only canonical call
    * sites supply one. */
  private val pairStatsMemo = new ChainMemo[DataFrame]()
  def pairStats(documents: DataFrame, maxShingleDf: Long = DefaultMaxShingleDf,
                memoTag: Option[String] = None): DataFrame = memoTag match {
    case Some(tag) =>
      pairStatsMemo.getOrBuild(documents.sparkSession, s"$tag|$maxShingleDf") {
        // checkpoint the finished (doc_a, doc_b, n_common, na, nb) table:
        // consumers re-cut it by threshold, never re-join shingles
        ngramPairStats(documents, maxShingleDf).localCheckpoint(false)
      }
    case None => ngramPairStats(documents, maxShingleDf)
  }

  private def ngramPairStats(documents: DataFrame, maxShingleDf: Long): DataFrame = {
    // r13 (guide §2.4): checkpoint AFTER the df cut, not before the
    // window. The old shape materialized the unfiltered explode and then
    // ran the window sort + df filter once per self-join SIDE (the
    // exchange was reused, the sort+filter were not). Cutting first and
    // checkpointing the survivors (a) halves the window work, (b) shrinks
    // the checkpoint to the post-cut rows without the df column, and
    // (c) hands both join sides the SAME (sh-partitioned, sh-sorted)
    // layout — localCheckpoint preserves partitioning+ordering, so the
    // self-join needs no exchange and no re-sort at any corpus size.
    val kept = documents
      .select(col("doc_id"), graft.functions.word_shingle_keys(col("text")).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"),
        explode(col("shs")).as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("df") <= maxShingleDf)
      .drop("df")
      .localCheckpoint()
    kept.as("x").join(kept.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"),
           first(col("x.n_sh")).as("na"), first(col("y.n_sh")).as("nb"))
  }

  /** Connected components over an undirected candidate-pair list — the
    * step that turns near-dup PAIRS into dedup GROUPS (pick one canonical
    * per group, drop the rest). Iterative min-label propagation: every
    * vertex starts labeled with its own id; each round a vertex takes the
    * min of its own and its neighbors' labels; converges in O(component
    * diameter) rounds — near-dup components are shallow (dup clusters are
    * near-cliques), so 2-4 rounds in practice even at corpus scale.
    *
    * Scale shape: each round is one equi-join edges⋈labels on the vertex
    * id plus a groupBy(src) min — all shuffles on the same key, no
    * driver-side data. The rounds run under [[Rounds.untilStable]]: the
    * convergence check is a count of changed labels, not a collect, and
    * it is the action that materializes each round.
    *
    * @param pairs    (doc_a, doc_b) undirected edges, doc_a < doc_b
    * @param vertices (doc_id) universe incl. singletons
    * @return (doc_id, cluster_id) where cluster_id = min doc_id reachable
    */
  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
                          maxIters: Int = 50): DataFrame = {
    // materialize the (possibly expensive) pair plan ONCE — the union
    // below scans it twice, and every propagation round scans the result
    val p = Rounds.eager(pairs.select(col("doc_a"), col("doc_b")))
    // r13 (guide §2.4 — one exchange per hop): the symmetric edge table is
    // laid out ONCE by the hop join's key (`doc_id` = the endpoint whose
    // label flows out) and checkpointed; the label table is keyed the same
    // way by construction (every hop's aggregate groups on doc_id), so the
    // per-hop edges⋈labels join and the label-domain seeding both reuse
    // this layout instead of re-shuffling the edge table every hop. The
    // pair table is near-dup candidates — a sliver of the corpus — so the
    // extra laid copy is bounded (the r8 two-copies lesson doesn't bite).
    val sym = Rounds.eager(
      p.select(col("doc_a").as("nbr"), col("doc_b").as("doc_id"))
        .union(p.select(col("doc_b").as("nbr"), col("doc_a").as("doc_id")))
        .repartition(col("doc_id")))
    // only edge-touched vertices can ever change label — iterate over that
    // subset (a sliver of a mostly-singleton corpus) and attach the
    // untouched majority once at the end. Seeding with min(self, neighbors)
    // is the first propagation hop for free; on a SYMMETRIC table grouping
    // by either endpoint yields the same set, so the seed groups on the
    // laid-out key and is exchange-free.
    val labels0 = sym.groupBy(col("doc_id"))
      .agg(min(least(col("nbr"), col("doc_id"))).as("cluster_id"))
    // one min-label hop = one exchange (r13): the co-partitioned
    // edges⋈labels join ships each node's label to its neighbors as
    // (nbr → doc_id) messages, each node also messages ITSELF its own
    // label and the round's starting label `prev` (exactly one
    // self-message per node, so max() recovers it), and ONE
    // groupBy(doc_id) folds min(neighbor labels, own) — the old hop's
    // separate nbrMin aggregate + combine join, fused.
    // Domain unchanged: the label domain IS sym's vertex set and every
    // such vertex has >= 1 neighbor (singletons never enter the loop).
    def hop(l: DataFrame): DataFrame =
      sym.join(l.select(col("doc_id"), col("cluster_id")), "doc_id")
        .select(col("nbr").as("doc_id"), col("cluster_id"),
          lit(null).cast(l.schema("cluster_id").dataType).as("prev"))
        .unionByName(l)
        .groupBy(col("doc_id"))
        .agg(max(col("prev")).as("prev"), min(col("cluster_id")).as("cluster_id"))
    // pointer-jumping / path compression (r13, measured: mutual-kNN
    // components are CHAINS, not cliques — the plain min-label hop took 17
    // materialized rounds on them): l'(u) = l(l(u)). Every label value is
    // a domain node id (labels start as least(self, nbr) and both ops
    // preserve that), labels are monotone non-increasing and bounded by
    // the component minimum, and a hop-stable labeling is constant per
    // component — so hop+jump converges to the SAME fixpoint as hop alone
    // in O(log diameter) materialized rounds instead of O(diameter). The
    // oracle checks the final labeling (recursive reachability), which is
    // unchanged.
    def jump(l: DataFrame): DataFrame = {
      val ptr = l.select(col("doc_id").as("p_id"), col("cluster_id").as("p_lbl"))
      l.join(ptr, l("cluster_id") === ptr("p_id"))
        .select(col("doc_id"), col("prev"), col("p_lbl").as("cluster_id"))
    }
    // two hop+jump pairs per round: same total join work, half the
    // convergence counts. Every step reads its input twice (hop: edge
    // join + self-messages; jump: label side + pointer side), so each
    // intermediate is an eager leaf; `prev` carries the round's starting
    // label for the changed count. A component whose labels still move
    // after maxIters rounds is refused — partially-propagated labels
    // would silently split it into several "canonical" docs.
    val labels = Rounds.untilStable("cc", labels0, maxIters) { (l, round) =>
      val h1 = round.eager(hop(l.withColumn("prev", col("cluster_id"))))
      val j1 = round.eager(jump(h1))
      val h2 = round.eager(hop(j1))
      jump(h2)
    }(next => next.filter(col("cluster_id") < col("prev")).count())
    vertices.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Keep-one materializer — the step after [[connectedComponents]] that a
    * real pipeline actually runs: per near-dup cluster keep the single best
    * document by (score desc, doc_id asc) and drop the rest (pipelines keep
    * the longest / highest-quality duplicate, not the smallest id).
    *
    * Scale shape: one equi-join labels⋈scores on doc_id followed by one
    * groupBy(cluster_id) — the argmax is `min(struct(-score, doc_id))`
    * (deterministic tie-break; structs aren't hash-aggregable so this is a
    * SortAggregate, the same documented trade as segmentDedup's keeper).
    * Output rows = #clusters (singletons survive as their own cluster).
    *
    * @param labels (doc_id, cluster_id) from [[connectedComponents]]
    * @param scored (doc_id, score) — score must be a numeric column
    * @return (doc_id, cluster_id, cluster_size, score) of survivors
    */
  def keepBest(labels: DataFrame, scored: DataFrame): DataFrame =
    labels.join(scored, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        min(struct((-col("score")).as("neg"), col("doc_id").as("doc_id"))).as("k"),
        count(lit(1)).cast("long").as("cluster_size"))
      .select(col("k.doc_id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), (-col("k.neg")).as("score"))

  /** Bloom-filter membership gate — the incremental-dedup shape at 100 TB:
    * an arriving batch is checked against an EXISTING corpus without
    * joining the corpus itself. The filter is built once over the corpus
    * and is BOUNDED: at most `numBits` distinct set-bit positions survive
    * the distinct, no matter how many corpus rows fed it (that bound is
    * the whole point — ship the filter, not the data). The batch probes it
    * with `numHashes` md5-derived positions per key: a join against a
    * ≤numBits-row side, which AQE broadcasts — the corpus is never
    * shuffled per arriving batch. False positives are possible (the
    * classic Bloom trade, tune `numBits`), false negatives are not; the
    * md5 hash family is bit-identical in DuckDB, so even the false
    * positives are deterministic and oracle-checkable.
    *
    * @param corpus one column `fp` (the dedup key, e.g. md5(text))
    * @param batch  (id, fp) rows to gate
    * @return (id, fp, n_hit, bloom_dup) — bloom_dup=1 iff all probes hit
    */
  /** md5-derived probe positions (numHashes 32-bit slices of fp, mod
    * numBits) — the hash family shared by [[bloomGate]] / [[bloomMask]] /
    * [[bloomHit]]; bit-identical in DuckDB. */
  private def bloomPositions(fp: Column, numBits: Int, numHashes: Int): Column = {
    require(numHashes >= 1 && numHashes <= 4,
      s"bloom: numHashes must be in [1,4] (8 md5 hex chars per probe), got $numHashes")
    array((0 until numHashes).map(i =>
      conv(substring(fp, 1 + 8 * i, 8), 16, 10).cast("long") % numBits): _*)
  }

  /** 1L << bits for a COLUMN shift amount (functions.shiftleft only
    * accepts a literal). */
  private def shl1(bits: Column): Column =
    ExpressionUtils.column(ShiftLeft(Literal(1L), ExpressionUtils.expression(bits)))

  /** Sizing rule for [[bloomGate]]/[[bloomMask]]: at least this many bits
    * per corpus key before the filter is accepted (m/n = 10 with k = 4
    * hashes ⇒ ~1.2% false-positive rate; at saturation every probe reads
    * positive and the gate silently stops deduplicating). Set the conf to
    * 0 to accept saturation deliberately (e.g. the saturation spec). */
  val BloomBitsPerKeyConf = "graft.dedup.bloomBitsPerKey"
  val BloomBitsPerKeyDefault = 10L

  /** Refuses a corpus too large for `numBits` — the 10⁹-keys-into-2¹⁶-bits
    * misuse fails loudly instead of returning all-positive garbage. Row
    * count is the (conservative) cardinality proxy; the check reads at
    * most maxKeys+1 rows. */
  private def guardBloomSized(corpus: DataFrame, numBits: Int): Unit = {
    val bpk = corpus.sparkSession.conf.getOption(BloomBitsPerKeyConf)
      .map(_.toLong).getOrElse(BloomBitsPerKeyDefault)
    if (bpk > 0) {
      val maxKeys = numBits / bpk
      val n = corpus.limit(java.lang.Math.toIntExact(
        math.min(maxKeys + 1, Int.MaxValue.toLong))).count()
      require(n <= maxKeys,
        s"bloom: corpus has >$maxKeys rows but a $numBits-bit filter supports only " +
        s"~$maxKeys keys at $bpk bits/key (the false-positive rate blows up toward " +
        s"saturation past that). Size numBits >= ${bpk}x the expected distinct keys, " +
        s"or set $BloomBitsPerKeyConf=0 to accept the rate")
    }
  }

  def bloomGate(corpus: DataFrame, batch: DataFrame,
                numBits: Int = 1 << 16, numHashes: Int = 4): DataFrame = {
    guardBloomSized(corpus, numBits)
    def positions(fp: Column): Column = bloomPositions(fp, numBits, numHashes)
    val bits = corpus.select(explode(positions(col("fp"))).as("pos")).distinct()
    val hits = batch.select(col("id"), explode(positions(col("fp"))).as("pos"))
      .join(bits, Seq("pos"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    batch.join(hits, Seq("id"), "left")
      .select(col("id"), col("fp"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) === numHashes).cast("int").as("bloom_dup"))
  }

  /** The corpus Bloom filter folded into an actual bitmask: ONE row whose
    * `mask` column is a map<word → 64-bit long> (≤ numBits/64 entries,
    * ≈8 KiB at the default 2^16 bits) — the shippable form of the filter.
    * Broadcast it to gate an arriving stream per micro-batch with zero
    * state and zero shuffle ([[graft.streaming.EventsStream.bloomGated]]),
    * or persist it as the incremental-dedup checkpoint between pipeline
    * runs. Same md5 hash family as [[bloomGate]], so the two agree
    * bit-for-bit (false positives included). */
  def bloomMask(corpus: DataFrame, numBits: Int = 1 << 16, numHashes: Int = 4): DataFrame = {
    guardBloomSized(corpus, numBits)
    corpus.select(explode(bloomPositions(col("fp"), numBits, numHashes)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("word"),
        shl1(expr("CAST(pos % 64 AS INT)")).as("bit"))
      .groupBy(col("word")).agg(bit_or(col("bit")).as("bits"))
      .agg(map_from_arrays(collect_list(col("word")), collect_list(col("bits"))).as("mask"))
  }

  /** True iff every probe bit of `fp` is set in `mask` (a [[bloomMask]]
    * map column) — the per-row, join-free membership test. */
  def bloomHit(fp: Column, mask: Column,
               numBits: Int = 1 << 16, numHashes: Int = 4): Column =
    (0 until numHashes).map { i =>
      val pos = conv(substring(fp, 1 + 8 * i, 8), 16, 10).cast("long") % numBits
      val word = shiftright(pos, 6).cast("int")
      val bit = (pos % 64).cast("int")
      coalesce(element_at(mask, word), lit(0L)).bitwiseAND(shl1(bit)) =!= 0L
    }.reduce(_ && _)

  /** Refuses to build a plan whose cost is quadratic in `df` beyond
    * `defaultMax` rows (override with spark conf `confKey`) — the guard on
    * the brute-force dedup/ANN baselines so the O(n²) path can't be
    * invoked on cluster-scale inputs by accident. The check reads at most
    * max+1 rows. */
  def guardQuadratic(df: DataFrame, what: String, alternative: String,
                     confKey: String, defaultMax: Long): DataFrame = {
    val max = df.sparkSession.conf.getOption(confKey).map(_.toLong).getOrElse(defaultMax)
    val n = df.limit(math.min(max + 1, Int.MaxValue.toLong).toInt).count()
    require(n <= max,
      s"$what: input exceeds $max rows — the quadratic baseline is refused at this size; " +
      s"use $alternative, or raise $confKey")
    df
  }

  /** Segment-level (line-level) dedup over (doc_id, text): split each doc
    * into consecutive `segWords`-word segments, keep only the globally
    * FIRST occurrence of each distinct segment (ordered by doc_id, then
    * position within the doc) — the C4/CCNet move that strips repeated
    * boilerplate lines a whole-document hash never catches.
    *
    * Shuffle shape: segment explode is a per-row map; the keeper choice is
    * one groupBy(seg_hash) min over the (doc_id, seg_idx) struct —
    * lexicographic, map-side combinable, and safe for any doc_id/segment
    * count (no packed-integer overflow); marking occurrences is an
    * equi-join back on seg_hash (a segment in f docs joins f rows to 1
    * keeper row — linear in f, never f²). No windows over hot keys.
    *
    * @return one row per (doc_id, seg_idx, seg, kept) occurrence
    */
  def segmentDedup(documents: DataFrame, segWords: Int = 8): DataFrame = {
    val segs = documents
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(w) + ${segWords - 1}) div $segWords - 1),
                      i -> array_join(slice(w, i * $segWords + 1, $segWords), ' '))"""))
        .as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"), col("seg"),
        md5(col("seg")).as("seg_hash"))
    val keeper = segs.groupBy(col("seg_hash"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("keep"))
    segs.join(keeper, Seq("seg_hash"))
      .select(col("doc_id"), col("seg_idx"), col("seg"),
        (col("doc_id") === col("keep.doc_id") &&
          col("seg_idx") === col("keep.seg_idx")).cast("int").as("kept"))
  }
}
