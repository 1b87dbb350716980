package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The stop-shingle doc-frequency cap: a shingle shared by f documents
  * produces f² join rows, so candidate generation must stay bounded when a
  * boilerplate shingle is near-universal (VERDICT r1 §What's-wrong 3).
  * Connected components by per-partition union-find must label every
  * graph as the min-label hop/jump propagation it replaced
  * ([[DedupSpec.Reference]]) does, however its edges are partitioned. */
class DedupSpec extends SparkSpecBase {
  import DedupSpec.Reference

  private def hotCorpus(n: Int) = {
    import spark.implicits._
    // every doc opens with the same 3 words (one hot shingle, df = n);
    // the rest of each doc is unique
    (0 until n)
      .map(i => (i.toLong, s"common boiler plate unique$i token$i word$i end$i"))
      .toDF("doc_id", "text")
  }

  test("hot shingle beyond the df cap generates no candidate pairs") {
    val docs = hotCorpus(60)
    // cap below the hot shingle's df=60: the only shared shingle is cut
    val capped = Dedup.ngramJaccardPairs(docs, minJaccardBp = 1, maxShingleDf = 10)
    assert(capped.count() == 0)
    // uncapped: the hot shingle alone creates all C(60,2) candidate pairs
    val uncapped = Dedup.ngramJaccardPairs(docs, minJaccardBp = 1, maxShingleDf = 1000)
    assert(uncapped.count() == 60L * 59 / 2)
  }

  test("cap keeps true near-dups whose overlap is not boilerplate") {
    import spark.implicits._
    val docs = hotCorpus(40).unionByName(Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon different")).toDF("doc_id", "text"))
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccardBp = 100, maxShingleDf = 10)
      .collect()
    // docs 100/101 share 3 of their shingles (df=2 each, under the cap)
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 101L)))
    // jaccard: 3 common / (4 + 4 - 3) = 6000 bp
    assert(pairs.head.getAs[Long]("jaccard_bp") == 6000L)
  }

  test("containment catches a short doc embedded in a long one that jaccard misses") {
    import spark.implicits._
    // doc 1 = 6 words (4 shingles) appearing verbatim inside doc 2's 30
    // words (28 shingles): containment = 4/4 = 10000 bp, jaccard = 4/28
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = (1 to 12).map(i => s"pad$i").mkString(" ") + " " + inner + " " +
      (13 to 24).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, inner), (2L, outer)).toDF("doc_id", "text")
    val contain = Dedup.shingleContainmentPairs(docs, minContainBp = 8000).collect()
    assert(contain.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(contain.head.getAs[Long]("contain_bp") == 10000L)
    // the same pair is invisible to jaccard at any usable threshold
    assert(Dedup.ngramJaccardPairs(docs, minJaccardBp = 2000).count() == 0)
  }

  test("containment pair generation respects the df cap like jaccard") {
    val docs = hotCorpus(60)
    assert(Dedup.shingleContainmentPairs(docs, minContainBp = 1, maxShingleDf = 10).count() == 0)
  }

  test("connected components label chains, cliques and singletons") {
    import spark.implicits._
    // component A: chain 1-2-3-4; component B: clique 10-11-12; 20 is a
    // singleton. The local table's partitions split the chain, so a
    // second level must merge it
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("doc_a", "doc_b")
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val got = Dedup.connectedComponents(pairs, vertices)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("connected components converge on a deep chain (diameter 19)") {
    import spark.implicits._
    // one long path, split across the local table's partitions: label 0
    // must reach the far end through the merge edges of later levels
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val vertices = (0L to 20L).toDF("doc_id") // 20 is a singleton
    val got = Dedup.connectedComponents(pairs, vertices)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 19L).forall(got(_) == 0L) && got(20L) == 20L)
  }

  /** A seeded random graph over distinct ids below 10,000: a chain, a
    * star and random edges on disjoint vertex sets, edges in random order
    * as (smaller, larger), and the vertices plus three singletons. */
  private def randomGraph(seed: Int): (Seq[(Long, Long)], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 10000L).toVector).take(80)
    val (chain, rest) = ids.splitAt(10 + rnd.nextInt(20))
    val (star, rest2) = rest.splitAt(3 + rnd.nextInt(10))
    val loose = rest2.take(30)
    val edges = chain.zip(chain.tail) ++ star.tail.map(star.head -> _) ++
      Seq.fill(25)((loose(rnd.nextInt(loose.size)), loose(rnd.nextInt(loose.size))))
        .filter { case (a, b) => a != b }
    (rnd.shuffle(edges.map { case (a, b) => (a min b, a max b) }),
      ids.take(chain.size + star.size + loose.size + 3))
  }

  /** `pairs` as a table of `parts` partitions (round-robin for > 1). */
  private def fed(pairs: Seq[(Long, Long)], parts: Int): DataFrame = {
    import spark.implicits._
    val df = pairs.toDF("doc_a", "doc_b")
    if (parts == 1) df.coalesce(1) else df.repartition(parts)
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** CC's labels and the levels (`cc round <r>` job descriptions) it ran. */
  private def ccLevels(pairs: DataFrame, vertices: DataFrame): (Map[Long, Long], Int) = {
    val (out, jobs) = jobsDuring(labels(Dedup.connectedComponents(pairs, vertices)))
    (out.get, jobs.filter(_.startsWith("cc round ")).distinct.size)
  }

  test("connected components equal the hop/jump reference on random graphs in 1, 3 and 8 partitions") {
    import spark.implicits._
    for (seed <- 1 to 12) {
      val (pairs, verts) = randomGraph(seed)
      val vertices = verts.toDF("doc_id")
      val want = labels(Reference.connectedComponents(pairs.toDF("doc_a", "doc_b"), vertices))
      assert(want.size == verts.size && want.values.toSet.size < verts.size)
      for (parts <- Seq(1, 3, 8)) {
        val (got, levels) = ccLevels(fed(pairs, parts), vertices)
        assert(got == want, s"seed $seed, $parts partitions")
        // one partition is settled by one level; more cannot be
        if (parts == 1) assert(levels == 1, s"seed $seed: $levels levels")
        else assert(levels >= 2, s"seed $seed, $parts partitions: $levels levels")
      }
    }
  }

  test("connected components equal the reference on a long chain and a clique") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val path = rnd.shuffle((0L until 300L).toVector)
    val chain = path.zip(path.tail).map { case (a, b) => (a min b, a max b) }
    val clique = for (a <- 1000L until 1012L; b <- (a + 1) until 1012L) yield (a, b)
    val vertices = ((0L until 300L) ++ (1000L until 1012L) :+ 5000L).toDF("doc_id")
    // a shuffled chain's edges straddle partitions, so one level cannot
    // settle it; a clique's partitions may each connect all of it
    for ((name, pairs, straddles) <- Seq(("chain", chain, true), ("clique", clique, false))) {
      val want = labels(Reference.connectedComponents(pairs.toDF("doc_a", "doc_b"), vertices))
      for (parts <- Seq(1, 3, 8)) {
        val (got, levels) = ccLevels(fed(pairs, parts), vertices)
        assert(got == want, s"$name, $parts partitions")
        if (parts == 1) assert(levels == 1, s"$name: $levels levels")
        else if (straddles) assert(levels >= 2, s"$name, $parts partitions: $levels levels")
      }
    }
  }

  test("connected components over a one-partition pair table run at most 6 jobs") {
    import spark.implicits._
    val (pairs, verts) = randomGraph(3)
    val vertices = verts.toDF("doc_id")
    val (out, jobs) = jobsDuring(Dedup.connectedComponents(fed(pairs, 1), vertices).collect())
    assert(out.get.length == verts.size)
    // level 1 (the group's map stage and the leaf's job) settles it; the
    // rest is the final join with the vertices
    assert(jobs.count(_ == "cc round 1") <= 2 && !jobs.exists(_.startsWith("cc round 2")), jobs)
    assertJobBudget(jobs, 6)
  }

  test("segment dedup keeps only the globally-first occurrence of a segment") {
    import spark.implicits._
    // 2-word segments: doc 0 = [a b][c d], doc 1 repeats [a b] then a
    // unique segment and a trailing partial; doc 2 repeats doc 0 entirely
    // AND repeats its own first segment internally
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "a b x y z"),
      (2L, "a b a b c d")).toDF("doc_id", "text")
    val marked = Dedup.segmentDedup(docs, segWords = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(3))).toMap
    assert(marked == Map(
      (0L, 0L) -> 1, (0L, 1L) -> 1,              // first occurrences win
      (1L, 0L) -> 0,                             // "a b" already seen in doc 0
      (1L, 1L) -> 1, (1L, 2L) -> 1,              // "x y", partial "z" unique
      (2L, 0L) -> 0, (2L, 1L) -> 0, (2L, 2L) -> 0)) // all repeats, incl. internal
  }

  test("segment dedup is the identity on a corpus with no repeats") {
    import spark.implicits._
    val docs = Seq(
      (0L, "one two three four five"),
      (1L, "six seven eight")).toDF("doc_id", "text")
    val marked = Dedup.segmentDedup(docs, segWords = 3)
    assert(marked.filter(col("kept") === 0).count() == 0)
    // segment counts: ceil(5/3)=2 and ceil(3/3)=1
    val counts = marked.groupBy("doc_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(0L -> 2L, 1L -> 1L))
  }

  test("bloom gate: no false negatives, bounded bits, deterministic FPs") {
    import spark.implicits._
    val corpus = (0 until 400).map(i => s"corpus doc $i").toDF("txt")
      .select(md5(col("txt")).as("fp"))
    // batch: 50 keys already in the corpus + 150 fresh ones
    val batch = ((0 until 50).map(i => (i.toLong, s"corpus doc $i")) ++
        (0 until 150).map(i => (1000L + i, s"fresh doc $i")))
      .toDF("id", "txt")
      .select(col("id"), md5(col("txt")).as("fp"))

    val gated = Dedup.bloomGate(corpus, batch).cache()
    // Bloom guarantee: every true member is flagged
    assert(gated.filter(col("id") < 50 && col("bloom_dup") =!= 1).count() == 0)
    // with 1600 set bits of 65536, fresh keys overwhelmingly pass
    assert(gated.filter(col("id") >= 1000 && col("bloom_dup") === 0).count() > 100)
    // deterministic: same inputs → identical rows
    val again = Dedup.bloomGate(corpus, batch)
    assert(gated.exceptAll(again).count() == 0 && again.exceptAll(gated).count() == 0)
    gated.unpersist()

    // a tiny filter saturates: the bit table stays bounded by numBits and
    // everything reads as a (false) positive — the documented trade,
    // reachable only by explicitly disabling the sizing guard
    spark.conf.set(Dedup.BloomBitsPerKeyConf, "0")
    try {
      val tiny = Dedup.bloomGate(corpus, batch, numBits = 8, numHashes = 2)
      assert(tiny.filter(col("bloom_dup") =!= 1).count() == 0)
    } finally spark.conf.unset(Dedup.BloomBitsPerKeyConf)

    intercept[IllegalArgumentException] {
      Dedup.bloomGate(corpus, batch, numHashes = 5)
    }

    // sizing guard: 400 corpus keys need >= 4000 bits at the default 10
    // bits/key — an undersized filter refuses with the sizing rule, for
    // the gate AND the shippable mask form
    val e1 = intercept[IllegalArgumentException] {
      Dedup.bloomGate(corpus, batch, numBits = 1 << 10)
    }
    assert(e1.getMessage.contains("bits/key"))
    intercept[IllegalArgumentException] { Dedup.bloomMask(corpus, numBits = 1 << 10) }
    // ...and the conf override accepts the same call
    spark.conf.set(Dedup.BloomBitsPerKeyConf, "2")
    try assert(Dedup.bloomGate(corpus, batch, numBits = 1 << 10)
      .filter(col("id") < 50 && col("bloom_dup") =!= 1).count() == 0)
    finally spark.conf.unset(Dedup.BloomBitsPerKeyConf)
  }

  test("quadratic guard refuses oversized inputs and respects the conf") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    intercept[IllegalArgumentException] {
      Dedup.guardQuadratic(df, "test", "an alternative", "graft.test.maxRows", 50L)
    }
    // under the cap: passes through unchanged
    assert(Dedup.guardQuadratic(df, "test", "alt", "graft.test.maxRows", 100L).count() == 100)
    // conf override raises the cap
    spark.conf.set("graft.test.maxRows", "1000")
    assert(Dedup.guardQuadratic(df, "test", "alt", "graft.test.maxRows", 50L).count() == 100)
    spark.conf.unset("graft.test.maxRows")
  }
}

object DedupSpec {
  /** The min-label hop/jump propagation that [[Dedup.connectedComponents]]
    * ran before per-partition union-find: labels start as the min of each
    * vertex and its neighbors, and each round is two hops (every vertex
    * takes the min of its own and its neighbors' labels), each followed by
    * a pointer jump (l(u) := l(l(u))), until no label changes. */
  object Reference {
    def connectedComponents(pairs: DataFrame, vertices: DataFrame, maxIters: Int = 50): DataFrame = {
      val p = pairs.select(col("doc_a"), col("doc_b"))
      val sym = Rounds.eager(
        p.select(col("doc_a").as("nbr"), col("doc_b").as("doc_id"))
          .union(p.select(col("doc_b").as("nbr"), col("doc_a").as("doc_id"))))
      val labels0 = sym.groupBy(col("doc_id"))
        .agg(min(least(col("nbr"), col("doc_id"))).as("cluster_id"))
      def hop(l: DataFrame): DataFrame =
        sym.join(l.select(col("doc_id"), col("cluster_id")), "doc_id")
          .select(col("nbr").as("doc_id"), col("cluster_id"),
            lit(null).cast(l.schema("cluster_id").dataType).as("prev"))
          .unionByName(l)
          .groupBy(col("doc_id"))
          .agg(max(col("prev")).as("prev"), min(col("cluster_id")).as("cluster_id"))
      def jump(l: DataFrame): DataFrame = {
        val ptr = l.select(col("doc_id").as("p_id"), col("cluster_id").as("p_lbl"))
        l.join(ptr, l("cluster_id") === ptr("p_id"))
          .select(col("doc_id"), col("prev"), col("p_lbl").as("cluster_id"))
      }
      val labels = Rounds.untilStable("reference cc", labels0, maxIters) { l =>
        val h1 = Rounds.eager(hop(l.withColumn("prev", col("cluster_id"))))
        jump(Rounds.eager(hop(jump(h1))))
      }(next => next.filter(col("cluster_id") < col("prev")).count())
      vertices.select(col("doc_id"))
        .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
  }
}
