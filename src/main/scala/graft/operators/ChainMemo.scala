package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Session-scoped memo for localCheckpoint'd plan chains — the `pqCore`
  * posture (r11), generalized so every family with a shared index/truth
  * build (PQ codebooks, the k-NN graph, the HNSW visited walk, the
  * shingle pair-stats table, the unigram-LM DP, the co-order edge list,
  * the namespace diff pair) uses ONE audited implementation instead of
  * re-growing the memo logic per family.
  *
  * Contract (unchanged from pqCore):
  *   - Keyed by (sessionUUID, input tag). The input tag MUST identify the
  *     builder's inputs completely (sfDir + any parameters); callers that
  *     run the chain over a non-canonical input (sampled twins, synthetic
  *     soak corpora) must bypass the memo or key it differently.
  *   - A chain is localCheckpoint'd — lineage TRUNCATED — so a memo hit
  *     must prove the checkpoint blocks still exist: each entry remembers
  *     the RDD ids its build persisted and is rebuilt if any id left
  *     `getPersistentRDDs`. Bench's per-query block cleanup
  *     ([[graft.Harness.dropBlocks]]) does exactly
  *     that, so in Bench every QUERY still rebuilds its chains (run 1)
  *     and only a query's OWN runs 2..n share — per-query timing stays
  *     attributable; Verify and long-lived sessions get full cross-query
  *     sharing (the production "build the index once, serve every
  *     consumer" shape).
  *   - Nothing is ever persisted across sessions or processes: the memo
  *     holds plans + block ids inside one SparkContext, and every bench /
  *     verify invocation recomputes from the parquet inputs.
  *   - LRU-bounded; eviction unpersists the entry's checkpoint RDDs BY ID
  *     via `sc.getPersistentRDDs` (ADVICE r11: `Dataset.unpersist` only
  *     clears CacheManager entries, never checkpoint blocks).
  *
  * The persisted-id capture is a before/after diff of the persistent-RDD
  * set around the build, serialized under the memo lock. A concurrent
  * NON-memo thread persisting an RDD mid-build would be attributed to the
  * entry (ADVICE r11, low) — the failure direction is a spurious rebuild,
  * never stale data, and the engine's drivers (Bench/Verify/Tool) are
  * single-threaded where memos are in play.
  *
  * `V` carries the built chain (DataFrames / tuples of DataFrames).
  */
final class ChainMemo[V](maxEntries: Int = 4) {

  // (context, persisted RDD ids, built chain)
  private type Entry = (SparkContext, Set[Int], V)

  private val map =
    new java.util.LinkedHashMap[(String, String), Entry](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Entry]): Boolean =
        size > maxEntries && {
          val (sc, ids, _) = e.getValue
          try ids.foreach(id =>
            sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
          catch { case _: Throwable => () }
          true
        }
    }

  /** Return the memoized chain for (session, tag), building (and
    * recording the build's newly persisted RDD ids) on miss or after the
    * blocks were dropped. */
  def getOrBuild(spark: SparkSession, tag: String)(build: => V): V =
    synchronized {
      val sc = spark.sparkContext
      val key = (org.apache.spark.sql.graftshim.sessionKey(spark), tag)
      val hit = map.get(key)
      if (hit != null && hit._2.subsetOf(sc.getPersistentRDDs.keySet)) hit._3
      else {
        if (hit != null) map.remove(key)
        val before = sc.getPersistentRDDs.keySet.toSet
        val built = build
        val ids = sc.getPersistentRDDs.keySet.toSet -- before
        map.put(key, (sc, ids, built))
        built
      }
    }
}
