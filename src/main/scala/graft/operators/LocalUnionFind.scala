package graft.operators

/** Union-find over the long vertex ids of one task's edges, for
  * [[Dedup.connectedComponents]]. A union links the larger root under the
  * smaller, so every root is the smallest id of its tree; finds halve
  * their paths. Vertices are numbered densely as they first appear
  * ([[DenseIds]]), and an array holds each number's parent. Memory is at
  * most 40 bytes per distinct vertex, and nothing else grows with the
  * input. */
private[operators] final class LocalUnionFind {
  private val ids = new DenseIds
  private var parent = new Array[Int](32)

  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(vertex(a)), find(vertex(b)))
    if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
  }

  /** (id, root id) for every vertex seen, roots included. */
  def roots: Iterator[(Long, Long)] =
    Iterator.range(0, ids.size).map(v => (ids(v), ids(find(v))))

  private def find(v0: Int): Int = {
    var v = v0
    while (parent(v) != v) { parent(v) = parent(parent(v)); v = parent(v) }
    v
  }

  /** The number of `id`, which joins as its own root when it is new. */
  private def vertex(id: Long): Int = {
    val n = ids.size
    val v = ids.number(id)
    if (v == n) {
      if (v == parent.length) parent = java.util.Arrays.copyOf(parent, 2 * v)
      parent(v) = v
    }
    v
  }
}

private[operators] object LocalUnionFind {
  /** The (id, root id) pairs of one partition's edges. */
  def roots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val uf = new LocalUnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    uf.roots
  }
}
