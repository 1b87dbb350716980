package graft.operators

/** Union-find over the long vertex ids of one task's edges, for
  * [[Dedup.connectedComponents]]. A union links the larger root under the
  * smaller, so every root is the smallest id of its tree; finds halve
  * their paths. Vertices are numbered densely as they first appear: an
  * open-addressing table (load ≤ 1/2) maps an id to its number, and two
  * arrays hold each number's id and parent. Memory is at most 40 bytes per
  * distinct vertex, and nothing else grows with the input. */
private[operators] final class LocalUnionFind {
  private var slots = new Array[Int](64) // vertex number + 1, 0 = empty
  private var ids = new Array[Long](32)
  private var parent = new Array[Int](32)
  private var n = 0

  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(vertex(a)), find(vertex(b)))
    if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
  }

  /** (id, root id) for every vertex seen, roots included. */
  def roots: Iterator[(Long, Long)] = Iterator.range(0, n).map(v => (ids(v), ids(find(v))))

  private def find(v0: Int): Int = {
    var v = v0
    while (parent(v) != v) { parent(v) = parent(parent(v)); v = parent(v) }
    v
  }

  /** The number of `id`, which joins as its own root when it is new. */
  private def vertex(id: Long): Int = {
    val s = slotOf(id)
    if (slots(s) != 0) slots(s) - 1
    else {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        parent = java.util.Arrays.copyOf(parent, 2 * n)
      }
      ids(n) = id
      parent(n) = n
      n += 1
      slots(s) = n
      if (2 * n > slots.length) {
        slots = new Array[Int](2 * slots.length)
        (0 until n).foreach(v => slots(slotOf(ids(v))) = v + 1)
      }
      n - 1
    }
  }

  /** The slot holding `id`, or the empty slot where it would go. */
  private def slotOf(id: Long): Int = {
    val mask = slots.length - 1
    val h = id * 0x9E3779B97F4A7C15L
    var s = (h ^ (h >>> 32)).toInt & mask
    while (slots(s) != 0 && ids(slots(s) - 1) != id) s = (s + 1) & mask
    s
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
