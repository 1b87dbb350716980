package graft.operators

/** Dense numbers 0, 1, 2, … for the long ids one task meets, in order of
  * first appearance: an open-addressing table (load ≤ 1/2) maps an id to
  * its number, and an array maps the number back. Both grow by doubling,
  * so they hold at most 32 bytes per distinct id; nothing else grows with
  * the input. Shared by the in-task kernels, [[LocalUnionFind]] and
  * [[GraphKernel]]. */
private[operators] final class DenseIds {
  private var slots = new Array[Int](64) // number + 1, 0 = empty
  private var ids = new Array[Long](32)
  private var n = 0

  /** How many distinct ids have been numbered. */
  def size: Int = n

  /** The id numbered `v`. */
  def apply(v: Int): Long = ids(v)

  /** The number of `id`, the next free one when it is new. */
  def number(id: Long): Int = {
    val s = slotOf(id)
    if (slots(s) != 0) slots(s) - 1
    else {
      if (n == ids.length) ids = java.util.Arrays.copyOf(ids, 2 * n)
      ids(n) = id
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
