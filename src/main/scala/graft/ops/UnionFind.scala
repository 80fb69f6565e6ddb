package graft.ops

/** Union-find over 64-bit node ids in primitive arrays: the fold behind
  * [[TextOps.connectedComponents]]' one-task path. Edges stream through
  * [[union]]; only the nodes are held, never the edge list.
  *
  * Layout: node `i` (dense, in first-seen order) has id `ids(i)` and parent
  * `parent(i)`; `table` is an open-addressing id → node map (linear
  * probing, load at most 1/2, -1 empty) that keeps no key copy of its own,
  * since `ids` holds it. Union links the root with the larger id under the
  * one with the smaller, so every root is its set's minimum id, the label
  * the distributed rounds produce. Find halves paths.
  *
  * Footprint: 8 (`ids`) + 4 (`parent`) + 8 (`table`) bytes per node when
  * all three are full, twice that just after they double, and 48 bytes
  * per node while the table is rehashed, when the old and new tables
  * coexist. [[TextOps.UnionFindBytesPerEdge]] is the measured peak.
  */
private[ops] final class UnionFind {
  private var table = Array.fill(16)(-1)
  private var ids = new Array[Long](8)
  private var parent = new Array[Int](8)
  private var n = 0

  def union(a: Long, b: Long): Unit = {
    val ra = find(node(a))
    val rb = find(node(b))
    if (ra != rb) {
      if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** Every node seen, with its set's minimum id: (id, label). */
  def labels: Iterator[(Long, Long)] =
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))

  private def find(i: Int): Int = {
    var x = i
    while (parent(x) != x) {
      parent(x) = parent(parent(x))
      x = parent(x)
    }
    x
  }

  private def slot(id: Long, mask: Int): Int =
    ((id * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask

  /** The node of `id`, added as its own root when first seen. */
  private def node(id: Long): Int = {
    val mask = table.length - 1
    var h = slot(id, mask)
    while (table(h) >= 0) {
      if (ids(table(h)) == id) return table(h)
      h = (h + 1) & mask
    }
    if (n == ids.length) {
      ids = java.util.Arrays.copyOf(ids, n * 2)
      parent = java.util.Arrays.copyOf(parent, n * 2)
    }
    ids(n) = id
    parent(n) = n
    table(h) = n
    n += 1
    if (2 * n > table.length) rehash()
    n - 1
  }

  private def rehash(): Unit = {
    val grown = Array.fill(table.length * 2)(-1)
    val mask = grown.length - 1
    var i = 0
    while (i < n) {
      var h = slot(ids(i), mask)
      while (grown(h) >= 0) h = (h + 1) & mask
      grown(h) = i
      i += 1
    }
    table = grown
  }
}
