package graft.multimodal

/** The one-task path of [[Multimodal.incrementalHammingPairs]] in primitive
  * arrays. Flagged rows (doc_id, ahash, nw: the row is in the batch) stream
  * through [[add]]; [[pairs]] then emits the step's pairs from an iterator,
  * computing each one as it is pulled. Only the members by hash, the cell
  * lists and one cell's qualifying hash pairs are held, never the output.
  *
  * Layout: distinct hash `i` (dense, in first-seen order) has value
  * `hashes(i)`, and `table` is an open-addressing hash → `i` map (linear
  * probing, load at most 1/2, -1 empty) that keeps no key copy of its own.
  * Member row `j` has id `docs(j)`; the batch members of hash `i` are the
  * list that starts at `headNew(i)` and follows `next`, the prior members
  * the list at `headOld(i)` (-1 ends a list). [[pairs]] drops `table` and
  * lays the distinct hashes out by window cell, cell `c` (window `c >>> 16`)
  * holding `inCell(start(c) until start(c + 1))`.
  *
  * The pairs are the distributed path's, as a multiset:
  *  - exact (Hamming 0): batch with batch where the ids differ, each pair
  *    of rows once, and batch with prior where the ids differ;
  *  - cross: in each cold cell (at most `bucketCap` distinct hashes), a
  *    batch hash with a larger batch hash or with a prior-only hash, kept
  *    at Hamming ≤ `maxHamming`. A hash pair that shares several cold
  *    cells is emitted from the first of them only, which stands in for
  *    the distributed path's `distinct`. Each hash pair (h1 < h2) expands
  *    to batch(h1) × all(h2), then prior(h1) × batch(h2).
  * Every pair comes out as (least id, greatest id, Hamming). The first
  * element of [[pairs]] is the marker (hot cells, their distinct hashes,
  * -1), which the caller observes and filters out.
  *
  * Footprint: 24 bytes per distinct hash while rows are added (value, two
  * list heads, `table`) plus 12 per row (`docs`, `next`), twice that just
  * after the arrays double; then 16 per distinct hash for the cell lists
  * and 2 MB for the cell offsets. [[Multimodal.HammingFoldBytesPerRow]] is
  * the measured peak.
  */
private[multimodal] final class HammingFold(maxHamming: Int, bucketCap: Int) {
  import HammingFold._

  private var table = Array.fill(16)(-1)
  private var hashes = new Array[Long](8)
  private var headNew = new Array[Int](8)
  private var headOld = new Array[Int](8)
  private var n = 0
  private var docs = new Array[Long](8)
  private var next = new Array[Int](8)
  private var m = 0

  def add(doc: Long, hash: Long, nw: Boolean): Unit = {
    val i = index(hash)
    if (m == docs.length) {
      docs = java.util.Arrays.copyOf(docs, m * 2)
      next = java.util.Arrays.copyOf(next, m * 2)
    }
    docs(m) = doc
    if (nw) { next(m) = headNew(i); headNew(i) = m }
    else { next(m) = headOld(i); headOld(i) = m }
    m += 1
  }

  /** The marker, then the exact pairs, then the cross pairs. Call once,
    * after the last [[add]].
    */
  def pairs: Iterator[(Long, Long, Long)] = {
    table = null
    val start = new Array[Int](Cells + 1)
    var i = 0
    while (i < n) {
      var w = 0
      while (w < 4) { start(cell(hashes(i), w) + 1) += 1; w += 1 }
      i += 1
    }
    var c = 0
    var hotCells = 0L
    var excluded = 0L
    while (c < Cells) {
      val occ = start(c + 1)
      if (occ > bucketCap) { hotCells += 1; excluded += occ }
      start(c + 1) += start(c)
      c += 1
    }
    val inCell = new Array[Int](4 * n)
    val fill = java.util.Arrays.copyOf(start, Cells)
    i = 0
    while (i < n) {
      var w = 0
      while (w < 4) {
        val k = cell(hashes(i), w)
        inCell(fill(k)) = i
        fill(k) += 1
        w += 1
      }
      i += 1
    }
    def cold(c: Int): Boolean = start(c + 1) - start(c) <= bucketCap
    // the first window in which both hashes share a cold cell
    def firstCold(a: Long, b: Long): Int = {
      var w = 0
      while (w < 4 && !(window(a, w) == window(b, w) && cold(cell(a, w))))
        w += 1
      w
    }
    // the hash pairs of cold cell c that qualify and have no earlier
    // shared cold cell, packed (smaller hash, larger hash), expanded
    // lazily; held for one cell at a time
    def cellPairs(c: Int): Iterator[(Long, Long, Long)] =
      if (start(c + 1) - start(c) < 2 || !cold(c)) Iterator.empty
      else {
        val found = Array.newBuilder[Long]
        var x = start(c)
        while (x < start(c + 1)) {
          val a = inCell(x)
          if (headNew(a) >= 0) {
            var y = start(c)
            while (y < start(c + 1)) {
              val b = inCell(y)
              val ha = hashes(a)
              val hb = hashes(b)
              if (b != a && (headNew(b) < 0 || ha < hb) &&
                  java.lang.Long.bitCount(ha ^ hb) <= maxHamming &&
                  firstCold(ha, hb) == (c >>> 16))
                found += (if (ha < hb) (a.toLong << 32) | b
                  else (b.toLong << 32) | a)
              y += 1
            }
          }
          x += 1
        }
        found.result().iterator
          .flatMap(p => expand((p >>> 32).toInt, p.toInt))
      }
    Iterator.single((hotCells, excluded, -1L)) ++
      Iterator.range(0, n).flatMap(exactPairs) ++
      Iterator.range(0, Cells).flatMap(cellPairs)
  }

  private def chain(j: Int): Iterator[Int] =
    Iterator.iterate(j)(next(_)).takeWhile(_ >= 0)

  private def pair(p: Int, q: Int, hm: Long): (Long, Long, Long) =
    if (docs(p) < docs(q)) (docs(p), docs(q), hm) else (docs(q), docs(p), hm)

  private def exactPairs(i: Int): Iterator[(Long, Long, Long)] =
    chain(headNew(i)).flatMap { p =>
      (chain(next(p)) ++ chain(headOld(i)))
        .filter(q => docs(q) != docs(p)).map(pair(p, _, 0L))
    }

  /** Doc pairs of the hash pair (i1, i2), hashes(i1) < hashes(i2). */
  private def expand(i1: Int, i2: Int): Iterator[(Long, Long, Long)] = {
    val hm = java.lang.Long.bitCount(hashes(i1) ^ hashes(i2)).toLong
    chain(headNew(i1)).flatMap { p =>
      (chain(headNew(i2)) ++ chain(headOld(i2))).map(pair(p, _, hm))
    } ++ chain(headOld(i1)).flatMap { p =>
      chain(headNew(i2)).map(pair(p, _, hm))
    }
  }

  private def slot(h: Long, mask: Int): Int =
    ((h * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask

  /** The index of hash `h`, added with empty member lists when new. */
  private def index(h: Long): Int = {
    val mask = table.length - 1
    var s = slot(h, mask)
    while (table(s) >= 0) {
      if (hashes(table(s)) == h) return table(s)
      s = (s + 1) & mask
    }
    if (n == hashes.length) {
      hashes = java.util.Arrays.copyOf(hashes, n * 2)
      headNew = java.util.Arrays.copyOf(headNew, n * 2)
      headOld = java.util.Arrays.copyOf(headOld, n * 2)
    }
    hashes(n) = h
    headNew(n) = -1
    headOld(n) = -1
    table(s) = n
    n += 1
    if (2 * n > table.length) rehash()
    n - 1
  }

  private def rehash(): Unit = {
    val grown = Array.fill(table.length * 2)(-1)
    val mask = grown.length - 1
    var i = 0
    while (i < n) {
      var s = slot(hashes(i), mask)
      while (grown(s) >= 0) s = (s + 1) & mask
      grown(s) = i
      i += 1
    }
    table = grown
  }
}

private[multimodal] object HammingFold {
  /** Cells across the four windows: 2^16 values each. */
  val Cells: Int = 4 * 65536

  /** The 16 bits of `h` at rotation 16·w, as [[Multimodal.distinctHashBuckets]]
    * reads them.
    */
  def window(h: Long, w: Int): Int = ((h >>> (48 - 16 * w)) & 0xFFFF).toInt

  /** The flat cell key `tb` = w·2^16 + window. */
  def cell(h: Long, w: Int): Int = (w << 16) | window(h, w)
}
