package graft.core

/** Open-addressing Long hash set (linear probing, power-of-2 capacity,
  * load factor ≤ 0.5) with an insertion-order element array, built for the
  * pair-verify probe kernel: one set per memoized doc side, refilled on
  * memo miss, probed per pair. 0 marks an empty slot; the value 0 itself is
  * tracked out-of-band (murmur output hitting exactly 0 is ~2^-64 per
  * shingle, but correctness must not depend on that).
  *
  * `elems` keeps the distinct elements densely in insertion order so the
  * per-pair intersection walks exactly `size` longs sequentially on one
  * side (the table scan would touch ≥ 2× slots); SimHash's per-bit vote is
  * order-insensitive, so fingerprints over `elems` equal fingerprints over
  * the sorted shingle arrays of `Shingles.shinglesOf`. */
final class LongHashSet(expected: Int) {

  private[this] var table = new Array[Long](LongHashSet.tableCap(expected))
  private[this] var mask = table.length - 1
  /** distinct elements in insertion order; capacity grows with the table */
  var elems: Array[Long] = new Array[Long](math.max(expected, 8))
  private[this] var n = 0

  def size: Int = n

  /** Empty the set and guarantee capacity for `expect` adds without
    * growth. Reuses the backing arrays when they are large enough (the
    * memo refill path: a memset, no allocation). */
  def reset(expect: Int): Unit = {
    val want = LongHashSet.tableCap(expect)
    if (want > table.length) {
      table = new Array[Long](want)
      mask = want - 1
    } else {
      java.util.Arrays.fill(table, 0L)
    }
    if (elems.length < expect) elems = new Array[Long](expect)
    n = 0
  }

  /** Add `x`; true iff it was not present. Grows past the constructed
    * capacity if needed (the kernel sizes via reset() so growth never
    * fires there, but a general caller must not overflow). */
  def add(x: Long): Boolean = {
    if (x == 0L) {
      // scan elems for the rare zero (bounded by its rarity, not by n:
      // only reached when a shingle hashes to exactly 0)
      var i = 0
      while (i < n) { if (elems(i) == 0L) return false; i += 1 }
    } else {
      if ((n + 1) * 2 > table.length) rehash()
      var i = ((x ^ (x >>> 32)).toInt) & mask
      var v = table(i)
      while (v != 0L) {
        if (v == x) return false
        i = (i + 1) & mask
        v = table(i)
      }
      table(i) = x
    }
    if (n == elems.length) elems = java.util.Arrays.copyOf(elems, n * 2)
    elems(n) = x
    n += 1
    true
  }

  private def rehash(): Unit = {
    val bigger = new Array[Long](table.length * 2)
    val bmask = bigger.length - 1
    var s = 0
    while (s < table.length) {
      val v = table(s)
      if (v != 0L) {
        var i = ((v ^ (v >>> 32)).toInt) & bmask
        while (bigger(i) != 0L) i = (i + 1) & bmask
        bigger(i) = v
      }
      s += 1
    }
    table = bigger
    mask = bmask
  }

  def contains(x: Long): Boolean = {
    if (x == 0L) {
      var i = 0
      while (i < n) { if (elems(i) == 0L) return true; i += 1 }
      false
    } else {
      var i = ((x ^ (x >>> 32)).toInt) & mask
      var v = table(i)
      while (v != 0L) {
        if (v == x) return true
        i = (i + 1) & mask
        v = table(i)
      }
      false
    }
  }
}

object LongHashSet {

  /** Smallest power-of-2 table ≥ 2× the expected element count. */
  private def tableCap(expected: Int): Int = {
    val want = math.max(expected, 8) * 2
    Integer.highestOneBit(math.max(want, 2) - 1) << 1
  }

  /** |a ∩ b|: walk the smaller side's dense element array, probe the
    * larger side's table. */
  def intersectCount(a: LongHashSet, b: LongHashSet): Int = {
    val (small, big) = if (a.size <= b.size) (a, b) else (b, a)
    val es = small.elems
    val m = small.size
    var inter = 0
    var i = 0
    while (i < m) {
      if (big.contains(es(i))) inter += 1
      i += 1
    }
    inter
  }

  /** Exact Jaccard via probe — the counterpart of Shingles.jaccardSorted;
    * identical double for identical inputs (same inter/union integers). */
  def jaccardProbe(a: LongHashSet, b: LongHashSet): Double = {
    val na = a.size; val nb = b.size
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    val inter = intersectCount(a, b)
    inter.toDouble / (na + nb - inter)
  }
}
