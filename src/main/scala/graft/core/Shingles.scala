package graft.core

import java.util.Arrays
import org.apache.spark.unsafe.Platform

/** k-byte shingling over UTF-8 bytes (not codepoints — the reference hashes
  * raw byte slices: hll/hll_sketch.go:284-295). Each k-byte window is hashed
  * with murmur3-x64-128(seed) and the 64-bit lo half is kept. Output is the
  * DISTINCT shingle set, sorted ascending (unsigned order irrelevant here —
  * Jaccard needs set semantics; signed sort is fine as long as both sides of
  * an intersection use the same order).
  */
object Shingles {

  /** Distinct sorted shingle hashes of `len` bytes at (base, offset). */
  def shingles(base: AnyRef, offset: Long, len: Int, k: Int, seed: Long): Array[Long] = {
    if (len < k) {
      if (len == 0) return Array.emptyLongArray
      // shorter than one shingle: hash the whole thing as a single shingle
      return Array(Murmur3x128.hash64(base, offset, len, seed))
    }
    val n = len - k + 1
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Murmur3x128.hash64(base, offset + i, k, seed)
      i += 1
    }
    sortedDistinct(out)
  }

  def shinglesOf(text: String, k: Int, seed: Long): Array[Long] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    shingles(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, k, seed)
  }

  /** In-place sort + dedup; returns a (possibly shorter) array. */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    if (a.length <= 1) return a
    Arrays.sort(a)
    var w = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else Arrays.copyOf(a, w)
  }

  /** Distinct shingle hashes inserted into `set` (caller resets it with the
    * expected window count first): the zero-allocation form of `shingles`
    * for the pair-verification hot loop. No sort; dedup happens in the
    * hash table. */
  def shinglesIntoSet(base: AnyRef, offset: Long, len: Int, k: Int, seed: Long,
                      set: LongHashSet): Unit = {
    if (len < k) {
      if (len == 0) return
      set.add(Murmur3x128.hash64(base, offset, len, seed))
      return
    }
    val n = len - k + 1
    var i = 0
    while (i < n) {
      set.add(Murmur3x128.hash64(base, offset + i, k, seed))
      i += 1
    }
  }

  /** Exact Jaccard of two sorted-distinct arrays via merge intersection,
    * no allocation: the reference Jaccard (OracleDedup and the pair-verify
    * kernel specs check `pair_verify` against it). */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    val na = a.length; val nb = b.length
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union
  }
}
