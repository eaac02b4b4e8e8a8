package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{LongHashSet, Shingles, SimHash64}

/** The pair-verify kernel (hash-set probe intersect behind a last-seen
  * memo) must equal the reference computation on every input: Jaccard of
  * the sorted shingle arrays (Shingles.jaccardSorted over shinglesOf) and
  * the Hamming distance of their SimHash fingerprints — same double, same
  * distance. q09-q12's hash-exact oracles ride on this. */
class VerifyKernelSpec extends AnyFunSuite {

  private val K = 8
  private val Seed = 9001L

  /** Reference (jaccard, simhash distance) from the driver-side shingler. */
  private def reference(a: String, b: String): (Double, Int) = {
    val sa = Shingles.shinglesOf(a, K, Seed)
    val sb = Shingles.shinglesOf(b, K, Seed)
    (Shingles.jaccardSorted(sa, sb),
      SimHash64.hammingDist(SimHash64.fingerprint(sa), SimHash64.fingerprint(sb)))
  }

  private def kernel(s: PairVerify.Scratch, a: String, b: String): (Double, Int) =
    PairVerify.computeWith(s, UTF8String.fromString(a), UTF8String.fromString(b), K, Seed)

  /** Kernel on a fresh scratch vs the reference; exact equality. */
  private def check(a: String, b: String): Unit = {
    val got = kernel(new PairVerify.Scratch, a, b)
    assert(got === reference(a, b), s"kernel vs reference on ('${a.take(40)}', '${b.take(40)}')")
  }

  test("kernels agree on random near-dup and unrelated docs") {
    val rnd = new java.util.Random(7)
    def doc(len: Int): String = {
      val sb = new StringBuilder
      (0 until len).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar))
      sb.toString
    }
    (0 until 200).foreach { _ =>
      val base = doc(50 + rnd.nextInt(2000))
      val near = {
        val c = base.toCharArray
        (0 until 1 + rnd.nextInt(6)).foreach(_ => c(rnd.nextInt(c.length)) = (32 + rnd.nextInt(95)).toChar)
        new String(c)
      }
      for (other <- Seq(near, doc(50 + rnd.nextInt(500)), base)) check(base, other)
    }
  }

  test("kernels agree on edge shapes: empty, 1-byte, shorter-than-k, repeated content") {
    for ((a, b) <- Seq(("", ""), ("", "xyz"), ("a", "a"), ("a", "b"),
        ("abc", "abc"), ("abc", "abd"), ("aaaaaaaaaaaaaaaa", "aaaaaaaaaaaaaaab"),
        ("ab" * 40, "ab" * 40 + "c"),
        ("the quick brown fox jumps", "the quick brown fox jumped"))) {
      check(a, b)
    }
  }

  test("kernels agree through the memo: repeated side A over a pair run") {
    // one scratch across the run: side A hits its memo on every row after
    // the first, side B misses; an interleaved repeat of an earlier B and a
    // swap of the sides exercise memo invalidation too
    val s = new PairVerify.Scratch
    val a = "the quick brown fox jumps over the lazy dog " * 20
    val rnd = new java.util.Random(3)
    val bs = (0 until 50).map(i =>
      "the quick brown fox jumps over the lazy dog " * 20 + ("x" * rnd.nextInt(10)) + i)
    bs.zipWithIndex.foreach { case (b, i) =>
      assert(kernel(s, a, b) === reference(a, b), s"row $i")
      assert(kernel(s, a, bs(i / 2)) === reference(a, bs(i / 2)), s"repeat $i")
      assert(kernel(s, b, a) === reference(b, a), s"swap $i")
    }
  }

  test("kernels agree past RetainCap (transient path)") {
    val rnd = new java.util.Random(5)
    val big = {
      val sb = new StringBuilder
      (0 until 600000).foreach(_ => sb.append((32 + rnd.nextInt(95)).toChar)) // > 512k RetainCap
      sb.toString
    }
    check(big, big.substring(0, 599000) + "zz")
    check(big, big)
    assert(reference(big, big)._1 === 1.0)
  }

  test("LongHashSet: add/contains/dedup, zero element, reuse via reset") {
    val s = new LongHashSet(4)
    assert(s.add(5L) && !s.add(5L) && s.contains(5L) && !s.contains(6L))
    assert(s.add(0L) && !s.add(0L) && s.contains(0L))
    (1L to 100L).foreach(i => s.add(i * 0x9e3779b97f4a7c15L))
    assert(s.size === 102)
    s.reset(10)
    assert(s.size === 0 && !s.contains(5L) && !s.contains(0L))
    assert(s.add(5L))
  }

  test("jaccardProbe equals jaccardSorted on random long sets") {
    val rnd = new java.util.Random(11)
    (0 until 100).foreach { _ =>
      val a = Array.fill(rnd.nextInt(300))(rnd.nextInt(200).toLong + 1)
      val b = Array.fill(rnd.nextInt(300))(rnd.nextInt(200).toLong + 1)
      val sa = Shingles.sortedDistinct(a.clone())
      val sb = Shingles.sortedDistinct(b.clone())
      val ha = new LongHashSet(a.length max 1); a.foreach(ha.add)
      val hb = new LongHashSet(b.length max 1); b.foreach(hb.add)
      assert(ha.size === sa.length && hb.size === sb.length)
      assert(LongHashSet.jaccardProbe(ha, hb) === Shingles.jaccardSorted(sa, sb))
    }
  }
}
