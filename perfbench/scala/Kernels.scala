package perfbench

import java.io.{DataInputStream, FileInputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.unsafe.types.UTF8String

import graft.core.{DedupConfig, Lcs, Shingles, UnionFind}
import graft.functions.{PairVerify, TextSignatureExpr}
import graft.sketch.{FreqSketch, HllSketch, KllSketch}

/** Spark-free microbench of the dedup kernels and the three sketch
  * families, on documents sampled from the workload's own input
  * (Setup's sample.bin). Pairs are consecutive sampled documents — the
  * sample keeps dup families on adjacent ids, so the stream mixes true
  * near-dups with unrelated pairs, as a candidate stream does.
  *
  * Each measurement runs 2 warm-up and 5 timed repetitions and reports the
  * median. Outputs are cross-checked: pair_verify's Jaccard must equal
  * Shingles.jaccardSorted on every pair, and each sketch's serialize →
  * deserialize round trip must preserve its estimate.
  *
  *   Kernels <sample.bin> <out.json>
  */
object Kernels {
  private val Warmup = 2
  private val Reps = 5

  /** Median seconds of one call of `body` over the timed repetitions;
    * `prep` builds each repetition's input outside the timed interval. */
  private def medianWith[A](prep: => A)(body: A => Unit): Double = {
    (1 to Warmup).foreach(_ => body(prep))
    val ts = (1 to Reps).map { _ =>
      val a = prep
      val t0 = System.nanoTime(); body(a); (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(Reps / 2)
  }
  private def median(body: => Unit): Double = medianWith(())(_ => body)

  def main(args: Array[String]): Unit = {
    val Array(samplePath, outPath) = args
    val cfg = DedupConfig()
    val (ids, docs) = readSample(samplePath)
    val utf = docs.map(UTF8String.fromString)
    val n = docs.length
    val pairs = (0 until n - 1).map(i => (i, i + 1))
    var sink = 0L
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    out("kernel.text_signature_ns") = median {
      utf.foreach(d => sink += TextSignatureExpr.compute(d, cfg.shingleK, cfg.numHashes, cfg.seed).getLong(2))
    } / n * 1e9

    // consecutive pairs (i, i+1), (i+1, i+2): each call brings a new
    // document to both sides, so pair_verify's per-side memo never hits
    out("kernel.pair_verify_ns") = median {
      pairs.foreach { case (a, b) =>
        sink += PairVerify.compute(utf(a), utf(b), cfg.shingleK, cfg.seed).getInt(1)
      }
    } / pairs.length * 1e9
    val shingles = docs.map(Shingles.shinglesOf(_, cfg.shingleK, cfg.seed))
    val mismatches = pairs.count { case (a, b) =>
      PairVerify.compute(utf(a), utf(b), cfg.shingleK, cfg.seed).getDouble(0) !=
        Shingles.jaccardSorted(shingles(a), shingles(b))
    }
    require(mismatches == 0, s"pair_verify Jaccard differs from jaccardSorted on $mismatches pairs")

    out("kernel.lcs_at_least_ns") = median {
      pairs.foreach { case (a, b) =>
        val run = math.min(cfg.tauLcs, math.min(docs(a).length, docs(b).length) / 2)
        if (Lcs.hasCommonRun(docs(a), docs(b), run)) sink += 1
      }
    } / pairs.length * 1e9

    out("kernel.union_find_ns") = median {
      val uf = new UnionFind[String]()
      pairs.foreach { case (a, b) => uf.union(ids(a), ids(b)) }
      sink += uf.nonIdentityAssignments().length
    } / pairs.length * 1e9

    // sketches: HLL and Freq over the documents' tokens, KLL over lengths
    val tokens = docs.flatMap(_.split("[ \n]+"))
    val half = tokens.length / 2
    def hllOf(xs: Iterable[String]) = { val s = new HllSketch(12); xs.foreach(s.update); s }
    def kllOf(xs: Iterable[String]) = { val s = new KllSketch(200); xs.foreach(x => s.update(x.length.toDouble)); s }
    def freqOf(xs: Iterable[String]) = { val s = new FreqSketch[String](10); xs.foreach(x => s.update(x)); s }

    out("sketch.hll.update_ns") = median(sink += hllOf(tokens).estimate.toLong) / tokens.length * 1e9
    out("sketch.kll.update_ns") = median(sink += kllOf(tokens).n) / tokens.length * 1e9
    out("sketch.freq.update_ns") = median(sink += freqOf(tokens).numActive) / tokens.length * 1e9

    val (h1, h2) = (hllOf(tokens.take(half)), hllOf(tokens.drop(half)))
    val (k1, k2) = (kllOf(tokens.take(half)), kllOf(tokens.drop(half)))
    val (f1, f2) = (freqOf(tokens.take(half)), freqOf(tokens.drop(half)))
    // merges are in place: each repetition merges into a fresh copy
    out("sketch.hll.merge_us") =
      medianWith(h1.copy())(c => sink += c.merge(h2).estimate.toLong) * 1e6
    out("sketch.kll.merge_us") =
      medianWith(KllSketch.deserialize(k1.serialize()))(c => sink += c.merge(k2).n) * 1e6
    out("sketch.freq.merge_us") = medianWith(
      FreqSketch.deserialize(f1.serialize(FreqSketch.StringSerde), FreqSketch.StringSerde))(
      c => sink += c.merge(f2).numActive) * 1e6

    val (h, k, f) = (hllOf(tokens), kllOf(tokens), freqOf(tokens))
    out("sketch.hll.serialize_us") = median(sink += h.serialize().length) * 1e6
    out("sketch.kll.serialize_us") = median(sink += k.serialize().length) * 1e6
    out("sketch.freq.serialize_us") = median(sink += f.serialize(FreqSketch.StringSerde).length) * 1e6

    require(HllSketch.deserialize(h.serialize()).estimate == h.estimate,
      "HLL serialize round trip changed the estimate")
    require(KllSketch.deserialize(k.serialize()).quantile(0.5) == k.quantile(0.5),
      "KLL serialize round trip changed the median")
    val f0 = FreqSketch.deserialize(f.serialize(FreqSketch.StringSerde), FreqSketch.StringSerde)
    require(tokens.distinct.forall(t => f0.estimate(t) == f.estimate(t)),
      "Freq serialize round trip changed an estimate")

    System.err.println(s"kernels: checksum $sink") // keeps the timed work observable
    Files.writeString(Paths.get(outPath),
      out.map { case (key, v) => s""""$key": $v""" }.mkString("{", ", ", "}"))
  }

  private def readSample(path: String): (Array[String], Array[String]) = {
    val in = new DataInputStream(new java.io.BufferedInputStream(new FileInputStream(path)))
    def str(): String = { val b = new Array[Byte](in.readInt()); in.readFully(b); new String(b, "UTF-8") }
    val ids = Array.newBuilder[String]; val docs = Array.newBuilder[String]
    try while (in.available() > 0) { ids += str(); docs += str() } finally in.close()
    (ids.result(), docs.result())
  }
}
