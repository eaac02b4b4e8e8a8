package perfbench

import java.io.{DataOutputStream, File}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DedupConfig, OracleDedup}
import graft.pipeline.{BucketedCorpus, CheckpointedDedup, ParquetTableIO, TableIO, Transcripts}

/** Builds one dedup workload's inputs under `<dir>` from its seed:
  *
  *   Setup <fresh|resume> <dir> <convs> <seed> <reps> <sampleDocs>
  *
  *  - `corpus/`: the transcripts in the production bucketed layout;
  *  - `truth.json`: exact dup pairs (OracleDedup) over a seeded sample of
  *    the corpus's documents, plus the input's turn count and bytes;
  *  - `sample.bin`: the sampled documents, for the kernel microbench;
  *  - resume only: `ref/` (an uninterrupted run, the reference output) and
  *    `snap/` (the checkpoints of a run that crashed in verified_pairs).
  *
  * The input build (generate + bucketed write) is repeated `reps` times
  * (same seed, same bytes) and `setup.json` records each repetition's
  * seconds, so set-up time can be reported from a median rather than one
  * JIT-cold sample; the sampling, oracle and snapshot run once (`once_s`).
  */
object Setup {
  val Buckets = 32
  val RunId = "bench"

  def main(args: Array[String]): Unit = {
    val Array(kind, dir, convsArg, seedArg, repsArg, sampleArg) = args
    val (convs, seed, reps, sampleDocs) =
      (convsArg.toLong, seedArg.toLong, repsArg.toInt, sampleArg.toInt)
    val spark = SparkSession.builder().appName("perfbench-setup")
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = DedupConfig()
    val corpusDir = s"$dir/corpus"

    val buildSeconds = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val turns = kind match {
        case "fresh" => Transcripts.generateDf(spark, convs, seed, blockSize = 512, outPartitions = 8)
        case "resume" => DupHeavy.generate(spark, convs, seed)
      }
      BucketedCorpus.write(turns, corpusDir, Buckets)
      (System.nanoTime() - t0) / 1e9
    }

    val t0 = System.nanoTime()
    val sample = sampleDocsOf(spark, corpusDir, sampleDocs, seed)
    writeTruth(spark, dir, corpusDir, sample, OracleDedup.run(sample, cfg))
    if (kind == "resume") snapshot(spark, dir, corpusDir, cfg)
    Files.writeString(Paths.get(s"$dir/setup.json"),
      s"""{"build_s": [${buildSeconds.mkString(", ")}], "once_s": ${(System.nanoTime() - t0) / 1e9}}""")
    spark.stop()
  }

  /** `ref/`: an uninterrupted run of the corpus — the output a resumed run
    * must reproduce. `snap/`: a run crashed by the benchmark's TableIO in
    * verified_pairs. The crashed run starts from a copy of the reference
    * run's first four stages and their lineage rows (the state a run that
    * got that far leaves; recomputing them would only repeat `ref/`'s work),
    * resumes them and dies as its verified_pairs write begins. */
  private def snapshot(spark: SparkSession, dir: String, corpusDir: String,
                       cfg: DedupConfig): Unit = {
    val input = BucketedCorpus.readAuto(spark, corpusDir)
    def docs = Some(() => BucketedCorpus.readDocs(spark, corpusDir))
    new CheckpointedDedup(new ParquetTableIO(s"$dir/ref"), cfg, RunId).run(input, docs)
    val done = Seq("docs", "signatures", "bands", "cand_pairs")
    done.foreach { st =>
      org.apache.commons.io.FileUtils.copyDirectory(
        new File(s"$dir/ref/$RunId/$st"), new File(s"$dir/snap/$RunId/$st"))
    }
    spark.read.parquet(s"$dir/ref/$RunId/metrics").where(col("stage").isin(done: _*))
      .write.parquet(s"$dir/snap/$RunId/metrics")
    val crashed =
      try {
        new CheckpointedDedup(new CrashingTableIO(s"$dir/snap", s"$RunId/verified_pairs"),
          cfg, RunId).run(input, docs)
        false
      } catch { case _: CrashingTableIO.Crash => true }
    require(crashed, "the crash snapshot run did not reach verified_pairs")
  }

  /** `n` documents in seeded windows of 16 consecutive conv_ids: the
    * generators plant dup families on adjacent ids, so windows keep
    * families (and their truth pairs) together where a uniform sample of
    * single documents would break them apart. Documents are rebuilt on the
    * driver by the oracle's own rule (Transcripts.docsLocal), not by the
    * pipeline. */
  def sampleDocsOf(spark: SparkSession, corpusDir: String, n: Int,
                   seed: Long): Seq[(String, String)] = {
    val corpus = BucketedCorpus.readAuto(spark, corpusDir)
    val ids = corpus.select(col("conv_id")).distinct().collect()
      .map(_.getString(0)).sorted
    val rnd = new java.util.Random(seed * 31 + 7)
    val picked = scala.collection.mutable.LinkedHashSet.empty[String]
    val window = 16
    while (picked.size < math.min(n, ids.length)) {
      val start = rnd.nextInt(math.max(1, ids.length - window + 1))
      ids.slice(start, start + window).foreach(id => if (picked.size < n) picked += id)
    }
    import spark.implicits._
    val turns = corpus.join(broadcast(picked.toSeq.toDF("conv_id")), Seq("conv_id"))
      .as[Transcripts.Turn].collect().toSeq
    Transcripts.docsLocal(turns)
  }

  private def writeTruth(spark: SparkSession, dir: String, corpusDir: String,
                         sample: Seq[(String, String)], truth: OracleDedup.Truth): Unit = {
    val nTurns = spark.read.parquet(corpusDir).count()
    val bytes = new File(corpusDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    def q(s: String) = "\"" + s + "\""
    val pairs = truth.pairs.toSeq.sorted.map { case (a, b) => s"[${q(a)}, ${q(b)}]" }
    Files.writeString(Paths.get(s"$dir/truth.json"),
      s"""{"turns": $nTurns, "input_bytes": $bytes, "sample_docs": ${sample.size},
         |"pairs": [${pairs.mkString(", ")}]}""".stripMargin)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(s"$dir/sample.bin")))
    try sample.foreach { case (id, doc) =>
      Seq(id, doc).foreach { s =>
        val b = s.getBytes("UTF-8"); out.writeInt(b.length); out.write(b)
      }
    } finally out.close()
  }
}

/** TableIO that lets a run proceed until it starts to write `crashAt`, and
  * throws there: the state a driver that dies as that stage's write begins
  * leaves on disk (its predecessors complete, the stage itself absent). */
final class CrashingTableIO(root: String, crashAt: String) extends TableIO {
  private val inner = new ParquetTableIO(root)
  override def write(df: DataFrame, name: String): Unit =
    if (name == crashAt) throw new CrashingTableIO.Crash(name) else inner.write(df, name)
  override def append(df: DataFrame, name: String): Unit = inner.append(df, name)
  override def read(spark: SparkSession, name: String): DataFrame = inner.read(spark, name)
  override def exists(spark: SparkSession, name: String): Boolean = inner.exists(spark, name)
}

object CrashingTableIO {
  final class Crash(stage: String) extends RuntimeException(s"crash injected in $stage")
}

/** A corpus where most conversations sit in near-dup families whose token
  * edit rates straddle the Jaccard threshold (0.8 at k = 8 byte shingles
  * falls near a 5% token edit rate), so the verify stage sees many
  * candidates on both sides of the gate. Family members take adjacent
  * conv_ids. Deterministic in (convs, seed) and independent of
  * partitioning: each family owns its Random. */
object DupHeavy {
  private val EditRates = Array(0.01, 0.03, 0.05, 0.07, 0.09)

  def generate(spark: SparkSession, convs: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val slots = 8 // conv_id slots per family
    val nFamilies = math.max(1L, convs / 4)
    val words = {
      val r = new java.util.Random(seed)
      val syll = Array("ka", "lo", "mi", "ta", "re", "su", "no", "pi", "ve", "da",
        "zu", "fe", "gi", "ho", "ja", "ku", "le", "mo", "ni", "pa")
      Array.tabulate(5000)(_ => (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString)
    }
    spark.range(0, nFamilies, 1, 16).as[Long].mapPartitions(_.flatMap { fam =>
      val rnd = new java.util.Random(graft.core.MinHasher.mix64(seed ^ (fam * 0x9E3779B97F4A7C15L)))
      def sentence(len: Int) = (0 until len).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      val base = Vector.fill(4 + rnd.nextInt(21))(sentence(6 + rnd.nextInt(20)))
      // 15% singletons; families of 2 to 6 otherwise
      val members = if (rnd.nextDouble() < 0.15) 1 else 2 + rnd.nextInt(5)
      (0 until members).iterator.flatMap { m =>
        val p = if (m == 0) 0.0 else EditRates(rnd.nextInt(EditRates.length))
        val id = f"conv-${fam * slots + m}%09d"
        val t0 = 1700000000000L + fam * 100000L
        base.zipWithIndex.map { case (text, ti) =>
          val t = if (p == 0.0) text else text.split(" ").map { w =>
            if (rnd.nextDouble() < p) words(rnd.nextInt(words.length)) else w
          }.mkString(" ")
          Transcripts.Turn(id, ti, if (ti % 2 == 0) "user" else "assistant", t, null,
            new Timestamp(t0 + ti * 1000L))
        }
      }
    }).toDF().repartition(8, xxhash64(col("conv_id"), col("turn_idx")))
  }
}
