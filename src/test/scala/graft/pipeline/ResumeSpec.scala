package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DedupConfig
import java.nio.file.Files

class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = DedupConfig()
  lazy val turns = Transcripts.generate(150)
  lazy val tdf = Transcripts.asDataFrame(spark, turns, 6).cache()

  private def asgMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("full run writes all stages + per-partition metrics") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)
    val p = new CheckpointedDedup(io, cfg, "run-A")
    val asg = asgMap(p.run(tdf))
    assert(asg.nonEmpty)
    assert(p.computedStages === List("docs", "signatures", "bands",
      "cand_pairs", "verified_pairs", "cluster_assignments"))
    val m = p.metrics(spark)
    val stages = m.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages === Set("docs", "signatures", "bands", "cand_pairs",
      "verified_pairs", "cluster_assignments"))
    // lineage integrity: docs rows_out sums to the number of conversations
    val docsRows = m.where(col("stage") === "docs")
      .agg(sum("rows_out")).head().getLong(0)
    assert(docsRows === turns.map(_.conv_id).distinct.size)
    // lineage differential: every stage's metrics rows match its table
    LineageOracle.check(m, s => io.read(spark, s"run-A/$s"), tdf.count())
  }

  test("resume mid-pipeline: completed stages skipped, assignments identical") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)

    // uninterrupted reference run in a separate workdir
    val ref = new CheckpointedDedup(new ParquetTableIO(
      Files.createTempDirectory("ckptref").toString), cfg, "run-B")
    val refAsg = asgMap(ref.run(tdf))

    // simulate a kill after 'bands': run the first three stages only by
    // running fully, then deleting the downstream outputs
    val first = new CheckpointedDedup(io, cfg, "run-B")
    first.run(tdf)
    for (s <- Seq("cand_pairs", "verified_pairs", "cluster_assignments")) {
      val dir = new java.io.File(s"$root/run-B/$s")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }

    // resume with the same run_id
    val resumed = new CheckpointedDedup(io, cfg, "run-B")
    val resumedAsg = asgMap(resumed.run(tdf))
    assert(resumed.computedStages === List("cand_pairs", "verified_pairs",
      "cluster_assignments"), s"got ${resumed.computedStages}")
    assert(resumedAsg === refAsg, "resumed assignments differ from uninterrupted run")

    // the recomputed stages record the uninterrupted run's lineage totals;
    // cand_pairs takes its rows_in from the resumed bands' metrics rows
    val refTotals = LineageOracle.recorded(ref.metrics(spark))
    val resumedTotals = LineageOracle.check(resumed.metrics(spark),
      s => io.read(spark, s"run-B/$s"), tdf.count())
    for (s <- resumed.computedStages)
      assert(resumedTotals(s) === refTotals(s)._1, s"$s lineage totals after resume")
  }

  test("second run with same run_id is a full no-op") {
    val root = Files.createTempDirectory("ckpt").toString
    val io = new ParquetTableIO(root)
    val p1 = new CheckpointedDedup(io, cfg, "run-C")
    val a1 = asgMap(p1.run(tdf))
    val p2 = new CheckpointedDedup(io, cfg, "run-C")
    val a2 = asgMap(p2.run(tdf))
    assert(p2.computedStages === Nil)
    assert(a1 === a2)
  }
}
