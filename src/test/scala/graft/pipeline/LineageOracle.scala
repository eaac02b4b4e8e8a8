package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** The oracle of the lineage differential tests: what a checkpointed run's
  * metrics rows must say about each stage table, recomputed in SQL from the
  * tables themselves. */
object LineageOracle {
  /** CheckpointedDedup.run's stages in order, with their key columns. */
  val Stages: Seq[(String, Seq[String])] = Seq(
    "docs" -> Seq("conv_id"),
    "signatures" -> Seq("conv_id"),
    "bands" -> Seq("conv_id", "band_key"),
    "cand_pairs" -> Seq("a", "b"),
    "verified_pairs" -> Seq("a", "b"),
    "cluster_assignments" -> Seq("conv_id", "cluster_id"))

  /** Per-partition counters over a materialized stage table, as an
    * aggregation job: the SQL form the runner's in-write lineage must
    * reproduce in total. */
  def partitionLineage(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.withColumn("partition_id", spark_partition_id())
      .groupBy(col("partition_id"))
      .agg(
        count(lit(1)).as("rows_out"),
        coalesce(bit_xor(xxhash64(keyCols.map(col): _*)), lit(0L)).as("checksum"),
        graft.functions.hll_agg(col(keyCols.head), 12).as("hll_sketch"))

  final case class Totals(rowsIn: Long, rowsOut: Long, checksum: Long)

  /** Totals and merged-HLL estimate of each stage's latest append to
    * `metrics` (one `ts` per append), after checking the append's shape:
    * one rows_in for the whole stage, distinct partition ids, and no row
    * for an empty write task. */
  def recorded(metrics: DataFrame): Map[String, (Totals, Double)] = {
    val latest = metrics.groupBy(col("stage")).agg(max(col("ts")).as("ts"))
    metrics.join(latest, Seq("stage", "ts"))
      .groupBy(col("stage"))
      .agg(min(col("rows_in")), max(col("rows_in")), sum(col("rows_out")),
        bit_xor(col("checksum")), count(lit(1)), countDistinct(col("partition_id")),
        min(col("rows_out")),
        graft.functions.hll_estimate(graft.functions.hll_merge_agg(col("hll_sketch"), 12)))
      .collect().map { r =>
        val stage = r.getString(0)
        assert(r.getLong(1) === r.getLong(2), s"$stage: rows_in differs across its rows")
        assert(r.getLong(5) === r.getLong(6), s"$stage: a partition_id repeats")
        assert(r.getLong(7) > 0, s"$stage: an empty write task emitted a row")
        stage -> ((Totals(r.getLong(1), r.getLong(3), r.getLong(4)), r.getDouble(8)))
      }.toMap
  }

  /** Checks the lineage of a run's latest stage writes against the stage
    * tables (`table(stage)`) and the transcripts it read:
    *  - sum(rows_out) is the table's row count;
    *  - XOR(checksum) is bit_xor(xxhash64(keyCols)) over the table;
    *  - the merged HLL is within 5% of the first key's exact distinct count;
    *  - rows_in is the predecessor's rows_out, for docs the transcript rows.
    * Returns the recorded totals. */
  def check(metrics: DataFrame, table: String => DataFrame,
            transcriptRows: Long): Map[String, Totals] = {
    val got = recorded(metrics)
    assert(got.keySet === Stages.map(_._1).toSet)
    Stages.zipWithIndex.foreach { case ((stage, keys), i) =>
      val t = table(stage)
      val (totals, hllEstimate) = got(stage)
      val oracle = partitionLineage(t, keys)
        .agg(sum(col("rows_out")), coalesce(bit_xor(col("checksum")), lit(0L)))
        .head()
      val rowsOut = if (oracle.isNullAt(0)) 0L else oracle.getLong(0)
      assert(rowsOut === t.count(), s"$stage: oracle row count")
      assert(totals.rowsOut === rowsOut, s"$stage: rows_out")
      assert(totals.checksum === oracle.getLong(1), s"$stage: checksum")
      val expectedIn = if (i == 0) transcriptRows else got(Stages(i - 1)._1)._1.rowsOut
      assert(totals.rowsIn === expectedIn, s"$stage: rows_in")
      val exact = t.agg(countDistinct(col(keys.head))).head().getLong(0)
      assert(math.abs(hllEstimate - exact) <= 0.05 * exact,
        s"$stage: HLL estimate $hllEstimate vs $exact distinct")
    }
    got.map { case (stage, (totals, _)) => stage -> totals }
  }
}
