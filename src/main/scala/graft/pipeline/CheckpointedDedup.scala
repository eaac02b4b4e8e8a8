package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.CollectionAccumulator
import graft.core.DedupConfig
import graft.sketch.{HllSketch, SketchInput}

/** Checkpointed, resumable pipeline runner (SURVEY §2b P10–P12; north rule:
  * "resumable from checkpoint with per-partition lineage + metrics").
  *
  * Every stage materializes its output table plus per-partition lineage
  * rows in a `metrics` table:
  *   (run_id, stage, partition_id, rows_in, rows_out, checksum, hll_sketch, ts)
  * A stage is complete iff its table exists AND its metrics rows are
  * present; a re-submitted run with the same run_id skips completed stages
  * and reproduces IDENTICAL final assignments (everything downstream of the
  * deterministic generator/pipeline is deterministic by construction:
  * seeded permutations, stable sort keys, deterministic compaction).
  *
  * The lineage rows are counted inside the job that writes the stage: a
  * pass-through iterator over each write task's rows, so a computed stage
  * costs its own jobs plus the metrics append. `partition_id` is the index
  * of the write task, and a write task that wrote no rows emits no row.
  * The checksum is the order-insensitive XOR of xxhash64 over the stage's
  * key columns (Spark's seed 42, equal to `bit_xor(xxhash64(keys))` in
  * SQL); the HLL sketch (lgK 12) counts distinct values of the first key —
  * both are the reference sketch families doing the metrics job the north
  * star assigns them (SURVEY §2b P12). `rows_in` is read off data the run
  * already holds, never counted by a job of its own:
  *  - docs: the sum of `n_turns` over the same write pass (every
  *    transcript row lands in exactly one doc's `n_turns`);
  *  - a stage whose predecessor was computed in this call: that
  *    predecessor's `rows_out` total;
  *  - a stage whose predecessor resumed: the predecessor's `rows_out`
  *    total from the one planning query over the metrics table.
  */
final class CheckpointedDedup(
    io: TableIO,
    cfg: DedupConfig = DedupConfig(),
    runId: String = "run-0") {

  import CheckpointedDedup._

  private def metricsName = s"$runId/metrics"

  /** Stages that executed (not resumed) in the last `run` call. */
  var computedStages: List[String] = Nil

  /** @param docsBuilder optional replacement for the docs stage body —
    *   callers whose input layout has a cheaper correct reconstruction
    *   (BucketedCorpus.readDocs streams docs off the bucket sort) inject
    *   it here; output must be identical to buildDocs (DocsSortedSpec). */
  def run(transcripts: DataFrame,
          docsBuilder: Option[() => DataFrame] = None): DataFrame = {
    val spark = transcripts.sparkSession
    computedStages = Nil

    val docs = stage(spark, "docs", keyCols = Seq("conv_id"), turnsCol = Some("n_turns")) { () =>
      docsBuilder.map(_.apply()).getOrElse(DedupPipeline.buildDocs(transcripts))
    }
    val sigs = stage(spark, "signatures", keyCols = Seq("conv_id")) { () =>
      // checkpoint only what downstream stages consume: bands need the
      // minhash, CC needs conv_id, simhash is a cheap per-doc metric. The
      // shingle array (~8x the text bytes) is recomputed pair-locally by
      // verifyPairs and must NOT be materialized — at 100 TB the shingle
      // blow-up would dominate the checkpoint footprint.
      DedupPipeline.signatures(docs, cfg)
        .select(col("conv_id"), col("doc_len"), col("minhash"), col("simhash"))
    }
    val bands = stage(spark, "bands", keyCols = Seq("conv_id", "band_key")) { () =>
      DedupPipeline.bands(sigs, cfg)
    }
    val cand = stage(spark, "cand_pairs", keyCols = Seq("a", "b")) { () =>
      DedupPipeline.candidatePairs(bands, cfg)
    }
    val verified = stage(spark, "verified_pairs", keyCols = Seq("a", "b")) { () =>
      DedupPipeline.verifyPairs(cand, docs, cfg)
    }
    val assignments = stage(spark, "cluster_assignments", keyCols = Seq("conv_id", "cluster_id")) { () =>
      DedupPipeline.connectedComponents(verified, sigs.select(col("conv_id")))
    }
    assignments
  }

  /** Read the metrics table (for tests / the resume planner). */
  def metrics(spark: SparkSession): DataFrame = io.read(spark, metricsName)

  /** rows_out total of every stage with lineage rows, read by ONE query
    * per runner: it names the stages a resume may skip and gives a resumed
    * stage's successor its rows_in. Each append carries one `ts`, so a
    * stage that was recomputed after its table was lost counts its latest
    * append only. The per-stage table existence check stays live (cheap
    * FS/catalog lookup, no job). */
  private var lineageTotals: Option[Map[String, Long]] = None
  private def stageRowsOut(spark: SparkSession): Map[String, Long] = {
    if (lineageTotals.isEmpty) {
      lineageTotals = Some(
        if (!io.exists(spark, metricsName)) Map.empty
        else metrics(spark)
          .groupBy(col("stage"), unix_micros(col("ts")))
          .agg(sum(col("rows_out")))
          .collect()
          .groupBy(_.getString(0))
          .map { case (s, appends) => s -> appends.maxBy(_.getLong(1)).getLong(2) })
    }
    lineageTotals.get
  }

  private def stageComplete(spark: SparkSession, name: String): Boolean =
    stageRowsOut(spark).contains(name) && io.exists(spark, s"$runId/$name")

  /** rows_out total of the stage before the one running now, computed or
    * resumed: the rows_in of every stage after docs. */
  private var prevRowsOut: Long = -1L

  private def stage(spark: SparkSession, name: String, keyCols: Seq[String],
                    turnsCol: Option[String] = None)(compute: () => DataFrame): DataFrame = {
    val table = s"$runId/$name"
    if (stageComplete(spark, name)) {
      prevRowsOut = stageRowsOut(spark)(name)
      io.read(spark, table)
    } else {
      val acc = spark.sparkContext.collectionAccumulator[TaskLineage]
      io.write(withLineage(compute(), keyCols, turnsCol, acc), table)
      // stage output is on disk: release any intermediates the pipeline
      // persisted while computing it (verifyPairs' spread, winnow tables)
      DedupPipeline.unpersistIntermediates(spark)
      computedStages = computedStages :+ name
      val persisted = io.read(spark, table)
      // a retried or speculative task reports its partition again
      val tasks = acc.value.asScala.map(t => t.partition -> t).toMap.values.toSeq
        .sortBy(_.partition)
      val rowsIn = if (turnsCol.isDefined) tasks.map(_.turns).sum else prevRowsOut
      prevRowsOut = tasks.map(_.rowsOut).sum
      val rows = tasks.map(t =>
        Row(runId, name, t.partition, rowsIn, t.rowsOut, t.checksum, t.hll))
      // one file per append: the rows are few, and a resume plans from them
      io.append(
        spark.createDataFrame(rows.asJava, LineageSchema)
          .withColumn("ts", current_timestamp()).coalesce(1),
        metricsName)
      persisted
    }
  }
}

object CheckpointedDedup {
  /** The lineage of one write task. `turns` sums the stage's turn-count
    * column when it has one (docs), else 0. */
  private final case class TaskLineage(partition: Int, rowsOut: Long, checksum: Long,
                                       hll: Array[Byte], turns: Long)

  private val LineageSchema = StructType(Seq(
    StructField("run_id", StringType, nullable = false),
    StructField("stage", StringType, nullable = false),
    StructField("partition_id", IntegerType, nullable = false),
    StructField("rows_in", LongType, nullable = false),
    StructField("rows_out", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("hll_sketch", BinaryType, nullable = false)))

  /** `df` with every row passed through unchanged, as a DataFrame over its
    * executed plan (GraftBridge.internalCreateDataFrame, the seam
    * buildDocsSorted and the CC rounds use). Each task that produces rows
    * adds its TaskLineage to `acc` when it completes: the row count, the
    * XOR of xxhash64(keyCols) with Spark's seed 42, an lgK 12 HLL of the
    * first key (updated exactly as hll_agg updates it) and the sum of the
    * int column `turnsCol`. Whichever job consumes the result — the stage
    * write — counts the lineage on the way. */
  private def withLineage(df: DataFrame, keyCols: Seq[String], turnsCol: Option[String],
                          acc: CollectionAccumulator[TaskLineage]): DataFrame = {
    val schema = df.schema
    val keys = keyCols.map { c =>
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    val hash = XxHash64(keys, 42L)
    val (hllKey, hllType) = (keys.head.ordinal, keys.head.dataType)
    val turnsOrd = turnsCol.map { c =>
      require(schema(c).dataType == IntegerType, s"lineage turn count $c must be an int column")
      schema.fieldIndex(c)
    }.getOrElse(-1)
    val rdd = df.queryExecution.toRdd.mapPartitionsWithIndex { (partition, it) =>
      var rows = 0L
      var checksum = 0L
      var turns = 0L
      val hll = new HllSketch(12)
      TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        if (rows > 0) acc.add(TaskLineage(partition, rows, checksum, hll.serialize(), turns))
      }
      it.map { r =>
        rows += 1
        checksum ^= hash.eval(r).asInstanceOf[Long]
        if (!r.isNullAt(hllKey)) SketchInput.updateHll(hll, hllType, r.get(hllKey, hllType))
        if (turnsOrd >= 0) turns += r.getInt(turnsOrd)
        r
      }
    }
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(df.sparkSession, rdd, schema)
  }
}
