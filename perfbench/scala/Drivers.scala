package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.DedupConfig
import graft.pipeline.{BucketedCorpus, CheckpointedDedup, ParquetTableIO}

/** graft.Main's job with the stage boundaries traced: the same session
  * settings, input handling, pipeline and summary counts as graft.Main,
  * except that CheckpointedDedup gets a TracingTableIO around the same
  * ParquetTableIO. Run with -Dspark.extraListeners=perfbench.StageListener.
  *
  *   TracedMain --input <bucketed dir> --workdir <dir> --run-id <id> --trace-out <file>
  */
object TracedMain {
  /** CheckpointedDedup.run's stage order. */
  val Stages = Seq("docs", "signatures", "bands", "cand_pairs", "verified_pairs",
    "cluster_assignments")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val (input, workdir, runId) = (opts("input"), opts("workdir"), opts("run-id"))

    val spark = SparkSession.builder().appName("graft-dedup")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startup = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val assignments = Spans.time("pipeline", "run") {
      val transcripts = BucketedCorpus.readAuto(spark, input)
      val docsBuilder =
        if (BucketedCorpus.isBucketed(input)) Some(() => BucketedCorpus.readDocs(spark, input))
        else None
      StageListener.tag(spark, "plan")
      val io = new TracingTableIO(new ParquetTableIO(workdir), runId, Stages)
      try new CheckpointedDedup(io, DedupConfig(), runId).run(transcripts, docsBuilder)
      finally io.finish()
    }
    StageListener.tag(spark, "main.summary")
    Spans.time("main.summary", "run") {
      assignments.select("cluster_id").distinct().count()
      assignments.count()
    }
    finish(spark, opts("trace-out"), startup)
  }

  /** Drain the listener, stop the session and write the trace file. */
  def finish(spark: SparkSession, out: String, startupS: Double): Unit = {
    val listener = Option(StageListener.instance)
    listener.foreach(_.drain())
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
    Files.writeString(Paths.get(out),
      s"""{"jvm_startup_s": $startupS, "jvm_gc_s": $gcS,
         |"tags": ${listener.map(_.json).getOrElse("{}")},
         |"spans": ${Spans.json}}""".stripMargin)
    spark.stop()
  }
}

/** The SparkEntry query block, one query at a time in one session, as
  * graft.Verify runs it: an untimed warm-up pass, then timed passes until
  * `seconds` have gone by (at least one). Each result is written as parquet
  * (the timed action) for the DuckDB oracle compare, with oracle_sql.json.
  *
  *   Queries <dataDir> <outDir> <cores> <seconds> <name>...
  */
object Queries {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, cores, seconds) = args.take(4)
    val names = args.drop(4).toSeq
    val spark = SparkSession.builder().appName("graft-queries")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startup = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def pass(tagPrefix: String, dest: String): Seq[(String, Double, Boolean)] =
      names.map { name =>
        StageListener.tag(spark, s"$tagPrefix$name")
        val t0 = System.nanoTime()
        val ok =
          try {
            graft.SparkEntry.queries(name)(spark, dataDir).coalesce(1).write
              .mode("overwrite").parquet(s"$dest/$name")
            true
          } catch { case e: Exception =>
            System.err.println(s"[queries] $name failed: ${e.getMessage}")
            false
          }
        val t1 = System.nanoTime()
        Spans.record(s"query.$name", tagPrefix.stripSuffix("."), t0, t1)
        // release blocks the query closures persisted, as graft.Verify does
        spark.catalog.clearCache()
        (name, (t1 - t0) / 1e9, ok)
      }

    pass("warmup.", s"$outDir/warmup")
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    val passes = scala.collection.mutable.ArrayBuffer(pass("query.", s"$outDir/results"))
    while (System.nanoTime() < deadline) passes += pass("query.", s"$outDir/results")
    val body = passes.map(_.map { case (n, s, ok) =>
      s""""$n": {"wall_s": $s, "ok": $ok}""" }.mkString("{", ", ", "}")).mkString("[", ",\n", "]")
    Files.writeString(Paths.get(s"$outDir/passes.json"), body)
    val oracle = names.map(n => s"${quote(n)}: ${quote(graft.SparkEntry.oracleSql(n))}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle.mkString("{", ",\n", "}"))
    if (StageListener.instance != null)
      TracedMain.finish(spark, s"$outDir/trace.json", startup)
    else spark.stop()
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
