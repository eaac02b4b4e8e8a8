package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.TableIO

/** Spans of one traced run: name, parent, start and end (ns since the
  * first span), kept in memory and written once when the run ends. */
object Spans {
  final case class Span(name: String, parent: String, start: Long, end: Long)
  private val t0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]

  def record(name: String, parent: String, startNs: Long, endNs: Long): Unit =
    synchronized { done += Span(name, parent, startNs - t0, endNs - t0) }

  def time[A](name: String, parent: String)(f: => A): A = {
    val s = System.nanoTime()
    try f finally record(name, parent, s, System.nanoTime())
  }

  def json: String = synchronized {
    done.map(s => s"""{"name": "${s.name}", "parent": "${s.parent}", """ +
      s""""start_ns": ${s.start}, "end_ns": ${s.end}}""").mkString("[", ",\n", "]")
  }
}

/** Per-tag task totals. The tag is the `perfbench.tag` local property the
  * driver thread sets (TracingTableIO, the query runner), which Spark copies
  * into every job and stage that thread submits — so attribution needs no
  * timing guesses on the asynchronous listener bus.
  *
  * Registered with `-Dspark.extraListeners=perfbench.StageListener`. */
final class StageListener extends SparkListener {
  import StageListener._
  StageListener.instance = this

  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val tags = new ConcurrentHashMap[String, Agg]()
  @volatile private var jobsStarted = 0
  @volatile private var jobsEnded = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def tagOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("untagged")
  private def agg(tag: String): Agg = tags.computeIfAbsent(tag, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    e.stageIds.foreach(stageTag.putIfAbsent(_, tag))
    agg(tag).jobs += 1
    jobsStarted += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    lastEventNs = System.nanoTime()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageTag.put(e.stageInfo.stageId, tagOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(Option(stageTag.get(e.stageId)).getOrElse("untagged"))
      a.taskRunMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.inputBytes += m.inputMetrics.bytesRead
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait (bounded) until every started job has ended and the bus has been
    * quiet for a moment: events arrive asynchronously after an action
    * returns. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobsStarted != jobsEnded || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(50)
  }

  def json: String = synchronized {
    tags.asScala.toSeq.sortBy(_._1).map { case (tag, a) =>
      val runs = a.taskRunMs.sorted
      val skew = if (runs.isEmpty) 0.0 else {
        val med = runs(runs.length / 2).toDouble
        runs.last / math.max(med, 1.0)
      }
      s""""$tag": {"jobs": ${a.jobs}, "tasks": ${runs.length}, "task_run_s": ${runs.sum / 1e3}, """ +
        s""""task_cpu_s": ${a.cpuNs / 1e9}, "gc_s": ${a.gcMs / 1e3}, """ +
        s""""shuffle_write_bytes": ${a.shuffleWrite}, "spill_bytes": ${a.spill}, """ +
        s""""fetch_wait_s": ${a.fetchWaitMs / 1e3}, "input_bytes": ${a.inputBytes}, """ +
        s""""task_skew": $skew}"""
    }.mkString("{", ",\n", "}")
  }
}

object StageListener {
  val TagKey = "perfbench.tag"
  @volatile var instance: StageListener = _

  final class Agg {
    var jobs = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var fetchWaitMs = 0L
    var inputBytes = 0L
    val taskRunMs = ArrayBuffer.empty[Long]
  }

  def tag(spark: SparkSession, tag: String): Unit =
    spark.sparkContext.setLocalProperty(TagKey, tag)
}

/** TableIO wrapper that marks CheckpointedDedup's stage boundaries on the
  * driver thread, from the calls the runner makes in its fixed stage order:
  *
  *  - planning: exists(metrics), then read(metrics) and a collect when a
  *    previous run left lineage rows;
  *  - a stage with lineage rows: exists(stage), then read(stage) if its
  *    table is there (the stage resumes);
  *  - a stage that computes: its jobs, write(stage), read(stage), the
  *    lineage jobs, append(metrics).
  *
  * A stage begins when its predecessor ends (append, or the read of a
  * resumed stage) and its lineage begins when its own table is read back
  * after the write. Resume planning lasts from the first call until the
  * first stage that computes begins. Each boundary also sets the
  * listener's tag, so jobs are attributed to the stage that submits them. */
final class TracingTableIO(inner: TableIO, runId: String, order: Seq[String])
    extends TableIO {
  private val runStart = System.nanoTime()
  private var next = 0 // index into `order` of the stage to begin next
  private var stage = ""
  private var stageStart = 0L
  private var lineageStart = 0L
  private var wrote = false
  private var planning = true

  private def stageOf(name: String): Option[String] =
    Some(name.stripPrefix(runId + "/")).filter(order.contains)

  private def begin(spark: SparkSession, s: String): Unit = if (stage != s) {
    close()
    stage = s; stageStart = System.nanoTime(); lineageStart = 0L; wrote = false
    next = order.indexOf(s) + 1
    StageListener.tag(spark, s)
  }

  private def close(): Unit = if (stage.nonEmpty) {
    val now = System.nanoTime()
    if (lineageStart > 0) Spans.record(s"stage.$stage.lineage", s"stage.$stage", lineageStart, now)
    Spans.record(s"stage.$stage", "pipeline", stageStart, now)
    stage = ""
  }

  private def beginNext(spark: SparkSession): Unit =
    if (next < order.length) begin(spark, order(next)) else close()

  /** Close the last open stage; call once the pipeline has returned. */
  def finish(): Unit = close()

  override def exists(spark: SparkSession, name: String): Boolean = {
    stageOf(name).foreach(begin(spark, _))
    val found = inner.exists(spark, name)
    if (name == s"$runId/metrics" && !found) beginNext(spark) // nothing to resume
    found
  }

  override def write(df: DataFrame, name: String): Unit = {
    if (planning) {
      planning = false
      Spans.record("resume.plan", "pipeline", runStart, stageStart)
    }
    inner.write(df, name)
    wrote = true
  }

  override def read(spark: SparkSession, name: String): DataFrame = {
    if (name == s"$runId/metrics") StageListener.tag(spark, "plan")
    else if (stageOf(name).contains(stage)) {
      if (wrote) { // the stage's own table read back after its write
        lineageStart = System.nanoTime()
        StageListener.tag(spark, s"$stage.lineage")
      } else beginNext(spark) // a resumed stage: the next one begins
    }
    inner.read(spark, name)
  }

  override def append(df: DataFrame, name: String): Unit = {
    inner.append(df, name)
    if (name == s"$runId/metrics") beginNext(df.sparkSession)
  }
}
