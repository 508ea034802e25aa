package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the records the harness emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String = apply(mutable.LinkedHashMap(fields: _*))
}

/** Per-stage task-metric totals. */
final class StageAgg {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

final case class JobRec(id: Int, span: String, startMs: Long, site: String,
    fallback: Boolean) {
  @volatile var endMs: Long = -1L
}

/** Per-op Spark accounting for the traced run. Each timed op runs under a
  * span id carried in the local property [[Tracer.SpanKey]]; jobs and
  * stages pick it up from their submission properties. A job submitted
  * without the property (from a thread that did not inherit it) is
  * attributed to the span open when its event is delivered, which is
  * the same op because every span is closed only after [[drain]] has
  * seen all earlier events. Query-execution events (scan and write node
  * metrics) carry no properties and are attributed the same way. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Tracer._

  @volatile private var current: String = Idle
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** SQL execution id → the call site of the action that started it. */
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  /** span → scan files, scan rows, write files, write bytes, write rows */
  private val planStats = new ConcurrentHashMap[String, Array[Long]]()
  private val barriers = new ConcurrentHashMap[String, CountDownLatch]()
  private val seq = new AtomicLong()
  @volatile var drainTimeouts = 0

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def open(span: String): Unit = {
    current = span
    spark.sparkContext.setLocalProperty(SpanKey, span)
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * a recognizable no-op query is run, and its completion event arrives
    * after all earlier events (the `etl.Metrics` barrier pattern). */
  def drain(): Unit = {
    spark.sparkContext.setLocalProperty(SpanKey, Barrier)
    val col = "perfbench_barrier_" + seq.incrementAndGet()
    val latch = new CountDownLatch(1)
    barriers.put(col, latch)
    spark.sql(s"SELECT 1 AS $col").collect()
    if (!latch.await(30, TimeUnit.SECONDS)) drainTimeouts += 1
    barriers.remove(col)
  }

  def close(): Unit = {
    current = Idle
    spark.sparkContext.setLocalProperty(SpanKey, null)
  }

  private def spanOf(props: java.util.Properties): (String, Boolean) =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))) match {
      case Some(s) => (s, false)
      case None => (current, true)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.description)
    case _ =>
  }

  /** A job's call site: that of its SQL execution when it has one (the
    * jobs of adaptive query stages are submitted from a pool thread, so
    * their own stage names only name that thread), else its final stage's
    * name (`count at Converter.scala:65`). */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val (span, fb) = spanOf(e.properties)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
    val site = exec.getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobs.put(e.jobId, JobRec(e.jobId, span, e.time, site, fb))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties)._1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val names = qe.analyzed.output.map(_.name)
    names.find(barriers.containsKey).foreach(c => barriers.get(c).countDown())
    if (!names.exists(_.startsWith("perfbench_barrier_"))) {
      val acc = planStats.computeIfAbsent(current, _ => new Array[Long](5))
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      foreach(qe.executedPlan) { p =>
        p match {
          case scan: FileSourceScanExec => acc.synchronized {
            acc(0) += metric(scan, "numFiles")
            acc(1) += metric(scan, "numOutputRows")
          }
          case w if w.metrics.contains("numFiles") && w.metrics.contains("numOutputBytes") =>
            acc.synchronized {
              acc(2) += metric(w, "numFiles")
              acc(3) += metric(w, "numOutputBytes")
              acc(4) += metric(w, "numOutputRows")
            }
          case _ =>
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Everything recorded for one span: its jobs (interval and call site)
    * and the task and plan totals of the stages it ran. */
  def spanRecord(span: String): mutable.LinkedHashMap[String, Any] = {
    val js = jobs.values.asScala.filter(_.span == span).toSeq.sortBy(_.id)
    val stages = stageSpan.asScala.collect { case (st, sp) if sp == span => st }.toSeq
    val agg = new StageAgg
    stages.flatMap(st => Option(stageAgg.get(st))).foreach { a =>
      agg.tasks += a.tasks; agg.cpuNs += a.cpuNs; agg.gcMs += a.gcMs
      agg.shuffleWrite += a.shuffleWrite; agg.shuffleRead += a.shuffleRead
      agg.spill += a.spill; agg.input += a.input; agg.output += a.output
    }
    val ps = Option(planStats.get(span)).getOrElse(new Array[Long](5))
    mutable.LinkedHashMap(
      "jobs" -> js.map(j => Seq(j.startMs, j.endMs, j.site)),
      "fallback_jobs" -> js.count(_.fallback),
      "stages" -> stages.size,
      "tasks" -> agg.tasks,
      "task_cpu_s" -> agg.cpuNs / 1e9,
      "gc_s" -> agg.gcMs / 1e3,
      "shuffle_write_bytes" -> agg.shuffleWrite,
      "shuffle_read_bytes" -> agg.shuffleRead,
      "spill_bytes" -> agg.spill,
      "input_bytes" -> agg.input,
      "output_bytes" -> agg.output,
      "scan_files" -> ps(0),
      "scan_rows" -> ps(1),
      "write_files" -> ps(2),
      "write_bytes" -> ps(3),
      "write_rows" -> ps(4))
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Idle = "idle"
  val Barrier = "barrier"

  /** Cumulative whole-stage codegen compile time (ns) and compiled class
    * count of this JVM. */
  def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
