package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `parent` is the span that caused it;
  * every span of a run shares the run id through the tree rooted at the
  * span with id [[Spans.RunId]]. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String,
    name: String, startMs: Double, var endMs: Double,
    attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

/** Spans the benchmark opens around its own calls into the program:
  * run → setup | window → op → construct | action. Jobs and stages hang
  * below through the `perfbench.span` local property, which Spark copies
  * onto every job the calling thread submits. */
final class Spans(sc: SparkContext, runId: String) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private var nextId = 0
  val all = mutable.ArrayBuffer.empty[Span]

  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  val run: Span = open("run", runId, "")

  def open(kind: String, name: String, parent: String): Span = {
    val id = if (kind == "run") Spans.RunId else { nextId += 1; s"s$nextId" }
    val s = Span(id, parent, kind, name, nowMs, Double.NaN)
    all += s
    s
  }

  def close(s: Span): Unit = s.endMs = nowMs

  /** Runs `body` inside a new span; jobs it submits record it as parent. */
  def within[T](kind: String, name: String, parent: Span)(body: Span => T)
      : (T, Span) = {
    val s = open(kind, name, parent.id)
    val prev = sc.getLocalProperty(Spans.Prop)
    sc.setLocalProperty(Spans.Prop, s.id)
    try (body(s), s)
    finally {
      close(s)
      sc.setLocalProperty(Spans.Prop, prev)
    }
  }
}

object Spans {
  val Prop = "perfbench.span"
  val RunId = "run"
}

/** The traced run's collector: a SparkListener for jobs, stages, tasks and
  * block updates, and a QueryExecutionListener for Catalyst's planning
  * phases. Everything stays in memory until [[spans]] and [[executions]]
  * are written at the end of the run. */
final class Trace extends SparkListener with QueryExecutionListener {

  private final class Agg {
    var tasks, failed = 0L
    var durMs, runMs, cpuNs, gcMs, shWrite, shRead, spill = 0L
  }

  private val jobSpans = mutable.LinkedHashMap.empty[Int, Span]
  private val stageOwner = mutable.HashMap.empty[Int, Int]
  private val stageSpans = mutable.LinkedHashMap.empty[(Int, Int), Span]
  private val stageAgg = mutable.HashMap.empty[(Int, Int), Agg]
  private val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile var rddBlocks = 0L
  @volatile var rddBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the job's call site is its result stage's name, e.g. "parquet at
    // Queries.scala:39"
    val site = prop("callSite.short").orElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    val s = Span(s"job-${e.jobId}", prop(Spans.Prop).getOrElse(""), "job",
      site, e.time.toDouble, Double.NaN)
    prop("spark.sql.execution.id").foreach(x => s.attrs("execution") = x)
    jobSpans(e.jobId) = s
    e.stageIds.foreach(st => stageOwner.getOrElseUpdate(st, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val s = Span(s"stage-${i.stageId}.${i.attemptNumber()}",
        stageOwner.get(i.stageId).map(j => s"job-$j").getOrElse(""),
        "stage", i.name, i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble)
      val a = stageAgg.getOrElse(key, new Agg)
      s.attrs ++= Seq("tasks" -> a.tasks, "failed_tasks" -> a.failed,
        "task_ms" -> a.durMs, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "shuffle_write_bytes" -> a.shWrite,
        "shuffle_read_bytes" -> a.shRead, "spill_bytes" -> a.spill)
      stageSpans(key) = s
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new Agg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    a.durMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** RDD blocks stored: pinned (locally checkpointed or cached) data. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) synchronized {
      rddBlocks += 1
      rddBytes += b.memSize + b.diskSize
    }
  }

  private def record(funcName: String, qe: QueryExecution,
      ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).fold(0L)(x => x.endTimeMs - x.startTimeMs)
    if (ph.nonEmpty) synchronized {
      execs += Map("id" -> qe.id, "func" -> funcName, "ok" -> ok,
        "start_ms" -> ph.values.map(_.startTimeMs).min,
        "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(funcName, qe, ok = false)

  def spans: Seq[Span] = synchronized {
    (jobSpans.values ++ stageSpans.values).toSeq
  }

  def executions: Seq[Map[String, Any]] = synchronized(execs.toList)
}

/** Process-wide codegen counters (driver and, in local mode, executors):
  * Janino compile plus whole-stage source generation time, and the
  * number of classes compiled. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
  import org.apache.spark.sql.execution.WholeStageCodegenExec

  def snap(): (Long, Long) =
    (CodeGenerator.compileTime + WholeStageCodegenExec.codeGenTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def delta(before: (Long, Long), s: Span): Unit = {
    val after = snap()
    s.attrs("codegen_ns") = after._1 - before._1
    s.attrs("codegen_classes") = after._2 - before._2
  }
}
