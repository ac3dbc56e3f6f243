package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds since the run started.
  * Kinds, outermost first: op (a job, query, batch or probe the client
  * submits) → call (a public library call the client makes) → job →
  * stage. `attrs` holds the counters recorded at that boundary. */
final class Span(val id: Int, val parent: Int, val name: String,
    val kind: String, val start: Long) {
  @volatile var end: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
  def dur: Long = end - start
}

/** Planning phases and plan-shape counters of one executed query. */
final case class QeRecord(atUs: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, fallbackExprs: Int, exchanges: Int, filesRead: Double)

/** Span recorder for the traced run. The client's own calls open spans
  * on its thread and publish the innermost one as a Spark local
  * property, so the listener can parent each Spark job under the call
  * that submitted it. Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession) extends SparkListener with AdaptiveSparkPlanHelper {
  import Tracer.Prop

  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  private def nowUs: Long = (System.nanoTime() - t0Ns) / 1000
  private def epochUs(ms: Long): Long = (ms - t0Ms) * 1000

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[(Int, Int), Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val qes = mutable.ArrayBuffer.empty[QeRecord]
  @volatile var parentFallbacks = 0

  private def newSpan(parent: Int, name: String, kind: String, start: Long): Span =
    spans.synchronized {
      val s = new Span(spans.size, parent, name, kind, start)
      spans += s
      s
    }

  /** Run `body` inside a span of `kind`, parented to the innermost open
    * span. Jobs it submits carry the span's id. */
  def span[A](name: String, kind: String)(body: => A): A = {
    val s = newSpan(open.headOption.map(_.id).getOrElse(-1), name, kind, nowUs)
    open.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.end = nowUs
      open.pop()
      sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** The innermost client span covering time `t`. */
  private def clientSpanAt(t: Long): Option[Span] = spans.synchronized {
    spans.reverseIterator.find(s => (s.kind == "op" || s.kind == "call") &&
      s.start <= t && (s.end < 0 || s.end >= t))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val start = epochUs(e.time)
    val byProp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .map(_.toInt).flatMap(id => spans.synchronized(spans.lift(id)))
      .filter(s => s.end < 0 || s.end >= start)
    // a pooled thread created under an earlier op keeps that op's
    // property; such jobs, and jobs from threads that never saw the
    // property, go to the client span open at the job's start. Jobs of
    // untraced ops have neither and are not recorded.
    val parent = byProp.orElse {
      val s = clientSpanAt(start)
      if (s.isDefined) parentFallbacks += 1
      s
    }.getOrElse(return)
    val j = newSpan(parent.id, s"job ${e.jobId}", "job", start)
    synchronized {
      jobSpan(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach(_.end = epochUs(e.time))
  }

  private def traced(stageId: Int): Boolean = synchronized(stageJob.contains(stageId))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (!traced(info.stageId)) return
    val s = stage(info.stageId, info.attemptNumber())
    s.attrs("tasks") = info.numTasks.toDouble
    info.submissionTime.foreach(t => s.attrs("submitted_us") = epochUs(t).toDouble)
    s.end = info.completionTime.map(epochUs).getOrElse(nowUs)
  }

  /** The span of a traced stage, opened at its job's start. */
  private def stage(id: Int, attempt: Int): Span = synchronized {
    stageSpan.getOrElseUpdate((id, attempt),
      newSpan(stageJob(id).id, s"stage $id.$attempt", "stage", stageJob(id).start))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || !traced(e.stageId)) return
    val s = stage(e.stageId, e.stageAttemptId)
    s.synchronized {
      s.add("run_ms", m.executorRunTime.toDouble)
      s.add("cpu_ms", m.executorCpuTime / 1e6)
      s.add("gc_ms", m.jvmGCTime.toDouble)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("input_records", m.inputMetrics.recordsRead.toDouble)
      s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      s.add("task_count", 1)
      s.attrs("task_max_ms") = math.max(s.attrs.getOrElse("task_max_ms", 0.0),
        m.executorRunTime.toDouble)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = phases.get("planning").map(p => epochUs(p.endTimeMs)).getOrElse(nowUs)
      var fallback, exchanges = 0
      var files = 0.0
      foreach(qe.executedPlan) { (p: SparkPlan) =>
        fallback += p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        if (p.isInstanceOf[ShuffleExchangeLike]) exchanges += 1
        p.metrics.get("numFiles").foreach(m => files += m.value)
      }
      qes.synchronized {
        qes += QeRecord(at, ms("analysis"), ms("optimization"), ms("planning"),
          fallback, exchanges, files)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spans under `root` (any depth), root included. */
  private def subtree(root: Span): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.ArrayBuffer(root)
    var i = 0
    while (i < out.size) { out ++= kids.getOrElse(out(i).id, Nil); i += 1 }
    out.toSeq
  }

  /** Counters of one op span: driver, shuffle, scan, expression and
    * planning layers. */
  def opCounters(op: Span): Map[String, Double] = {
    val tree = subtree(op)
    val jobs = tree.filter(_.kind == "job")
    val stages = tree.filter(_.kind == "stage")
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    // union of job intervals, clipped to the op
    val covered = jobs.map(j => (math.max(j.start, op.start), math.min(
      if (j.end < 0) op.end else j.end, op.end))).filter(x => x._2 > x._1)
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
        if (a >= hi) (acc + (b - a), b)
        else if (b > hi) (acc + (b - hi), b) else (acc, hi)
      }._1
    val q = qes.synchronized(qes.filter(r => r.atUs >= op.start && r.atUs <= op.end).toSeq)
    val maxTask = stages.map(_.attrs.getOrElse("task_max_ms", 0.0))
    val meanTask = stages.map(s => s.attrs.getOrElse("run_ms", 0.0) /
      math.max(1.0, s.attrs.getOrElse("task_count", 0.0)))
    Map(
      "jobs" -> jobs.size.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> sum("task_count"),
      "gap_ms" -> (op.dur - covered) / 1000.0,
      "run_ms" -> sum("run_ms"),
      "cpu_ms" -> sum("cpu_ms"),
      "gc_ms" -> sum("gc_ms"),
      "shuffle_write_bytes" -> sum("shuffle_write_bytes"),
      "shuffle_read_bytes" -> sum("shuffle_read_bytes"),
      "spill_bytes" -> sum("spill_bytes"),
      "input_bytes" -> sum("input_bytes"),
      "input_records" -> sum("input_records"),
      "output_bytes" -> sum("output_bytes"),
      // slowest task over mean task, of the op's heaviest stage
      "task_skew" -> (if (stages.isEmpty) 1.0 else {
        val i = stages.indices.maxBy(i => stages(i).attrs.getOrElse("run_ms", 0.0))
        if (meanTask(i) > 0) maxTask(i) / meanTask(i) else 1.0
      }),
      "analysis_ms" -> q.map(_.analysisMs).sum,
      "optimization_ms" -> q.map(_.optimizationMs).sum,
      "planning_ms" -> q.map(_.planningMs).sum,
      "fallback_exprs" -> q.map(_.fallbackExprs.toDouble).sum,
      "exchanges" -> q.map(_.exchanges.toDouble).sum,
      "files_read" -> q.map(_.filesRead).sum)
  }

  /** Task run time of the jobs under `call` spans named `name`. */
  def callRunMs(name: String): Seq[Double] =
    spans.filter(s => s.kind == "call" && s.name == name)
      .map(s => subtree(s).filter(_.kind == "stage").map(_.attrs.getOrElse("run_ms", 0.0)).sum)
      .toSeq

  def ops: Seq[Span] = spans.filter(_.kind == "op").toSeq

  /** Self time per span name and kind, summed: a span's duration minus
    * the part of it its children cover. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(_.end >= 0).groupBy(s => if (s.kind == "call") s"call:${s.name}" else s.kind)
      .map { case (k, ss) =>
        k -> ss.map { s =>
          val ivs = kids.getOrElse(s.id, Nil).filter(_.end >= 0)
            .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
            .filter(x => x._2 > x._1).sortBy(_._1)
          var covered, hi = 0L
          hi = Long.MinValue
          ivs.foreach { case (a, b) =>
            if (a >= hi) { covered += b - a; hi = b }
            else if (b > hi) { covered += b - hi; hi = b }
          }
          (s.dur - covered) / 1e6
        }.sum
      }
  }

  /** All spans as JSON lines: id, parent, name, kind, start, end, attrs. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Stats.json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_us" -> s.start, "end_us" -> s.end,
        "attrs" -> s.attrs.toMap))
    }
    java.nio.file.Files.write(path, java.util.Arrays.asList(lines.toSeq: _*))
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Spans around the library calls an op makes. An op that runs traced
  * sets [[tracer]]; untraced ops pay nothing. */
object Calls {
  @volatile var tracer: Option[Tracer] = None
  def apply[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name, "call")(body)
    case None => body
  }
}
