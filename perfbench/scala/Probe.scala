package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import graft.asr.{RecWord, WordRecognizer}
import graft.audio.Pcm

/** Harness-owned decorator around an injected recognizer: calls, time
  * inside the call and audio seconds handed in, summed over tasks
  * through accumulators.
  */
final class CountingRecognizer(inner: WordRecognizer, val calls: LongAccumulator,
    val nanos: LongAccumulator, val audioMs: LongAccumulator)
    extends WordRecognizer {
  def transcribe(key: String, audio: Pcm): Seq[RecWord] = {
    val t0 = System.nanoTime()
    val out = inner.transcribe(key, audio)
    nanos.add(System.nanoTime() - t0)
    calls.add(1)
    audioMs.add(audio.lengthMs)
    out
  }
}

object CountingRecognizer {
  def apply(sc: SparkContext, inner: WordRecognizer): CountingRecognizer =
    new CountingRecognizer(inner, sc.longAccumulator, sc.longAccumulator,
      sc.longAccumulator)
}

/** Engine counters of one span: everything a job started inside it
  * did, from the listener bus.
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
}

final case class Span(name: String, parent: String, start: Long, end: Long)

/** Spans around public calls, plus a `SparkListener` whose job
  * events are attributed to the span active when the job started
  * (through a thread-local job property), and a
  * `QueryExecutionListener` for planning time and plan shape.
  */
final class Probe(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener with Tracer {
  private val stack = mutable.Stack[String]()
  private val sc = spark.sparkContext
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val counters = mutable.LinkedHashMap[String, Counters]()
  val spans = mutable.ArrayBuffer[Span]()
  /** Probes of follow-up runs whose spans belong to the same record. */
  val children = mutable.ArrayBuffer[Probe]()

  private def of(name: String): Counters =
    counters.synchronized(counters.getOrElseUpdate(name, new Counters))

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name); sc.setLocalProperty(Probe.Key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop(); sc.setLocalProperty(Probe.Key, stack.headOption.orNull)
      spans += Span(name, parent, t0, t1)
    }
  }

  /** Seconds spent in spans called `name`. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  /** Spans as JSON lines, with the engine counters of their name. */
  def spanLines(): Seq[String] = spans.toSeq.map { s =>
    val c = counters.getOrElse(s.name, new Counters)
    Json.mapper.writeValueAsString(Map[String, Any](
      "run_id" -> runId, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> c.jobs,
      "stages" -> c.stages, "tasks" -> c.tasks,
      "executor_run_ms" -> c.runMs).asJava)
  } ++ children.flatMap(_.spanLines())

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.BusAccess.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Key)))
      .getOrElse("(none)")
    e.stageIds.foreach(stageSpan.put(_, s))
    of(s).synchronized(of(s).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, "(none)"))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, "(none)"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // QueryExecutionListener: planning phases and codegen fallbacks of
  // every executed action or command. Callbacks arrive on the bus
  // thread, so callers drain the bus and take what arrived.
  private val executed = mutable.ArrayBuffer[(Long, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    executed.synchronized(executed += ((planMs, Probe.fallbacks(qe.executedPlan))))
  }

  /** (planning ms, fallback expressions) summed over the executions
    * completed since the last call.
    */
  def takeExecuted(): (Long, Long) = {
    drain()
    executed.synchronized {
      val r = (executed.map(_._1).sum, executed.map(_._2).sum)
      executed.clear(); r
    }
  }
}

object Probe {
  val Key = "perfbench.span"

  /** `CodegenFallback` expressions across a physical plan, looking
    * through adaptive plans, query stages, reused exchanges, command
    * wrappers and subqueries.
    */
  def fallbacks(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => fallbacks(a.executedPlan)
    case s: QueryStageExec => fallbacks(s.plan)
    case r: ReusedExchangeExec => fallbacks(r.child)
    case c: CommandResultExec => fallbacks(c.commandPhysicalPlan)
    case _ =>
      p.expressions.map(_.collect { case f: CodegenFallback => f }.size.toLong).sum +
        p.children.map(fallbacks).sum + p.subqueries.map(fallbacks).sum
  }
}
