package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span counters: one span per public-function call site of the
  * benchmark, summed over every call the run makes under that name. */
final class Counters {
  var wallMs = 0.0
  var calls = 0L
  var jobs = 0L
  var eagerJobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuMs = 0.0
  var shuffleWriteBytes = 0L
  var codegenCompiles = 0L
  var planningMs = 0.0
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def toJson: String = {
    val base = Seq(
      "wall_ms" -> Json.num(wallMs), "calls" -> calls.toString,
      "jobs" -> jobs.toString, "eager_jobs" -> eagerJobs.toString,
      "stages" -> stages.toString, "tasks" -> tasks.toString,
      "task_cpu_ms" -> Json.num(taskCpuMs),
      "shuffle_write_bytes" -> shuffleWriteBytes.toString,
      "codegen_compiles" -> codegenCompiles.toString,
      "planning_ms" -> Json.num(planningMs))
    Json.obj(base ++ extra.toSeq.map { case (k, v) => k -> Json.num(v) })
  }
}

/** Attributes engine work to the benchmark's spans.
  *
  * Untraced (`enabled = false`) a span only runs its body: nothing is
  * attached to the session. Traced, each span sets a job tag around
  * its body; a SparkListener reads the tag off every job and charges
  * the job's stages and tasks to that span. Codegen compiles are the
  * `CodegenMetrics.METRIC_COMPILATION_TIME` count delta across the
  * span, and planning time is the `QueryExecution.tracker` phases of
  * every query the span executed (matched by when its analysis began).
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val TagPrefix = "graftbench.span:"
  private val EagerTag = "graftbench.eager"
  private val sc: SparkContext = spark.sparkContext

  private val spans = mutable.LinkedHashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val intervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val plannings = mutable.ArrayBuffer.empty[(Long, Long)]

  private def counters(span: String): Counters = synchronized(spans.getOrElseUpdate(span, new Counters))

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSet).getOrElse(Set.empty[String])
      val span = tags.find(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix)).getOrElse("unattributed")
      val c = counters(span)
      c.jobs += 1
      if (tags.contains(EagerTag)) c.eagerJobs += 1
      e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = span)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      counters(stageSpan.getOrElse(e.stageInfo.stageId, "unattributed")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = counters(stageSpan.getOrElse(e.stageId, "unattributed"))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuMs += m.executorCpuTime / 1e6
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private object Planning extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        plannings += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(Planning)
  }

  /** Run `body` as one call of span `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val tag = TagPrefix + name
      sc.addJobTag(tag)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - n0) / 1e6
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        sc.removeJobTag(tag)
        synchronized {
          intervals += ((name, t0, System.currentTimeMillis()))
          val c = counters(name)
          c.calls += 1
          c.wallMs += wall
          c.codegenCompiles += compiles
        }
      }
    }

  /** Mark the jobs `body` launches as eager: run while a DataFrame is
    * built, before any action on it. */
  def eager[T](body: => T): T =
    if (!enabled) body
    else {
      sc.addJobTag(EagerTag)
      try body finally sc.removeJobTag(EagerTag)
    }

  /** Add a named extra counter to span `name` (traced runs only). */
  def add(name: String, counter: String, v: Double): Unit =
    if (enabled) synchronized {
      val c = counters(name)
      c.extra(counter) = c.extra.getOrElse(counter, 0.0) + v
    }

  /** Every span as JSON, after all listener events have arrived. */
  def toJson: String = {
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    synchronized {
      plannings.foreach { case (start, ms) =>
        intervals.find { case (_, a, b) => start >= a && start <= b } match {
          case Some((name, _, _)) => counters(name).planningMs += ms
          case None => counters("unattributed").planningMs += ms
        }
      }
      plannings.clear()
      Json.obj(spans.toSeq.map { case (k, c) => k -> c.toJson })
    }
  }
}
