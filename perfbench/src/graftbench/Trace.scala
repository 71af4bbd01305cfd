package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `parent` is the id of the span that caused it (-1 for
  * a root); `run` is the pass it belongs to. Times are `System.nanoTime`.
  */
final case class Span(id: Int, parent: Int, name: String, run: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One finished Spark task, tagged with the benchmark span whose job ran it.
  * Launch and finish are epoch milliseconds.
  */
final case class TaskRec(span: String, runS: Double, gcS: Double,
                         shuffleWriteB: Long, spillB: Long, peakMemB: Long,
                         launchMs: Long, finishMs: Long)

/** Spans around the benchmark's calls into graft, plus Spark's own job,
  * stage and task events and Catalyst's planning phases, for the passes
  * between [[begin]] and [[end]]. Everything stays in memory; [[Main]]
  * writes it out when the run ends. Outside a traced pass `span` only runs
  * its body and no listener is attached, so untraced passes pay nothing.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.JobTag

  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0
  var run = -1
  var on = false
  /** Storage held by persisted data right after `Chunker.chunkTable`. */
  var cachedMb = 0.0

  val listener = new Tracer.SparkSide
  val phases = new Tracer.Phases

  def begin(): Unit = {
    run += 1
    on = true
    cachedMb = 0.0
    listener.reset()
    phases.reset()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(phases)
  }

  /** Waits until every listener event of the pass has been delivered, then
    * detaches the listeners.
    */
  def end(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(phases)
    on = false
  }

  /** Runs `body` inside a span named `name`. Spark jobs submitted from it
    * carry the name as a local property, so their tasks are attributed to
    * the innermost open span.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      spark.sparkContext.setLocalProperty(JobTag, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(JobTag, stack.headOption.map(_._2).orNull)
        spans += Span(id, parent, name, run, t0, t1)
      }
    }

  /** Adds each model call of the current pass as a span under the
    * innermost driver span that was open when the call started.
    */
  def addCalls(calls: Seq[Call]): Unit = {
    val open = spans.filter(_.run == run).toSeq
    calls.foreach { c =>
      val parent = open.filter(s => s.startNs <= c.startNs && c.startNs <= s.endNs)
        .sortBy(s => s.endNs - s.startNs).headOption.map(_.id).getOrElse(-1)
      spans += Span(nextId, parent, "llmmap.call", run, c.startNs, c.endNs)
      nextId += 1
    }
  }
}

object Tracer {
  val JobTag = "graftbench.span"

  /** Self time of every span: its duration minus the part of it that its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  final class SparkSide extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = ArrayBuffer.empty[String]
    val stages = ArrayBuffer.empty[String]
    val tasks = ArrayBuffer.empty[TaskRec]

    def reset(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }

    private def tagOf(stage: Int) = Option(stageSpan.get(stage)).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobTag))).getOrElse("")
      e.stageIds.foreach(stageSpan.put(_, tag))
      jobs += tag
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += tagOf(e.stageInfo.stageId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null)
        tasks += TaskRec(tagOf(e.stageId), m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory, e.taskInfo.launchTime, e.taskInfo.finishTime)
    }
  }

  /** Catalyst phase times of every successful query, from its
    * `QueryPlanningTracker`.
    */
  final class Phases extends QueryExecutionListener {
    val ms = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

    def reset(): Unit = synchronized { ms.clear() }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        qe.tracker.phases.foreach { case (phase, s) => ms(phase) += s.durationMs }
      }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
