package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one op share `op`; `parent` is 0 for an
  * op's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {
  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing, so the untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def spans: Seq[Span] = buf.asScala.toSeq

  def newId(): Long = ids.incrementAndGet()

  /** The op of the innermost open span on this thread, 0 outside any. */
  def currentOp: Long = stack.get().headOption.map(_._2).getOrElse(0L)

  /** A root span for one op: its id is also the op id, set as the Spark
    * job group so listener metrics attach to the op. */
  def op[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      spark.sparkContext.setJobGroup(id.toString, name, interruptOnCancel = false)
      try timed(id, 0L, id, name, body)
      finally spark.sparkContext.clearJobGroup()
    }

  /** A child of the current span on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else stack.get() match {
      case (parent, op) :: _ => timed(newId(), parent, op, name, body)
      case Nil               => val id = newId(); timed(id, 0L, id, name, body)
    }

  private def timed[T](id: Long, parent: Long, op: Long, name: String, body: => T): T = {
    stack.set((id, op) :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      buf.add(Span(id, parent, op, name, t0, t1))
    }
  }

  /** Records an interval measured elsewhere (a streaming trigger). A
    * root (parent 0) is its own op; a child belongs to its parent's op. */
  def record(parent: Long, name: String, startNs: Long, endNs: Long): Long = {
    val id = newId()
    if (enabled) buf.add(Span(id, parent, if (parent == 0L) id else parent, name, startNs, endNs))
    id
  }
}

/** Task, stage and job totals, per job group (the op id) and overall. */
final class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Double]
}

/** SparkListener + QueryExecutionListener: per-group task metrics, stage
  * and job counts, and the tracker's plan-phase times of every action. */
final class SparkTotals extends SparkListener with QueryExecutionListener {
  val all = new TaskTotals
  private val groups = mutable.Map.empty[String, TaskTotals]
  private val stageGroup = mutable.Map.empty[Int, String]
  val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def group(g: String): TaskTotals = synchronized(groups.getOrElse(g, new TaskTotals))
  def groupIds: Seq[String] = synchronized(groups.keys.toSeq)

  private def totalsFor(g: Option[String]): Seq[TaskTotals] =
    all +: g.toSeq.map(k => groups.getOrElseUpdate(k, new TaskTotals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(k => e.stageIds.foreach(stageGroup(_) = k))
    totalsFor(g).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totalsFor(stageGroup.get(e.stageInfo.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    totalsFor(stageGroup.get(e.stageId)).foreach { t =>
      t.tasks += 1
      t.taskMs += e.taskInfo.duration.toDouble
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) += (s.endTimeMs - s.startTimeMs).toDouble
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits until every event posted so far has reached these totals. */
  def flush(spark: SparkSession): Unit = org.apache.spark.perfbench.Drain(spark.sparkContext)

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Streaming progress of every trigger, also recorded as a
  * `streaming.trigger` span whose children are the trigger's phases. */
final class StreamTotals(tracer: Tracer) extends StreamingQueryListener {
  import StreamTotals.Trigger
  val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators
    triggers.add(Trigger(d, p.numInputRows,
      ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum, ops.map(_.memoryUsedBytes).sum))
    // phases laid end to end inside the trigger, in execution order
    val endNs = System.nanoTime()
    val total = d.getOrElse("triggerExecution", 0L) * 1000000L
    val root = tracer.record(0L, "streaming.trigger", endNs - total, endNs)
    var at = endNs - total
    for (ph <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit"); ms <- d.get(ph)) {
      tracer.record(root, s"streaming.$ph", at, at + ms * 1000000L)
      at += ms * 1000000L
    }
  }
}

object StreamTotals {
  final case class Trigger(durations: Map[String, Long], inputRows: Long,
                           stateRows: Long, stateCommitMs: Long, stateMemoryBytes: Long)
}
