package graftbench

import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a graft layer (or a whole
  * timed op at the top level). Times are System.nanoTime.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int, start: Long, var end: Long = -1L)

/** Everything Spark reports about one finished task. */
final case class TaskRec(
    span: Int, launchMs: Long, finishMs: Long, runMs: Long,
    schedDelayMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    inputBytes: Long, outputBytes: Long, failed: Boolean)

final case class JobRec(span: Int, submitMs: Long)
final case class StageRec(span: Int, completeMs: Long)
final case class PlanRec(timeMs: Long, planMs: Long)
final case class ProgressRec(timeMs: Long, batchMs: Long, stateRows: Long, stateBytes: Long)

/** Spans plus the Spark, streaming, planner and GC events of the
  * traced passes, kept in memory and turned into per-layer numbers at
  * the end of the run.
  *
  * Before each call into a layer the driver thread's local property
  * [[Tracer.SpanProp]] is set to the span id; Spark copies it into every
  * job the call triggers, so the listener maps job -> stage -> task
  * metrics to the span. Streaming micro-batches run on the query's own
  * thread, outside any span; their timing and state size come from
  * query progress events.
  */
final class Tracer {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val progress = mutable.ArrayBuffer.empty[ProgressRec]
  /** Largest total of pinned (cached or checkpointed) block bytes seen at a span end, per pass. */
  val pinnedPeak = mutable.Map.empty[Int, Long]

  /** Spans and Spark events are recorded only while this is on. */
  @volatile var active = false
  /** Pass id stamped on new spans. */
  var pass = -1
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
        val pinned = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        pinnedPeak(pass) = math.max(pinnedPeak.getOrElse(pass, 0L), pinned)
      }
    }

  /** Hook the listeners into a (new) session. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until every Spark event posted so far has been recorded. */
  def drain(): Unit = if (sc != null) org.apache.spark.GraftBenchAccess.drainListenerBus(sc)

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).fold(-1)(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val span = spanOf(e.properties)
      e.stageIds.foreach(id => stageSpan.put(id, span))
      jobs.synchronized(jobs += JobRec(span, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val span = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
      stages.synchronized(stages += StageRec(span, e.stageInfo.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      val i = e.taskInfo
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      val rec =
        if (m == null)
          TaskRec(span, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, failed)
        else {
          // Spark UI's scheduler delay; gettingResultTime is a timestamp (0 when unused)
          val fetchMs = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          val sched = math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
          TaskRec(
            span, i.launchTime, i.finishTime, m.executorRunTime, sched, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, failed)
        }
      tasks.synchronized(tasks += rec)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        plans.synchronized(plans += PlanRec(System.currentTimeMillis(), ms))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active && e.progress.numInputRows > 0) {
        val p = e.progress
        val batchMs = Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)
        progress.synchronized(progress += ProgressRec(
          System.currentTimeMillis(), batchMs,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
      }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Self time: a span's duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.end - s.start - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

/** Heap in use right after each garbage collection, from the JVM's GC
  * notifications; `peakMb` is the highest value while `recording`.
  */
object HeapWatch {
  @volatile var recording = false
  @volatile private var peak = 0L

  def peakMb: Double = peak / 1048576.0
  def reset(): Unit = peak = 0L

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener(
          (n: javax.management.Notification, _: AnyRef) =>
            if (recording && n.getType ==
                  com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
                .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
              if (used > peak) peak = used
            },
          null, null)
      case _ => ()
    }
}
