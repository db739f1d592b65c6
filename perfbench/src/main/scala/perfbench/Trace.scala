package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval. Spans of one run share `run`; `parent` 0 is a root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, run: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans held in memory and written out once, when the run ends. */
final class Tracer(run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var ids = 0
  // spans carry wall-clock nanoseconds, so engine-reported batch times and
  // the benchmark's own calls share one time line
  private val anchorNs = System.nanoTime()
  private val anchorWallNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = anchorWallNs + (System.nanoTime() - anchorNs)

  private def reserve(): Int = synchronized { ids += 1; ids }

  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int = synchronized {
    val id = reserve()
    spans += Span(id, parent, name, startNs, endNs, run)
    id
  }

  /** Times `body` as a span named `name`; `body` gets the span's id, for children. */
  def span[T](name: String, parent: Int = 0)(body: Int => T): (T, Span) = {
    val id = reserve()
    val t0 = nowNs
    val out = body(id)
    val s = Span(id, parent, name, t0, nowNs, run)
    synchronized(spans += s)
    (out, s)
  }

  def write(f: java.io.File): Unit = synchronized {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"run":"${s.run}"}""")
    } finally w.close()
  }
}

/** Micro-batch progress of every query: rows processed (both modes) and
  * the progress objects themselves (traced mode reads them). */
final class Progress extends StreamingQueryListener {
  private val rows = new ConcurrentHashMap[java.util.UUID, AtomicLong]()
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    rows.computeIfAbsent(e.progress.id, _ => new AtomicLong()).addAndGet(e.progress.numInputRows)
    events.add(e.progress)
  }
  def processed(id: java.util.UUID): Long = Option(rows.get(id)).map(_.get).getOrElse(0L)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] = events.asScala.filter(_.id == id).toSeq
}

/** Jobs, stages and tasks per micro-batch, attributed through the local
  * properties Spark sets on every job a micro-batch runs, `foreachBatch`
  * bodies included. */
final class JobStats(deadLetterMarker: String) extends SparkListener {
  type Key = (String, Long) // (query id, batch id)
  private val stageKey = new ConcurrentHashMap[Int, Key]()
  private def counter(m: ConcurrentHashMap[Key, AtomicLong], k: Key) =
    m.computeIfAbsent(k, _ => new AtomicLong())
  val jobs, stages, tasks = new ConcurrentHashMap[Key, AtomicLong]()
  val shuffleWrite = new ConcurrentHashMap[String, AtomicLong]()
  /** task durations of reduce-side stages (those that read a shuffle), per query */
  val reduceStageTaskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val reduceStageQuery = new ConcurrentHashMap[Int, String]()
  private val dlStart = new ConcurrentHashMap[Long, Long]()
  val deadLetterWriteMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (p != null) {
      val q = p.getProperty("sql.streaming.queryId")
      val b = p.getProperty("streaming.sql.batchId")
      if (q != null && b != null) {
        val k = (q, b.toLong)
        counter(jobs, k).incrementAndGet()
        e.stageIds.foreach(s => stageKey.put(s, k))
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach(k => counter(stages, k).incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      counter(tasks, k).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite.computeIfAbsent(k._1, _ => new AtomicLong()).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        if (m.shuffleReadMetrics.recordsRead > 0) {
          reduceStageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
            .add(e.taskInfo.duration)
          reduceStageQuery.put(e.stageId, k._1)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription.contains(deadLetterMarker) =>
      dlStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      Option(dlStart.remove(s.executionId)).foreach(t0 => deadLetterWriteMs.addAndGet(s.time - t0))
    case _ =>
  }

  def perBatch(m: ConcurrentHashMap[Key, AtomicLong], query: String): Seq[Double] =
    m.asScala.collect { case ((q, _), v) if q == query => v.get.toDouble }.toSeq

  def reduceStages(query: String): Seq[Seq[Long]] =
    reduceStageTaskMs.asScala.collect {
      case (s, ms) if reduceStageQuery.get(s) == query => ms.asScala.toSeq
    }.toSeq
}

/** Heap in use right after each GC, and GC time, over a window. With G1
  * the young-GC readings include old-generation garbage not yet marked, so
  * their peak grows with run length; the live set comes from a full GC. */
final class HeapWatch {
  @volatile var on = false
  val peakBytes = new AtomicLong()
  /** heap in use after the last explicit full GC: the live set */
  val liveBytes = new AtomicLong()
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if !pool.contains("Metaspace") && !pool.contains("CodeHeap") &&
            !pool.contains("Compressed Class") => u.getUsed }.sum
        peakBytes.accumulateAndGet(used, math.max)
        if (info.getGcCause == "System.gc()") liveBytes.set(used)
      }
  }
  beans.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  def gcMs: Long = beans.map(_.getCollectionTime).sum
}
