package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters read at span boundaries: process CPU, GC time and bytes
  * allocated by live threads (in `local[n]` the executor threads live in this
  * JVM too, so these cover the Spark driver and executors together). */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def allocBytes: Long = threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum

  /** Highest heap occupancy right after a collection, over the JVM's life
    * so far (fed by GC notifications; see [[watchHeap]]). */
  @volatile var peakPostGcBytes: Long = 0L

  def watchHeap(): Unit = {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakPostGcBytes) peakPostGcBytes = used
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Spans around each call the benchmark makes into a layer, and the Spark
  * work done inside them.
  *
  * A span records name, start, end, parent and run id, and stays in memory
  * until [[dump]]. Spark jobs, stages and tasks are tied to the span that was
  * open on the submitting thread through the `perfbench.span` local property
  * (threads started inside a span, such as a bucket pool, inherit it).
  * Planning phases (`qe.tracker`) are tied to the innermost span whose
  * interval holds them. While disabled (the default, and between
  * [[disable]] and [[enable]]) every call is a plain pass-through and no
  * listener is registered. */
final class Tracer(spark: SparkSession, val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startMs: Long, var endMs: Long,
                        startNs: Long, var endNs: Long,
                        gc0: Long, var gcMs: Long, alloc0: Long, var allocBytes: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final class Work {
    var jobs = 0
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    var planMs = 0L
  }

  private val Key = "perfbench.span"
  private var enabled = false
  private var nextId = 1
  private val stack = mutable.Stack[Int](0)
  val spans = mutable.ArrayBuffer.empty[Span]

  // listener-side state: written on the listener bus thread, read after drain
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val work = mutable.Map.empty[Int, Work]
  private val planEvents = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, plan ms)
  private def w(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
      w(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => w(s).jobIntervals += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stageSpan.getOrElse(e.stageId, 0)
      val m = e.taskMetrics
      val wk = w(s)
      wk.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        wk.cpuNs += m.executorCpuTime
        wk.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        wk.spillBytes += m.diskBytesSpilled
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        planEvents += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
  }

  private def listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def enable(): Unit = if (!enabled) {
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    listeners.register(qeListener)
  }

  /** Deliver the pending events, then remove both listeners; spans and the
    * work recorded so far are kept. */
  def disable(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    listeners.unregister(qeListener)
    enabled = false
  }

  /** Run `f` with the listeners registered for it alone. */
  def traced[A](f: => A): A = { enable(); try f finally disable() }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      val sp = Span(id, name, stack.top, System.currentTimeMillis(), 0L, System.nanoTime(), 0L,
        Jvm.gcMs, 0L, Jvm.allocBytes, 0L)
      spans += sp
      val prev = sc.getLocalProperty(Key)
      stack.push(id)
      sc.setLocalProperty(Key, id.toString)
      try f
      finally {
        sp.endNs = System.nanoTime(); sp.endMs = System.currentTimeMillis()
        sp.gcMs = Jvm.gcMs - sp.gc0; sp.allocBytes = Jvm.allocBytes - sp.alloc0
        stack.pop()
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Wait until every event of the calls so far reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants) + id
  }

  /** Spark work done inside span `id` and the spans below it. */
  def workOf(id: Int): Work = synchronized {
    val ids = descendants(id)
    val out = new Work
    ids.flatMap(work.get).foreach { x =>
      out.jobs += x.jobs; out.cpuNs += x.cpuNs; out.shuffleBytes += x.shuffleBytes
      out.spillBytes += x.spillBytes; out.jobIntervals ++= x.jobIntervals
      x.stageTaskMs.foreach { case (k, v) => out.stageTaskMs(k) = v }
    }
    // a planning phase belongs to the innermost span whose interval holds it
    out.planMs = planEvents.collect { case (t, ms) if innermost(t).exists(ids) => ms }.sum
    out
  }

  private def innermost(tMs: Long): Option[Int] =
    spans.filter(s => s.startMs <= tMs && tMs <= s.endMs && s.endNs > 0)
      .sortBy(s => -s.startNs).headOption.map(_.id)

  /** Spark driver time inside the span that no Spark job covers. */
  def gapSeconds(id: Int): Double = {
    val sp = spans.find(_.id == id).get
    val iv = workOf(id).jobIntervals.map { case (a, b) => (a.max(sp.startMs), b.min(sp.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b } else curB = curB.max(b)
    }
    covered += curB - curA
    (sp.seconds - covered / 1000.0).max(0.0)
  }

  /** Max ÷ median task time of the span's heaviest stage. */
  def taskSkew(x: Work): Double = {
    val heavy = x.stageTaskMs.values.filter(_.size >= 2).maxByOption(_.sum)
    heavy.map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }.getOrElse(1.0)
  }

  /** Spans as JSON lines: name, start, end, parent span and run id. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}""")
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
