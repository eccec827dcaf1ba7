package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import graft.TableIO
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-metric totals of one span. */
final class Totals {
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var jobs = 0

  def +=(o: Totals): Unit = {
    runMs += o.runMs; cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes; jobs += o.jobs
  }
}

/** Sums task metrics per span key. The key is a local property of the
  * calling thread; Spark copies local properties onto every job the thread
  * submits, including the jobs an SQL execution starts from its broadcast
  * and subquery threads, so a job belongs to the span open at submission.
  */
final class TaskTotals extends SparkListener {
  private val stageKey = mutable.Map.empty[Int, String]
  private val byKey = mutable.Map.empty[String, Totals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(TaskTotals.KeyProp))).foreach { k =>
      byKey.getOrElseUpdate(k, new Totals).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = byKey.getOrElseUpdate(k, new Totals)
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def apply(key: String): Totals = synchronized {
    val t = new Totals
    byKey.get(key).foreach(t += _)
    t
  }
}

object TaskTotals {
  val KeyProp = "graft.perfbench.span"
}

/** One traced interval. `key` names the task totals attributed to it. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
    key: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans from outside the engine. Two kinds:
  *  - [[span]]: wraps a call into one layer;
  *  - segments: inside [[segments]], each [[TableIO]] call ends one
  *    segment, running from the end of the previous call. A segment that
  *    ends in a write of stage X is span `stage.X`: the pipeline builds
  *    (and for scoring, verify and CC partly executes) each stage's input
  *    before its commit call starts, so the commit call alone would miss
  *    most of the stage.
  * Each TableIO call is also recorded as a child span of its segment.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val totals = new TaskTotals
  sc.addSparkListener(totals)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nKeys = 0
  private var segParent: Option[String] = None
  private var segStart = 0L
  private var segKey = ""

  private def newKey(): String = {
    nKeys += 1
    val k = s"k$nKeys"
    sc.setLocalProperty(TaskTotals.KeyProp, k)
    k
  }

  def span[T](name: String, parent: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TaskTotals.KeyProp)
    val key = newKey()
    val t0 = System.nanoTime()
    try body finally {
      spans += Span(name, parent, t0, System.nanoTime(), Some(key))
      sc.setLocalProperty(TaskTotals.KeyProp, prev)
    }
  }

  /** Runs `body` with TableIO calls cutting segments under `parent`; the
    * stretch after the last call is recorded as span `tail`.
    */
  def segments[T](parent: String)(body: => T): T = {
    val prev = sc.getLocalProperty(TaskTotals.KeyProp)
    segParent = Some(parent)
    segStart = System.nanoTime()
    segKey = newKey()
    try body finally {
      spans += Span("tail", parent, segStart, System.nanoTime(), Some(segKey))
      segParent = None
      sc.setLocalProperty(TaskTotals.KeyProp, prev)
    }
  }

  def tableCall[T](method: String, stage: String, write: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    segParent.foreach { p =>
      val seg = if (write) s"stage.$stage" else s"read.$stage"
      spans += Span(seg, p, segStart, t1, Some(segKey))
      spans += Span(s"tableio.$method", seg, t0, t1, None)
      segStart = t1
      segKey = newKey()
    }
    r
  }

  /** Task totals summed over the spans named `name`. */
  def totalsOf(name: String): Totals = {
    PerfbenchBus.drain(sc)
    val t = new Totals
    spans.filter(_.name == name).flatMap(_.key).foreach(k => t += totals(k))
    t
  }

  def secondsOf(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Span duration minus the part of it covered by its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(c => c.parent == s.name && c.startNs >= s.startNs &&
      c.endNs <= s.endNs && (c ne s)).sortBy(_.startNs)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { c =>
      val lo = math.max(c.startNs, reach)
      if (c.endNs > lo) { covered += c.endNs - lo; reach = c.endNs }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** A [[TableIO]] that times every call through the [[Tracer]]; the engine
  * receives it where it would receive the plain implementation.
  */
final class TimingTableIO(inner: TableIO, tracer: Tracer) extends TableIO {
  private def write[T](m: String, stage: String)(body: => T): T =
    tracer.tableCall(m, stage, write = true)(body)
  private def read[T](m: String, stage: String)(body: => T): T =
    tracer.tableCall(m, stage, write = false)(body)

  def commit(stage: String, df: DataFrame): DataFrame =
    write("commit", stage)(inner.commit(stage, df))
  def commitPartitioned(stage: String, df: DataFrame, partitionCols: Seq[String]): DataFrame =
    write("commit", stage)(inner.commitPartitioned(stage, df, partitionCols))
  def commitBucketed(stage: String, df: DataFrame, bucketCol: String, nBuckets: Int): DataFrame =
    write("commit", stage)(inner.commitBucketed(stage, df, bucketCol, nBuckets))
  def commitSorted(stage: String, df: DataFrame, sortCol: String, nFiles: Int): DataFrame =
    write("commit", stage)(inner.commitSorted(stage, df, sortCol, nFiles))
  def replace(stage: String, df: DataFrame): DataFrame =
    write("commit", stage)(inner.replace(stage, df))
  def append(stage: String, df: DataFrame, tag: String): DataFrame =
    write("commit", stage)(inner.append(stage, df, tag))
  def replaceTagged(stage: String, df: DataFrame, tag: String): DataFrame =
    write("commit", stage)(inner.replaceTagged(stage, df, tag))
  def loadRange(stage: String, sortCol: String, lo: Any, hi: Any): Option[DataFrame] =
    read("load", stage)(inner.loadRange(stage, sortCol, lo, hi))
  def load(stage: String): Option[DataFrame] = read("load", stage)(inner.load(stage))
  def history(stage: String): Seq[String] = read("meta", stage)(inner.history(stage))
  def rollback(stage: String, snapshotDir: String): Unit =
    read("meta", stage)(inner.rollback(stage, snapshotDir))
  def loadAt(stage: String, entry: String): DataFrame =
    read("load", stage)(inner.loadAt(stage, entry))
  def loadTagged(stage: String, tag: String): Option[DataFrame] =
    read("load", stage)(inner.loadTagged(stage, tag))
  def appendChainLength(stage: String): Int = read("meta", stage)(inner.appendChainLength(stage))
  def liveEntry(stage: String): Option[String] = read("meta", stage)(inner.liveEntry(stage))
  def incrementalScan(stage: String, sinceEntry: String): Option[DataFrame] =
    read("load", stage)(inner.incrementalScan(stage, sinceEntry))
  def resetStage(stage: String): Unit = read("meta", stage)(inner.resetStage(stage))
  def expireSnapshots(stage: String, keepLast: Int): Seq[String] =
    write("commit", stage)(inner.expireSnapshots(stage, keepLast))
  def vacuumOrphans(minAgeMs: Long): Seq[String] =
    write("commit", "_vacuum")(inner.vacuumOrphans(minAgeMs))
  def runId: String = inner.runId
}

/** Peak old-generation heap after GC, from the JVM's GC notifications. */
final class HeapMonitor {
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala.find { p =>
    p.getType == MemoryType.HEAP && Seq("Old", "Tenured").exists(p.getName.contains)
  }
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        for (p <- oldPool; u <- Option(info.getGcInfo.getMemoryUsageAfterGc.get(p.getName)))
          if (u.getUsed > peak) peak = u.getUsed
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L

  /** Peak since [[reset]]; without a GC in between, the usage the last GC left. */
  def peakMb: Double = {
    val p = if (peak > 0) peak
      else oldPool.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
    p / 1048576.0
  }
}

/** Per-batch `durationMs` of every streaming query progress that read rows. */
final class BatchDurations extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[Map[String, Long]]
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0)
      batches += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }
  def take(): Seq[Map[String, Long]] = synchronized {
    val r = batches.toList
    batches.clear()
    r
  }
}
