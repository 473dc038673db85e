package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span: one timed call the benchmark makes into a graft layer. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      query: String, run: Int, startNs: Long, endNs: Long)

/** Spans kept in memory and written when the run ends. With tracing off
  * `span` only runs its body.
  */
final class Spans(@volatile var on: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, layer: String, query: String = "", run: Int = 0)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, parent, name, layer, query, run, t0, System.nanoTime()))
      }
    }

  def add(s: Span): Unit = synchronized { done += s }
  def nextId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = synchronized(done.toList)
}

/** Task, stage and job totals of one phase label. */
final class PhaseTotals {
  var jobs, stages, tasks, inputTasks = 0L
  var durationMs, runMs, cpuNs, gcMs, overheadMs = 0L
  var inputBytes, inputRows, shuffleWrite, shuffleRead, spill = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "input_tasks" -> inputTasks,
    "task_duration_s" -> durationMs / 1e3, "task_run_s" -> runMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "task_overhead_s" -> overheadMs / 1e3,
    "input_mb" -> inputBytes / 1e6, "input_rows" -> inputRows,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6)
}

/** One SparkListener per session. The harness labels each action with
  * the `graftbench.phase` local property; jobs, stages and tasks are
  * charged to the phase their job was started under.
  */
final class ExecListener extends SparkListener {
  /** Off while an untraced pass runs: its jobs are not counted. */
  @volatile var recording = true
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, PhaseTotals]()
  private def of(phase: String) = totals.computeIfAbsent(phase, _ => new PhaseTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (!recording) return
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.Key)))
      .getOrElse("other")
    e.stageIds.foreach(stagePhase.put(_, phase))
    val t = of(phase); t.synchronized { t.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val phase = stagePhase.get(e.stageInfo.stageId)
    if (phase == null) return
    val t = of(phase)
    t.synchronized { t.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val phase = stagePhase.get(e.stageId)
    if (m == null || phase == null) return
    val t = of(phase)
    t.synchronized {
      t.tasks += 1
      t.durationMs += e.taskInfo.duration
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) t.inputTasks += 1
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Map[String, Any]] =
    totals.asScala.map { case (k, v) => k -> v.synchronized(v.toMap) }.toMap
}

object ExecListener {
  val Key = "graftbench.phase"
  private val listeners = new java.util.WeakHashMap[SparkSession, ExecListener]()

  /** Installs the listener once per session (the session-install
    * pattern: a second call on the same session returns the first).
    */
  def install(spark: SparkSession): ExecListener = listeners.synchronized {
    Option(listeners.get(spark)).getOrElse {
      val l = new ExecListener
      spark.sparkContext.addSparkListener(l)
      listeners.put(spark, l)
      l
    }
  }

  /** Runs `body` with its Spark jobs charged to `phase`. */
  def phase[T](spark: SparkSession, phase: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, phase)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** One StreamingQueryListener per session: records a span per trigger. */
final class StreamListener(spans: Spans) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (spans.on) {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    spans.add(Span(spans.nextId(), 0, "trigger", "streaming", p.name, p.batchId.toInt,
      startMs * 1000000L, (startMs + dur) * 1000000L))
  }
}

object StreamListener {
  private val listeners = new java.util.WeakHashMap[SparkSession, StreamListener]()
  def install(spark: SparkSession, spans: Spans): StreamListener = listeners.synchronized {
    Option(listeners.get(spark)).getOrElse {
      val l = new StreamListener(spans)
      spark.streams.addListener(l)
      listeners.put(spark, l)
      l
    }
  }
}

/** JVM-wide counters read before and after a measured phase. */
object Jvm {
  import java.lang.management.ManagementFactory
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  /** Peak resident set size (VmHWM) of this process, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
