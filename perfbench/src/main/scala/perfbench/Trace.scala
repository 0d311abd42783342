package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into each layer.
  *
  * A span is named `<layer>.<function>` and records its start, end,
  * parent and the op it belongs to (-1 for set-up work). Spans stay in
  * memory and are summarized when the run ends. With tracing off,
  * [[span]] is a single flag test around the body. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, var end: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def ms: Double = (end - start) / 1e6
  }

  @volatile var on: Boolean = false
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var currentOp: Int = -1
  /** nanoTime + offset = epoch nanoseconds, for lining spans up with the
    * listener's epoch-millisecond event times. */
  val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, parent, currentOp, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  /** The root span of one timed op; every span opened inside it carries
    * its op id. */
  def op[T](id: Int)(body: => T): T = {
    currentOp = id
    try span("op")(body) finally currentOp = -1
  }

  /** Self time per span: its duration minus the part its children
    * cover. Children of one parent never overlap (one client thread). */
  def selfNs: Map[Int, Long] = {
    val child = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.end - s.start - child.getOrElse(s.id, Nil)
        .map(c => c.end - c.start).sum)
    }.toMap
  }

  private def ms(ns: Long): Long = Math.floorDiv(ns + epochOffsetNs, 1000000L)

  /** Innermost span open at epoch-millisecond `t` (event times have
    * millisecond grain): of the spans open during that millisecond, the
    * one that started last. A job or planning phase cannot both start
    * and end, with its op, inside the millisecond the next op starts. */
  def innermostAt(tMs: Long): Option[Span] =
    spans.filter(s => ms(s.start) <= tMs && tMs <= ms(s.end))
      .sortBy(s => (s.start, -s.id)).lastOption
}

/** Engine counts from a listener the benchmark registers itself.
  * Events only append to buffers; everything is summed after the run. */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, desc: String)
  final case class Stage(id: Int, tasks: Int, var failedTasks: Int = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var schedDelayMs: Long = 0,
      var shuffleRead: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0, var input: Long = 0)

  val jobs: ArrayBuffer[Job] = ArrayBuffer.empty
  val stages: collection.mutable.Map[Int, Stage] = collection.mutable.Map.empty
  val jobStages: collection.mutable.Map[Int, Seq[Int]] = collection.mutable.Map.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs += Job(e.jobId, e.time, -1L, desc)
    jobStages(e.jobId) = e.stageIds
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId,
        Stage(e.stageInfo.stageId, e.stageInfo.numTasks))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId, 0))
    if (!e.taskInfo.successful) st.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      st.input += m.inputMetrics.bytesRead
      val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
      st.schedDelayMs += math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
  }
}

/** JVM counters read before and after the timed loop. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  final case class Snap(gcMs: Long, gcCount: Long, jitMs: Long)

  def snap(): Snap = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    Snap(gcs.map(_.getCollectionTime).sum,
      gcs.map(_.getCollectionCount).sum, jit)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Resident-set high-water mark of this process (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Fixed single-core arithmetic; its seconds read this host's speed. */
  def canarySec(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < 200000000L) {
      h = java.lang.Long.rotateLeft(h * 0xc2b2ae3d27d4eb4fL, 31) ^ i
      i += 1
    }
    if (h == 0L) System.err.println("canary fixed point")
    (System.nanoTime() - t0) / 1e9
  }
}
