package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spans recorded by the benchmark around its calls into graft's modules,
  * and the Spark work attributed to them.
  *
  * A span names the layer (module) it calls into. While a span is open, its
  * id is the calling thread's Spark local property [[SpanKey]], so every job
  * the call submits carries it; [[LayerListener]] charges the job's stages
  * and tasks to the innermost open span's layer. Tracing is off unless
  * [[start]] ran: then [[span]] only evaluates its body. */
object Trace {
  val Layers: Seq[String] =
    Seq("projection", "log", "snapshot", "temporal", "graph", "serve", "gx", "pipeline")
  val SpanKey = "perfbench.span"
  val Unattributed = "none"

  final class Span(val id: Long, val layer: String, val name: String, val parent: Span) {
    val startNs: Long = System.nanoTime()
    @volatile var endNs: Long = 0L
    /** Time covered by this span's children (same thread). */
    @volatile var childNs: Long = 0L
    def durNs: Long = endNs - startNs
    def selfNs: Long = durNs - childNs
  }

  @volatile private var sc: SparkContext = _
  @volatile private var listener: LayerListener = _
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val closed = new ConcurrentLinkedQueue[Span]
  /** Rows the benchmark received back from calls, per layer. */
  private val rowsOut = new ConcurrentHashMap[String, AtomicLong]
  /** Most recently opened span on any thread (block events carry no job). */
  @volatile private var latest: Span = _

  @volatile private var active = false

  def enabled: Boolean = active

  def start(context: SparkContext): Unit = {
    sc = context
    listener = new LayerListener
    context.addSparkListener(listener)
    active = true
  }

  /** Stops recording spans (the listener stays; untagged jobs go to "none"). */
  def pause(): Unit = active = false
  def resume(): Unit = active = listener != null

  def stop(): Unit = if (listener != null) {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!active) body
    else {
      require(Layers.contains(layer), s"unknown layer $layer")
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), layer, name, parent)
      byId.put(s.id, s)
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      current.set(s)
      latest = s
      try body
      finally {
        s.endNs = System.nanoTime()
        if (parent != null) parent.childNs += s.durNs
        current.set(parent)
        sc.setLocalProperty(SpanKey, prevProp)
        closed.add(s)
      }
    }

  def addRowsOut(layer: String, n: Long): Unit =
    if (enabled) rowsOut.computeIfAbsent(layer, _ => new AtomicLong).addAndGet(n)

  def layerOfProps(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(id => Option(byId.get(id.toLong))).map(_.layer).getOrElse(Unattributed)

  private[perfbench] def latestLayer: String = {
    val s = latest
    if (s == null || s.endNs != 0L) Unattributed else s.layer
  }

  def spans: Seq[Span] = closed.asScala.toSeq

  /** Mean duration of the closed spans named `name` in `layer`, in units
    * of `scaleNs` nanoseconds; 0 when there are none. */
  def meanDur(layer: String, name: String, scaleNs: Double): Double = {
    val xs = spans.filter(s => s.layer == layer && s.name == name)
    if (xs.isEmpty) 0.0 else xs.map(_.durNs).sum / xs.size / scaleNs
  }

  /** The generic per-layer metric set: `<layer>.<counter>` for every layer. */
  def layerMetrics(): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    val all = spans
    val c = listener.counters
    Layers.flatMap { l =>
      val ls = all.filter(_.layer == l)
      val k = c.getOrElse(l, new Counters)
      Seq(
        s"$l.calls" -> ls.size.toDouble,
        s"$l.busy_s" -> ls.map(_.selfNs).sum / 1e9,
        s"$l.jobs" -> k.jobs.toDouble,
        s"$l.tasks" -> k.tasks.toDouble,
        s"$l.task_cpu_s" -> k.cpuNs / 1e9,
        s"$l.shuffle_write_mb" -> k.shuffleWrite / 1e6,
        s"$l.shuffle_read_mb" -> k.shuffleRead / 1e6,
        s"$l.input_mb" -> k.inputBytes / 1e6,
        s"$l.spill_mb" -> k.spill / 1e6,
        s"$l.sched_wait_s" -> k.schedWaitMs / 1e3,
        s"$l.task_retries" -> k.retries.toDouble)
    }.toMap
  }

  def counters(layer: String): Counters = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    listener.counters.getOrElse(layer, new Counters)
  }

  def rowsOutOf(layer: String): Long = Option(rowsOut.get(layer)).map(_.get).getOrElse(0L)
}

final class Counters {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var inputBytes = 0L; var inputRecords = 0L
  var spill = 0L; var schedWaitMs = 0L; var retries = 0L; var blocksEvicted = 0L
}

/** Charges Spark jobs, stages, tasks and block evictions to layers. */
final class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]
  private val stageSubmitMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val stageFirstLaunchMs = new ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val byLayer = scala.collection.mutable.Map.empty[String, Counters]

  def counters: Map[String, Counters] = synchronized(byLayer.toMap)

  private def of(layer: String): Counters = byLayer.getOrElseUpdate(layer, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Trace.layerOfProps(e.properties)
    e.stageIds.foreach(id => stageLayer.put(id, layer))
    synchronized(of(layer).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    val fromProps = Trace.layerOfProps(e.properties)
    if (fromProps != Trace.Unattributed) stageLayer.put(si.stageId, fromProps)
    stageSubmitMs.put((si.stageId, si.attemptNumber()),
      java.lang.Long.valueOf(si.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstLaunchMs.merge((e.stageId, e.stageAttemptId),
      java.lang.Long.valueOf(e.taskInfo.launchTime),
      (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.min(a.longValue, b.longValue)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    val sub = stageSubmitMs.remove(key)
    val first = stageFirstLaunchMs.remove(key)
    val layer = stageLayer.getOrDefault(si.stageId, Trace.Unattributed)
    synchronized {
      if (sub != null && first != null)
        of(layer).schedWaitMs += math.max(0L, first.longValue - sub.longValue)
      if (si.attemptNumber() > 0) of(layer).retries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, Trace.Unattributed)
    val m = e.taskMetrics
    synchronized {
      val c = of(layer)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0) c.retries += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  /** An RDD block that leaves memory but stays on disk was evicted by the
    * memory store (explicit unpersists drop the block entirely). */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case _: RDDBlockId if info.memSize == 0L && info.diskSize > 0L &&
          info.storageLevel.useDisk =>
        val layer = Trace.latestLayer
        synchronized(of(layer).blocksEvicted += 1)
      case _ =>
    }
  }
}
