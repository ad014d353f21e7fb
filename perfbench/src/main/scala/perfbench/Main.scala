package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}

/** Timed ops of one run and their failures. A failure is an op that threw
  * or whose answer the workload's check rejected. */
final case class TimedOp(name: String, ns: Long, traced: Boolean)

final class Recorder {
  private val ops = mutable.ArrayBuffer.empty[TimedOp]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var failedN = 0L

  def time[A](name: String, traced: Boolean)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      val ns = System.nanoTime() - t0
      synchronized(ops += TimedOp(name, ns, traced))
      Some(r)
    } catch {
      case e: Throwable =>
        val ns = System.nanoTime() - t0
        synchronized(ops += TimedOp(name, ns, traced))
        fail(s"$name threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        None
    }
  }

  def fail(msg: String): Unit = synchronized {
    failedN += 1
    if (failures.size < 5) failures += msg.take(300)
  }

  def all: Seq[TimedOp] = synchronized(ops.toSeq)
  def failed: Long = synchronized(failedN)
  def failureMessages: Seq[String] = synchronized(failures.toSeq)
}

/** One benchmark workload. The harness in [[Main]] drives it:
  * prepare → setup × [[Main.SetupReps]] → warmup → passes until the
  * measuring time is spent → check. */
trait Workload {
  /** Input generation and answer models; excluded from `setup_s`. */
  def prepare(): Unit
  /** One complete set-up (store build, save, open); the last one is kept. */
  def setup(): Unit
  /** One untimed pass over a warm-up op stream drawn from its own seed. */
  def warmup(rec: Recorder): Unit
  /** Timed pass `p` (0 is the traced pass of a traced run). */
  def pass(p: Int, rec: Recorder, traced: Boolean): Unit
  /** Verifies every recorded answer; called after the timed phase. */
  def check(rec: Recorder): Unit
  /** Digest of the seeded op sequence. */
  def opDigest: String
  /** Input sizes and anything else the run record should carry. */
  def details: Map[String, Any]
  /** Layer-specific metrics (names in [[Main.LayerExtraNames]]); read
    * after a traced run. */
  def layerExtras(): Map[String, Double]
}

object Main {
  val SetupReps = 3
  val Workloads = Seq("asof_serving", "analytics")
  /** Every layer-specific metric; a traced run prints all of them, with 0
    * for those its workload does not exercise. */
  val LayerExtraNames: Seq[String] = (AsOfServing.ExtraNames ++ Analytics.ExtraNames).distinct

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val data = opts("data")
    val work = opts("work")
    val fast = opts.getOrElse("fast", "0") == "1"

    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", graft.functions.GraftExtensions.configValue)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "asof_serving" => new AsOfServing(spark, seed, data, work, fast)
      case "analytics" => new Analytics(spark, seed, data, work, fast)
    }

    w.prepare()
    if (traced) Trace.start(spark.sparkContext)
    val setupTimes = (1 to SetupReps).map(_ => timeS(w.setup()))
    Trace.pause()
    val warmRec = new Recorder
    val warmS = timeS(w.warmup(warmRec))
    warmRec.failureMessages.foreach(m => System.err.println(s"[perfbench] warm-up: $m"))

    val canaryBefore = canary(spark, cpus)
    val rec = new Recorder
    val sampler = new StorageSampler(spark)
    sampler.start()
    val tracedPassS = if (traced) {
      Trace.resume()
      val s = timeS(w.pass(0, rec, traced = true))
      Trace.pause()
      Some(s)
    } else None
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val phaseStart = System.nanoTime()
    var p = 1
    while (passTimes.isEmpty || (System.nanoTime() - phaseStart) / 1e9 < seconds) {
      passTimes += timeS(w.pass(p, rec, traced = false))
      p += 1
    }
    sampler.stop()
    val canaryAfter = canary(spark, cpus)
    w.check(rec)

    val untraced = rec.all.filterNot(_.traced)
    val attempted = rec.all.size.toLong
    val failed = rec.failed
    val timedS = passTimes.sum
    val e2e = Map(
      "setup_s" -> (sessionS + Stats.median(setupTimes) + warmS, "s"),
      "ops_per_s" -> ((untraced.size - failed.min(untraced.size)) / timedS, "ops/s"),
      "pass_s" -> (Stats.median(passTimes.toSeq), "s"))

    val metrics: Map[String, (Double, String)] =
      if (!traced) e2e
      else {
        val generic = Trace.layerMetrics()
        val own = w.layerExtras()
        val extras = LayerExtraNames.map(n => n -> own.getOrElse(n, 0.0)).toMap
        val overhead = tracedPassS.get / Stats.median(passTimes.toSeq) * 100 - 100
        (generic ++ extras).map { case (k, v) => k -> (v, PerLayerUnits.unit(k)) } +
          ("trace.overhead_pct" -> (overhead, "%"))
      }

    // every op of both workloads is a read
    val reads = {
      val xs = untraced.map(_.ns / 1e6)
      val tail = Stats.tailPercentile(xs.size)
      Map("n" -> xs.size, "p50_ms" -> Stats.median(xs),
        "p90_ms" -> (if (Stats.beyond(xs.size, 90) >= 10) Some(Stats.percentile(xs, 90)) else None),
        "tail_pct" -> tail, "tail_ms" -> tail.map(Stats.percentile(xs, _)))
    }
    val byName = untraced.groupBy(_.name).map { case (k, xs) =>
      k -> Map("n" -> xs.size, "p50_ms" -> Stats.median(xs.map(_.ns / 1e6)))
    }
    val contended = math.max(canaryBefore, canaryAfter) > 1.5 * math.min(canaryBefore, canaryAfter)
    val detail = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "untraced_ops" -> untraced.size, "timed_s" -> timedS,
      "op_digest" -> w.opDigest,
      "passes" -> passTimes.size, "pass_times_s" -> passTimes.toSeq,
      "setup_times_s" -> setupTimes, "session_s" -> sessionS, "warmup_s" -> warmS,
      "reads" -> reads,
      "ops" -> byName,
      "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "failures" -> rec.failureMessages,
      "peak_storage_mb" -> sampler.peakMb,
      "host" -> Map(
        "nproc" -> cpus,
        "mem_gb" -> (java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
          .getTotalMemorySize / 1073741824.0),
        "max_heap_gb" -> Runtime.getRuntime.maxMemory / 1073741824.0,
        "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version),
      "canary_s" -> Map("before" -> canaryBefore, "after" -> canaryAfter),
      "contended" -> contended,
      "workload_detail" -> w.details)

    println("PERFBENCH_DETAIL " + Json(detail))
    println("PERFBENCH_RESULT " + Json(Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    if (traced) Trace.stop()
    spark.stop()
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** The parallel xxhash canary of graft.Bench at one partition per core:
    * a fixed CPU-bound job whose time reflects only the host's current
    * throughput. Two discarded warm-ups, then the median of three. */
  def canary(spark: SparkSession, cpus: Int): Double = {
    def rep() = timeS {
      spark.range(0L, cpus * 2500000L, 1L, cpus)
        .select(xxhash64(col("id")).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    rep(); rep()
    Stats.median(Seq(rep(), rep(), rep()))
  }
}

/** Samples the block manager's persisted-RDD footprint (memory + disk). */
final class StorageSampler(spark: SparkSession) {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val thread = new Thread(() => {
    while (running) {
      peak = math.max(peak, StorageSampler.usedBytes(spark))
      Thread.sleep(100)
    }
  }, "perfbench-storage-sampler")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; thread.join() }
  def peakMb: Double = peak / 1e6
}

object StorageSampler {
  def usedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
  def usedMb(spark: SparkSession): Double = usedBytes(spark) / 1e6
}

/** Units of the per-layer metrics, by name suffix. */
object PerLayerUnits {
  def unit(name: String): String = name.substring(name.lastIndexOf('.') + 1) match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_us") => "us"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_pct") => "%"
    case "rows_in_per_row_out" => "ratio"
    case _ => "count"
  }
}
