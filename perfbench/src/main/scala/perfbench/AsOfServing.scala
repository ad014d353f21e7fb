package perfbench

import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.DiffGraph
import graft.log.{BulkFactStore, FactLog}
import graft.model.{A, PropType}
import graft.projection.EventsReplay
import graft.serve.GraftViews
import graft.snapshot.Snapshot
import graft.temporal.VersionChains

/** Concurrent time-travel serving: [[AsOfServing.Clients]] client threads
  * share one session and read the `events` fact log as of seeded past
  * instants. The log is projected with `EventsReplay.build`, saved
  * tx-bucketed and reopened with `FactLog.open`, and not persisted, so
  * every read goes through the bucket-pruned parquet fact scan.
  *
  * A pass deals the 20 ops of [[AsOfServing.PassMix]] to the clients
  * (closed loop: a client sends its next op when the previous one returns)
  * and ends when both clients are done. Every op draws fresh instants and
  * user sets, so no op repeats an earlier one.
  *
  * Answers are checked against a plain-Scala model over the raw events:
  * the latest event per user at ts ≤ t, where an `error` event retracts
  * the `value` property. */
final class AsOfServing(spark: SparkSession, seed: Long, data: String, work: String,
                        fast: Boolean) extends Workload {
  import AsOfServing._

  private val copies = if (fast) 2 else 5
  private val srcDir = if (fast) s"$data/sf0.001" else s"$data/sf0.01"
  private val inputDir = s"$work/inputs/asof_${if (fast) "fast" else s"x$copies"}"
  private val storeRoot = s"$work/asof_store"
  private val bucketSize = 10000L

  private var ev: EventModel = _
  @volatile private var store: BulkFactStore = _
  @volatile private var head: Snapshot = _
  private val results = new java.util.concurrent.ConcurrentLinkedQueue[(OpSpec, Any)]

  def prepare(): Unit = {
    if (!new java.io.File(s"$inputDir/events.parquet/_SUCCESS").exists())
      graft.util.ScaleUp.scaleTable(spark, srcDir, "events", copies)
        .write.mode("overwrite").parquet(s"$inputDir/events.parquet")
    val rows = EventsReplay.rawEvents(spark, inputDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .collect()
    ev = new EventModel(rows)
  }

  def setup(): Unit = {
    val built = Trace.span("projection", "EventsReplay.build")(EventsReplay.build(spark, inputDir))
    Trace.span("log", "save")(built.save(storeRoot, bucketSize))
    store = Trace.span("log", "open")(FactLog.open(spark, storeRoot))
    head = Snapshot.head(store)
  }

  /** Two full passes over ops no timed pass draws (passes -1 and -2). */
  def warmup(rec: Recorder): Unit =
    Seq(-1, -2).foreach(p => runClients(rec, traced = false, passOps(p), record = false))

  def pass(p: Int, rec: Recorder, traced: Boolean): Unit =
    runClients(rec, traced, passOps(p), record = true)

  /** Pass `p`: the op mix as an exact multiset, in seeded order, dealt to
    * the clients in turn; every op draws its own instants and users. */
  private def passOps(p: Int): Seq[OpSpec] = {
    val r = new Random(Stats.mix(seed, p.toLong))
    r.shuffle(PassMix.flatMap { case (k, n) => Seq.fill(n)(k) })
      .zipWithIndex.map { case (k, i) => drawOp(k, r, i % Clients) }
  }

  lazy val opDigest: String = Stats.sha256(passOps(1).iterator.map(_.toString))

  private def drawOp(kind: String, r: Random, client: Int): OpSpec = {
    def instant() = ev.minMs + (r.nextDouble() * (ev.maxMs - ev.minMs)).toLong
    def users() = r.shuffle(ev.users.toSeq).take(1 + r.nextInt(50)).sorted
    kind match {
      case "diff" => OpSpec(kind, client, instant(), instant(),
        if (r.nextBoolean()) users() else Nil, r.nextBoolean())
      case "point" | "intervals" => OpSpec(kind, client, instant(), 0L, users(), false)
      case _ => OpSpec(kind, client, instant(), 0L, Nil, false)
    }
  }

  private def runClients(rec: Recorder, traced: Boolean, ops: Seq[OpSpec],
                         record: Boolean): Unit = {
    val pool = Executors.newFixedThreadPool(Clients)
    try {
      val fs = (0 until Clients).map { c =>
        pool.submit(new Runnable {
          def run(): Unit = ops.filter(_.client == c).foreach { op =>
            rec.time(op.kind, traced)(execute(op))
              .foreach(res => if (record) results.add((op, res)))
          }
        })
      }
      fs.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def asOf(ms: Long): Snapshot =
    Trace.span("snapshot", "asOf")(head.asOf(new Timestamp(ms)))

  private def ids(users: Seq[Long]): Seq[Long] = users.map(EventsReplay.VUser + _)

  private def collected(layer: String, name: String)(rows: => Array[Row]): Array[Row] =
    Trace.span(layer, name) {
      val out = rows
      Trace.addRowsOut(layer, out.length.toLong)
      out
    }

  private def execute(op: OpSpec): Any = op.kind match {
    case "point" =>
      val s = asOf(op.t1)
      collected("snapshot", "prop")(s.prop("value", PropType.PDouble, A.Vertex)
        .where(col("e").isin(ids(op.users): _*)).collect())
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    case "view" =>
      val s = asOf(op.t1)
      collected("snapshot", "propFacts")(s.propFacts(A.Vertex)
        .select(col("e"), col("key"), col("vStr"), col("vDouble")).collect())
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    case "diff" =>
      val s1 = asOf(op.t1)
      val s2 = asOf(op.t2)
      val ws = if (op.users.isEmpty) None
        else Some(spark.createDataFrame(ids(op.users).map(Tuple1(_))).toDF("e"))
      val (a, b) = if (op.flag) (s2, s1) else (s1, s2)
      collected("graph", "diff")(DiffGraph.of(a, b, ws).factsDF
        .select(col("e"), col("attr"), col("vStr"), col("vDouble")).collect())
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    case "intervals" =>
      collected("temporal", "intervals")(VersionChains.intervals(store)
        .where(col("e").isin(ids(op.users): _*))
        .select(col("e"), col("tx"), col("validFrom"), col("validTo")).collect())
        .map(r => (r.getLong(0), r.getLong(1), micros(r.getTimestamp(2)),
          Option(r.getTimestamp(3)).map(micros))).toSet
    case "since" =>
      val tx = Trace.span("log", "resolveTx")(store.resolveTx(new Timestamp(op.t1)))
      val r = collected("snapshot", "since")(Array(head.since(tx)
        .agg(count(lit(1)), coalesce(sum(col("tx")), lit(0L))).head()))
      (tx, r.head.getLong(0), r.head.getLong(1))
    case "register" =>
      val tx = Trace.span("log", "resolveTx")(store.resolveTx(new Timestamp(op.t1)))
      val prefix = s"perfbench_c${op.client}"
      Trace.span("serve", "registerAsOf")(GraftViews.registerAsOf(head, tx, prefix))
      val r = collected("serve", "sql")(spark.sql(
        s"""SELECT count(*) AS n, coalesce(sum(CAST(round(vDouble * 100) AS BIGINT)), 0) AS s
           |FROM ${prefix}_vertex_props WHERE key = 'value'""".stripMargin).collect())
      (tx, r.head.getLong(0), r.head.getLong(1))
  }

  def check(rec: Recorder): Unit = {
    val it = results.iterator()
    while (it.hasNext) {
      val (op, got) = it.next()
      val want = expected(op)
      if (got != want) rec.fail(s"${op.kind} at ${op.t1}: answer differs from the event model")
    }
  }

  private def expected(op: OpSpec): Any = op.kind match {
    case "point" =>
      val tx = ev.resolveTx(op.t1)
      op.users.flatMap(u => ev.valueAt(u, tx).map(v => (EventsReplay.VUser + u, v))).toSet
    case "view" =>
      val tx = ev.resolveTx(op.t1)
      ev.users.toSeq.flatMap { u =>
        ev.latest(u, tx).toSeq.flatMap { i =>
          val e = EventsReplay.VUser + u
          Seq((e, "last_type", Some(ev.kind(i)), None)) ++
            ev.valueAt(u, tx).map(v => (e, "value", None, Some(v)))
        }
      }.toSet
    case "diff" =>
      val (ta, tb) = if (op.flag) (op.t2, op.t1) else (op.t1, op.t2)
      val (xa, xb) = (ev.resolveTx(ta), ev.resolveTx(tb))
      val scope = if (op.users.isEmpty) ev.users.toSeq else op.users
      scope.flatMap { u =>
        val e = EventsReplay.VUser + u
        ev.latest(u, xa).toSeq.flatMap { ia =>
          val ib = ev.latest(u, xb)
          val typeChanged = !ib.exists(i => ev.kind(i) == ev.kind(ia))
          val va = ev.valueAt(u, xa)
          val valueChanged = va.isDefined && ev.valueAt(u, xb) != va
          val changed =
            (if (typeChanged) Seq((e, TypeAttr, Some(ev.kind(ia)), None)) else Nil) ++
              (if (valueChanged) Seq((e, ValueAttr, None, va)) else Nil)
          if (changed.isEmpty) Nil else changed :+ ((e, A.ElementType, Some(A.Vertex), None))
        }
      }.toSet
    case "intervals" =>
      op.users.flatMap { u =>
        val evs = ev.eventsOf(u)
        evs.indices.map { j =>
          (EventsReplay.VUser + u, ev.tx(evs(j)), ev.micros(evs(j)),
            if (j + 1 < evs.length) Some(ev.micros(evs(j + 1))) else None)
        }
      }.toSet
    case "since" =>
      val tx = ev.resolveTx(op.t1)
      (tx, ev.factsAfter(tx), ev.txSumAfter(tx))
    case "register" =>
      val tx = ev.resolveTx(op.t1)
      val vals = ev.users.toSeq.flatMap(u => ev.valueAt(u, tx))
      (tx, vals.size.toLong,
        vals.map(v => BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum)
  }

  def details: Map[String, Any] = Map(
    "clients" -> Clients, "loop" -> "closed", "ops_per_pass" -> PassMix.toMap,
    "events" -> ev.n, "users" -> ev.users.length, "facts" -> ev.factCount,
    "scale" -> s"${srcDir.split('/').last} x$copies", "tx_bucket_size" -> bucketSize)

  def layerExtras(): Map[String, Double] = {
    val snapIn = Trace.counters("snapshot").inputRecords
    val snapOut = Trace.rowsOutOf("snapshot")
    Map(
      "snapshot.resolve_ms" -> Trace.meanDur("snapshot", "asOf", 1e6),
      "snapshot.rows_in_per_row_out" -> (if (snapOut == 0) 0.0 else snapIn.toDouble / snapOut),
      "log.open_s" -> Trace.meanDur("log", "open", 1e9),
      "log.save_s" -> Trace.meanDur("log", "save", 1e9),
      "graph.diff_s" -> Trace.meanDur("graph", "diff", 1e9),
      "serve.register_ms" -> Trace.meanDur("serve", "registerAsOf", 1e6),
      "projection.build_s" -> Trace.meanDur("projection", "EventsReplay.build", 1e9),
      "projection.facts" -> ev.factCount.toDouble)
  }
}

object AsOfServing {
  val ExtraNames: Seq[String] = Seq("snapshot.resolve_ms", "snapshot.rows_in_per_row_out",
    "log.open_s", "log.save_s", "graph.diff_s", "serve.register_ms",
    "projection.build_s", "projection.facts")
  val Clients = 2
  /** Ops of one pass by kind: 40% point reads, 20% full views, 15% diffs,
    * 10% version intervals, 10% since, 5% register + SQL. */
  val PassMix: Seq[(String, Int)] = Seq("point" -> 8, "view" -> 4, "diff" -> 3,
    "intervals" -> 2, "since" -> 2, "register" -> 1)
  val TypeAttr = "last$type.string." + A.Vertex
  val ValueAttr = "value.double." + A.Vertex

  final case class OpSpec(kind: String, client: Int, t1: Long, t2: Long,
                          users: Seq[Long], flag: Boolean)

  def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** The raw events as arrays, with the per-user and per-tx indexes the
    * expected answers need. Event `i` is tx `event_id + 1`. */
  final class EventModel(rows: Array[Row]) {
    private val sorted = rows.sortBy(_.getLong(0))
    val n: Int = sorted.length
    val tx: Array[Long] = sorted.map(_.getLong(0) + 1)
    val micros: Array[Long] = sorted.map(r => AsOfServing.micros(r.getTimestamp(1)))
    val user: Array[Long] = sorted.map(_.getLong(2))
    val kind: Array[String] = sorted.map(_.getString(3))
    val value: Array[Double] = sorted.map(_.getDouble(4))
    val minMs: Long = micros.min / 1000
    val maxMs: Long = micros.max / 1000 + 1
    val users: Array[Long] = user.distinct.sorted
    private val byUser: Map[Long, Array[Int]] =
      (0 until n).groupBy(user(_)).map { case (u, is) => u -> is.toArray.sortBy(tx(_)) }
    /** Events by instant, with the running max tx, for resolveTx. */
    private val byTime = (0 until n).sortBy(i => (micros(i), tx(i))).toArray
    private val maxTxUpTo = byTime.map(tx(_)).scanLeft(-1L)(math.max).tail
    private val txOrder = (0 until n).sortBy(tx(_)).toArray
    private val firstTx: Array[Long] = byUser.values.map(is => tx(is.head)).toArray.sorted
    /** Facts per event: last_type plus value (asserted or retracted). */
    val factCount: Long = 2L * n + users.length
    // suffix sums over tx order for since()
    private val sortedTx = txOrder.map(tx(_))
    private val suffixTx = sortedTx.scanRight(0L)(_ + _)
    private val firstSuffix = firstTx.scanRight(0L)(_ + _)

    def eventsOf(u: Long): Array[Int] = byUser.getOrElse(u, Array.empty)

    /** Max tx whose instant ≤ ms (FactStore.resolveTx), -1 when none. */
    def resolveTx(ms: Long): Long = {
      val t = ms * 1000
      val k = upperBound(byTime.length, i => micros(byTime(i)) <= t)
      if (k == 0) -1L else maxTxUpTo(k - 1)
    }

    /** Index of u's latest event with tx ≤ x. */
    def latest(u: Long, x: Long): Option[Int] = {
      val evs = eventsOf(u)
      val k = upperBound(evs.length, i => tx(evs(i)) <= x)
      if (k == 0) None else Some(evs(k - 1))
    }

    def valueAt(u: Long, x: Long): Option[Double] =
      latest(u, x).filter(kind(_) != "error").map(value(_))

    def factsAfter(x: Long): Long = {
      val k = upperBound(sortedTx.length, i => sortedTx(i) <= x)
      val f = upperBound(firstTx.length, i => firstTx(i) <= x)
      2L * (sortedTx.length - k) + (firstTx.length - f)
    }

    def txSumAfter(x: Long): Long = {
      val k = upperBound(sortedTx.length, i => sortedTx(i) <= x)
      val f = upperBound(firstTx.length, i => firstTx(i) <= x)
      2L * suffixTx(k) + firstSuffix(f)
    }

    /** Count of leading indices in [0, len) satisfying a monotone predicate. */
    private def upperBound(len: Int, ok: Int => Boolean): Int = {
      var lo = 0; var hi = len
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (ok(mid)) lo = mid + 1 else hi = mid }
      lo
    }
  }
}
