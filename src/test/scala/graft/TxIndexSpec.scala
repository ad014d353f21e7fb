package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.log.BulkFactStore
import graft.model.{Fact, Touch}
import graft.snapshot.Snapshot

/** `BulkFactStore.resolveTx` / `headTx` answer from a driver-side index of
  * the txs table. The equivalent Spark aggregation over that table is the
  * reference: the index must agree with it at every instant, and must not
  * start a Spark job once built. */
class TxIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def ts(s: String) = Timestamp.valueOf(s)
  private def shift(t: Timestamp, nanos: Long) = Timestamp.from(t.toInstant.plusNanos(nanos))

  private def queriedTx(txs: DataFrame, at: Timestamp): Long = {
    val r = txs.where(col("txInstant") <= lit(at)).agg(max(col("tx"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  private def queriedHead(txs: DataFrame): Long = {
    val r = txs.agg(max(col("tx"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  private val txSchema = StructType(Seq(
    StructField("tx", LongType), StructField("txInstant", TimestampType)))

  private def txsOf(s: SparkSession, rows: Seq[(Long, Timestamp)]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows.map { case (t, i) => Row(t, i) }: _*),
      txSchema)

  private def storeOf(s: SparkSession, txs: DataFrame): BulkFactStore = {
    import s.implicits._
    new BulkFactStore(s, s.emptyDataset[Fact].toDF(), s.emptyDataset[Touch].toDF(), txs)
  }

  /** Backdated and non-monotone instants, a repeated instant, sub-µs
    * nanos, a pre-Gregorian instant (rebased by Spark) and a null instant
    * carrying the highest tx. */
  private val history: Seq[(Long, Timestamp)] = Seq(
    0L -> ts("2024-03-01 00:00:00"),
    1L -> ts("2024-01-15 12:00:00"),
    2L -> ts("2024-05-01 00:00:00.123456789"),
    3L -> ts("2024-02-01 00:00:00"),
    4L -> ts("2024-03-01 00:00:00"),
    5L -> ts("1500-06-01 00:00:00"),
    6L -> ts("2024-04-01 08:30:00.000001"),
    7L -> null)

  /** Every instant of [[history]] exactly and ±1 µs, plus edge probes. */
  private val probes: Seq[Timestamp] =
    history.flatMap { case (_, t) =>
      Option(t).toSeq.flatMap(i => Seq(i, shift(i, -1000), shift(i, 1000)))
    } ++ Seq(
      ts("2024-05-01 00:00:00.123456500"), // same µs as tx 2, later nanos
      ts("2024-05-01 00:00:00.123455999"), // the µs before tx 2
      ts("1400-01-01 00:00:00"),           // before the first instant
      ts("2100-01-01 00:00:00"))           // after the last

  private def assertParity(store: BulkFactStore): Unit = {
    probes.foreach { at =>
      assert(store.resolveTx(at) == queriedTx(store.txsDF, at), s"resolveTx($at)")
    }
    assert(store.headTx == queriedHead(store.txsDF))
  }

  test("resolveTx and headTx equal the txs-table aggregation at every probe") {
    val store = storeOf(spark, txsOf(spark, history))
    assertParity(store)
    assert(store.headTx == 7L, "headTx counts the null-instant row")
    assert(store.resolveTx(ts("2100-01-01 00:00:00")) == 6L)
  }

  test("an empty txs table resolves every instant and the head to -1") {
    val store = storeOf(spark, txsOf(spark, Nil))
    assertParity(store)
    assert(store.headTx == -1L && store.resolveTx(ts("2100-01-01 00:00:00")) == -1L)
  }

  test("a TIMESTAMP_NTZ txInstant resolves in the session time zone") {
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val ntz = txsOf(la, history).withColumn("txInstant", col("txInstant").cast("timestamp_ntz"))
    assert(ntz.schema("txInstant").dataType == TimestampNTZType)
    assertParity(storeOf(la, ntz))
  }

  /** Jobs started by `body` on this thread. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"txindex-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try body
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def parquetStore(): BulkFactStore = {
    val dir = Files.createTempDirectory("graft-txs").toString
    txsOf(spark, history).write.mode("overwrite").parquet(dir)
    storeOf(spark, spark.read.parquet(dir))
  }

  test("after the first resolveTx, resolveTx, headTx and asOf start no Spark job") {
    val store = parquetStore()
    assert(jobsIn(store.txsDF.collect()) > 0, "the job counter sees a txs scan")
    assert(jobsIn(store.resolveTx(ts("2024-02-15 00:00:00"))) == 1, "one collect builds the index")
    val head = Snapshot.head(store)
    val jobs = jobsIn {
      probes.foreach(store.resolveTx)
      store.headTx
      head.asOf(ts("2024-03-15 00:00:00"))
    }
    assert(jobs == 0)
    val at = ts("2024-03-15 00:00:00")
    assert(head.asOf(at).asOfTx == queriedTx(store.txsDF, at))
  }

  test("two threads making the first resolveTx at once get equal answers") {
    val store = parquetStore()
    val at = ts("2024-03-15 00:00:00")
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val first = new Callable[Long] {
        def call(): Long = { barrier.await(); store.resolveTx(at) }
      }
      val answers = Seq.fill(2)(pool.submit(first)).map(_.get(2, TimeUnit.MINUTES))
      assert(answers.distinct == Seq(queriedTx(store.txsDF, at)))
    } finally pool.shutdown()
  }
}
