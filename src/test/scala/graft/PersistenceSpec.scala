package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.GraftGraph
import graft.log.FactLog
import graft.model.{A, PropType}
import graft.snapshot.Snapshot

/** Save → reopen round-trip (the storage-URI surface, FluxGraph.java:85-111
  * analog) and asOf partition pruning over the bucketed layout. */
class PersistenceSpec extends AnyFunSuite {
  private def ts(s: String) = Timestamp.valueOf(s)

  test("save/open round-trip preserves snapshots, asOf prunes tx buckets") {
    val g = new GraftGraph(TestSpark.spark)
    g.setTransactionTime(ts("2024-01-01 00:00:00"))
    val v = g.addVertex(); v.setProperty("p", 1L)
    g.setTransactionTime(ts("2024-02-01 00:00:00")); v.setProperty("p", 2L)
    g.setTransactionTime(ts("2024-03-01 00:00:00")); v.setProperty("p", 3L)

    val dir = Files.createTempDirectory("graftlog").toString
    g.log.save(dir, txBucketSize = 2L)
    val store = FactLog.open(TestSpark.spark, dir)

    // head snapshot parity
    val head = Snapshot.head(store)
    assert(head.prop("p", PropType.PLong, A.Vertex).collect().map(_.getAs[Long]("v")).toSeq == Seq(3L))
    assert(store.headTx == g.log.headTx)
    assert(store.resolveTx(ts("2024-02-15 00:00:00")) == g.log.resolveTx(ts("2024-02-15 00:00:00")))
    g.log.allTxs.foreach { m =>
      assert(store.resolveTx(m.txInstant) == g.log.resolveTx(m.txInstant), s"resolveTx(${m.txInstant})")
    }

    // asOf parity with the in-memory log
    val feb = head.asOf(ts("2024-02-15 00:00:00"))
    assert(feb.prop("p", PropType.PLong, A.Vertex).collect().map(_.getAs[Long]("v")).toSeq == Seq(2L))

    // the asOf plan prunes on the txBucket partition column
    val plan = feb.history.queryExecution.executedPlan.toString
    assert(plan.contains("txBucket"), s"expected txBucket pruning in plan:\n$plan")

    // typed attr-equality lookups push down to the parquet scan
    val lookup = head.prop("p", PropType.PLong, A.Vertex)
    val lookupPlan = lookup.queryExecution.executedPlan.toString
    assert(lookupPlan.contains("PushedFilters") &&
      lookupPlan.contains("EqualTo(attr"),
      s"expected attr filter pushed to parquet:\n$lookupPlan")
  }
}
