package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.gx.{GraphXTraversal => GX}
import graft.log.FactStore
import graft.pipeline.{TextOps, VectorOps}
import graft.projection.TpchGraph
import graft.snapshot.Snapshot

/** Batch analytics by one client, as graph analysts and training-data
  * curators run it: each pass pins a fresh head snapshot of the persisted
  * TPC-H projection (so operator memos keyed on the snapshot miss and every
  * round really runs, as for per-job snapshots in a long-lived session),
  * runs the graph operators over it, then the composed curation chain over
  * the documents and the IVF index build over a seeded vector sample.
  * Results are collected to the driver.
  *
  * Operator parameters are drawn once per run from the seed, so every pass
  * must return the same answers. Operators whose parameters match a
  * registered query are checked against that query's DuckDB twin
  * (`SparkEntry.oracleSql`) after the run; the rest by invariants. */
final class Analytics(spark: SparkSession, seed: Long, data: String, work: String,
                      fast: Boolean) extends Workload {
  import Analytics._

  private val tpchDir = s"$data/sf0.001"
  private val docsDir = if (fast) s"$data/sf0.001" else s"$data/sf0.01"
  private val oracleDir = s"$work/oracle"

  private val r = new Random(seed)
  private var pprSource = 0L
  private val vecSalt = r.nextLong()

  private var store: FactStore = _
  private var facts = 0L
  private var docs: DataFrame = _
  private var embSample: DataFrame = _

  /** (op name, registered query it matches, layer, body). */
  private lazy val ops: Seq[(String, Option[String], String, Snapshot => DataFrame)] = Seq(
    ("pagerank", Some("pagerank_full"), "gx", s => GX.pageRankRelationalDF(spark, s, 10, 30)),
    // hits the contribution-edge memo the pagerank op just built
    ("ppr", None, "gx", s => GX.personalizedPageRankRelationalDF(spark, s, pprSource, 10, 30)),
    ("kcore", Some("kcore"), "gx", s => GX.kCoreDF(spark, s)),
    ("curation", Some("curation_pipeline"), "pipeline", _ => TextOps.curationPipeline(docs)),
    ("ivf_build", None, "pipeline", _ => VectorOps.ivfBuild(embSample, 16, 3).indexed))

  /** Per op: digest of every pass's answer, and the last answer. */
  private val digests = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
  private val lastRows = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private val growth = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def prepare(): Unit = {
    def n(t: String, k: String) =
      spark.read.parquet(s"$tpchDir/$t.parquet").agg(max(col(k))).head().getLong(0)
    pprSource = TpchGraph.VCustomer + 1 + r.nextInt(n("customer", "c_custkey").toInt)
    docs = spark.read.parquet(s"$docsDir/documents.parquet")
    embSample = spark.read.parquet(s"$docsDir/embeddings.parquet").where(pmod(xxhash64(col("vec_id"), lit(vecSalt)), lit(10L)) =!= 0)
  }

  def setup(): Unit = {
    if (store != null) store.factsDF.unpersist(blocking = true)
    store = Trace.span("projection", "TpchGraph.build")(TpchGraph.build(spark, tpchDir))
    facts = Trace.span("projection", "materialize") {
      store.factsDF.persist(StorageLevel.MEMORY_AND_DISK).count()
    }
  }

  def warmup(rec: Recorder): Unit = runPass(rec, traced = false, record = false)

  def pass(p: Int, rec: Recorder, traced: Boolean): Unit =
    runPass(rec, traced, record = true)

  private def runPass(rec: Recorder, traced: Boolean, record: Boolean): Unit = {
    val snap = Trace.span("snapshot", "head") {
      val s = Snapshot.head(store)
      s.currentFacts.persist(StorageLevel.MEMORY_AND_DISK).count()
      s.edges.persist(StorageLevel.MEMORY_AND_DISK).count()
      s
    }
    // storage still pinned after each layer's ops: memoized checkpoints
    // and indexes the operators keep for the session
    Seq("gx", "pipeline").foreach { layer =>
      val before = StorageSampler.usedMb(spark)
      ops.filter(_._3 == layer).foreach { case (name, _, _, body) =>
        rec.time(name, traced) {
          Trace.span(layer, name) {
            val df = body(snap)
            (df.collect(), df.schema)
          }
        }.foreach { case (rows, schema) =>
          if (record) {
            digests.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
              Stats.rowsDigest(rows.map(_.toString))
            lastRows(name) = (rows, schema)
          }
        }
      }
      if (traced) growth.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) +=
        StorageSampler.usedMb(spark) - before
    }
    snap.currentFacts.unpersist(blocking = true)
    snap.edges.unpersist(blocking = true)
  }

  lazy val opDigest: String = Stats.sha256(Iterator(
    s"ppr=$pprSource", s"salt=$vecSalt") ++ ops.iterator.map(_._1))

  /** Oracle requests for the runner: (registered query, result dir, ops run). */
  val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]

  def check(rec: Recorder): Unit = {
    val runs = rec.all.groupBy(_.name).map { case (k, v) => k -> v.size }
    def failAll(name: String, why: String): Unit =
      (1 to runs.getOrElse(name, 1)).foreach(_ => rec.fail(s"$name: $why"))
    ops.foreach { case (name, registered, _, _) =>
      digests.get(name) match {
        case None => ()
        case Some(ds) =>
          if (ds.distinct.size > 1) failAll(name, "answer changed between passes")
          val (rows, schema) = lastRows(name)
          registered match {
            case Some(q) => writeOracle(q, name, rows, schema, runs.getOrElse(name, 0))
            case None => invariant(name, rows).foreach(why => failAll(name, why))
          }
      }
    }
  }

  private def writeOracle(query: String, name: String, rows: Array[Row],
                          schema: org.apache.spark.sql.types.StructType, runs: Int): Unit = {
    val path = s"$oracleDir/$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    oracle += Map("query" -> query, "op" -> name, "path" -> path, "runs" -> runs,
      "sql" -> graft.SparkEntry.oracleSql(query))
  }

  /** Why the answer of an op without a registered twin is wrong, if it is. */
  private def invariant(name: String, rows: Array[Row]): Option[String] = {
    def col0(rows: Array[Row], c: String): Seq[Any] = rows.toSeq.map(_.getAs[Any](c))
    name match {
      case "ppr" =>
        val ranks = col0(rows, "rank").map(_.asInstanceOf[Double])
        if (rows.isEmpty || rows.length > 30) Some(s"${rows.length} rows, want 1..30")
        else if (ranks.exists(x => x <= 0 || x > 1)) Some("rank outside (0, 1]")
        else if (ranks.sum > 1.0 + 1e-3) Some(s"ranks sum to ${ranks.sum} > 1")
        else None
      case "ivf_build" =>
        val n = embSample.count()
        val cells = col0(rows, "cell").map(_.asInstanceOf[Number].intValue)
        if (rows.length != n) Some(s"${rows.length} assignments for $n vectors")
        else if (cells.exists(c => c < 0 || c >= 16)) Some("cell outside [0, 16)")
        else None
      case other => Some(s"no check for $other")
    }
  }

  def details: Map[String, Any] = Map(
    "clients" -> 1, "loop" -> "closed", "ops_per_pass" -> ops.map(_._1),
    "tpch" -> tpchDir.split('/').last, "facts" -> facts,
    "documents" -> docsDir.split('/').last, "doc_scale" -> 1,
    "ppr_source" -> pprSource,
    "oracle" -> oracle.toSeq,
    "oracle_tables" -> (Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").map(t => t -> s"$tpchDir/$t.parquet") ++
      Seq("documents", "embeddings").map(t => t -> s"$docsDir/$t.parquet")).toMap)

  def layerExtras(): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val gx = GxOps.map(o => s"gx.${o}_s" -> Trace.meanDur("gx", o, 1e9))
    val pipe = PipelineOps.map(o => s"pipeline.${o}_s" -> Trace.meanDur("pipeline", o, 1e9))
    (gx ++ pipe ++ Seq(
      "gx.storage_growth_mb" -> mean(growth.getOrElse("gx", Nil).toSeq),
      "gx.blocks_evicted" -> Trace.counters("gx").blocksEvicted.toDouble,
      "pipeline.storage_growth_mb" -> mean(growth.getOrElse("pipeline", Nil).toSeq),
      "projection.build_s" -> (Trace.meanDur("projection", "TpchGraph.build", 1e9) +
        Trace.meanDur("projection", "materialize", 1e9)),
      "projection.facts" -> facts.toDouble)).toMap
  }
}

object Analytics {
  val GxOps: Seq[String] = Seq("pagerank", "ppr", "kcore")
  val PipelineOps: Seq[String] = Seq("curation", "ivf_build")
  val ExtraNames: Seq[String] = GxOps.map(o => s"gx.${o}_s") ++
    Seq("gx.storage_growth_mb", "gx.blocks_evicted") ++
    PipelineOps.map(o => s"pipeline.${o}_s") ++ Seq("pipeline.storage_growth_mb",
      "projection.build_s", "projection.facts")
}
