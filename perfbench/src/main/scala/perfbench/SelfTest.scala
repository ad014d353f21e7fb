package perfbench

import org.apache.spark.sql.SparkSession

/** Checks that [[LayerListener]] charges each job to the innermost span open
  * on the thread that submitted it. Prints one `PERFBENCH_SELFTEST` JSON
  * line; exits non-zero when a check fails. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => w }.getOrElse(".")
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def query(): Unit = spark.range(0L, 1000L, 1L, 2).selectExpr("sum(id)").collect()

    Trace.start(spark.sparkContext)
    Trace.span("snapshot", "outer") {
      query()
      Trace.span("gx", "inner")(query())
    }
    val other = new Thread(() => Trace.span("pipeline", "thread")(query()))
    other.start()
    Trace.span("log", "main")(query())
    other.join()
    Trace.pause()
    query()
    val m = Trace.layerMetrics()
    val none = Trace.counters(Trace.Unattributed).jobs.toDouble
    val perQuery = m("gx.jobs")
    val checks = Map(
      "a query submits at least one job" -> (perQuery >= 1),
      "the innermost span owns a nested query's jobs" -> (m("snapshot.jobs") == perQuery),
      "a span on another thread owns that thread's jobs" -> (m("pipeline.jobs") == perQuery),
      "concurrent spans do not steal each other's jobs" -> (m("log.jobs") == perQuery),
      "jobs outside any span are unattributed" -> (none == perQuery),
      "tasks follow their job's span" -> (m("gx.tasks") > 0 && m("serve.tasks") == 0),
      "span calls are counted" -> (m("snapshot.calls") == 1 && m("gx.calls") == 1),
      "percentile rule: p90 needs 100 samples" ->
        (Stats.beyond(100, 90) == 10 && Stats.beyond(99, 90) < 10),
      "percentile rule: tail percentile leaves ten beyond" ->
        Seq(20, 40, 99, 100, 1000).forall(n => Stats.tailPercentile(n).forall(p => Stats.beyond(n, p) >= 10)))
    Trace.stop()
    spark.stop()
    val ok = checks.values.forall(identity)
    println("PERFBENCH_SELFTEST " + Json(Map("ok" -> ok, "checks" -> checks)))
    if (!ok) sys.exit(1)
  }
}
