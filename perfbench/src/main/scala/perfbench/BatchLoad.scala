package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** events-batch: one client in a closed loop making back-to-back passes
  * of the reference query family over the generated events table, each
  * query through `SparkEntry.queries` into the noop sink.
  */
object BatchLoad {
  val Queries: Seq[String] = Seq(
    "q01_pv_hourly", "q02_uv_hourly", "q03_uv_approx_hourly",
    "q04_hot_items_top5", "q05_marketing_total", "q06_marketing_by_channel",
    "q07_ad_count_by_geo", "q08_click_blacklist", "q09_login_fail",
    "q10_order_timeout", "q11_tx_match", "q12_interval_join",
    "q16_cep_login_fail", "q17_cep_order_timeout")

  /** Per-layer metric name of a query: the CEP entries run in `cep`, the
    * rest in `ops`.
    */
  def layerName(q: String): String = {
    val short = q.takeWhile(_ != '_')
    if (q.contains("_cep_")) s"cep.${short}_s" else s"ops.${short}_s"
  }

  def run(spark: SparkSession, data: String, out: String, seconds: Double,
          trace: Trace): Outcome = {
    val rows = graft.Tables.events(spark, data).count()
    val exec = new Main.QueryRunner(spark, data, trace, "events-batch")

    // the JIT-cold first pass (codegen, classloading, footer caching)
    // writes each query's output once for the correctness check; q03 is
    // an estimate without an oracle and is checked through its oracled
    // twin (SparkEntry.coveredBy)
    val twins = Queries.flatMap(SparkEntry.coveredBy.get)
    val checked = Queries.filterNot(SparkEntry.coveredBy.contains) ++ twins
    val tCold = System.nanoTime()
    (Queries ++ twins).foreach(q => exec(q, Main.writeOutput(_, out, q)))
    val coldS = Main.seconds(tCold)

    val c0 = trace.counters()
    val tRun = System.nanoTime()
    val perQuery = Queries.map(_ -> Seq.newBuilder[Double]).toMap
    val passes = Seq.newBuilder[Double]
    var timedOps = 0L
    while (Main.seconds(tRun) < seconds) {
      val pass = Queries.map { q =>
        val s = exec(q, Main.noop)
        perQuery(q) += s
        s
      }
      timedOps += Queries.size
      passes += pass.sum
    }
    val wallS = Main.seconds(tRun)
    val c = trace.counters() - c0

    val samples = perQuery.values.flatMap(_.result()).toSeq
    val passTimes = passes.result()
    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else Main.sparkLayers(c, timedOps, wallS) ++
        perQuery.map { case (q, b) => layerName(q) -> Main.median(b.result()) }
    Outcome(
      coldS = coldS,
      throughputPerS = rows / Main.median(passTimes),
      latenciesMs = samples.map(_ * 1000),
      tailPct = 90,
      attempted = Queries.size + timedOps, failed = exec.failed,
      checks = checked.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      info = Map("rows" -> rows, "passes" -> passTimes.size,
        "pass_s" -> passTimes),
      layers = layers)
  }
}
