package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run hands back to `run.py`. Latencies are
  * raw samples in ms; `run.py` takes the percentiles. `latencyShapes`,
  * when given, names the query shape of each sample, and the median is
  * then taken per shape (see run.py). `checks` name the
  * outputs written for the DuckDB compare (query name -> oracle SQL);
  * `mismatches` are failures found inside the JVM (streaming checks).
  */
final case class Outcome(coldS: Double, throughputPerS: Double,
                         latenciesMs: Seq[Double], tailPct: Int,
                         attempted: Long, failed: Long,
                         latencyShapes: Seq[String] = Nil,
                         checks: Map[String, String] = Map.empty,
                         mismatches: Seq[String] = Nil,
                         info: Map[String, Any] = Map.empty,
                         layers: Map[String, Double] = Map.empty)

/** Benchmark entry point, started by `run.py` once per run:
  *
  * {{{
  * Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed> <launchEpochMs>
  * }}}
  *
  * Reads the generated tables from `dataDir`, drives the engine through
  * its public entry points, writes the outputs to check under
  * `workDir/out`, and writes `workDir/result.json`.
  */
object Main {
  /** Spark runs as local[Cpus]: the 4-core load the workloads are sized for. */
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, seedArg, launchArg) = args
    val seconds = secondsArg.toDouble
    val spark = session(work, streaming = workload == "events-stream")
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, traceArg == "1")
    val readyMs = System.currentTimeMillis()
    val out = s"$work/out"
    val result =
      try workload match {
        case "events-batch" => BatchLoad.run(spark, data, out, seconds, trace)
        case "events-stream" => StreamLoad.run(spark, data, out, seconds, trace)
        case "store-serving" =>
          ServeLoad.run(spark, data, out, seconds, seedArg.toLong, trace)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    trace.writeSpans(Paths.get(s"$work/spans.jsonl"))
    val json = Json.render(Map(
      "jvm_setup_s" -> (readyMs - launchArg.toLong) / 1000.0,
      "cold_s" -> result.coldS,
      "throughput_per_s" -> result.throughputPerS,
      "latencies_ms" -> result.latenciesMs,
      "latency_shapes" -> result.latencyShapes,
      "tail_pct" -> result.tailPct,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "checks" -> result.checks,
      "mismatches" -> result.mismatches,
      "info" -> result.info,
      "layers" -> result.layers,
      "peak_rss_mb" -> peakRssMb()))
    Files.writeString(Paths.get(s"$work/result.json"), json)
  }

  /** The session the engine's own mains use (graft.Bench's conf), with
    * every directory Spark writes to moved under this run's work dir.
    */
  def session(work: String, streaming: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    // RocksDB: the one state store both stateful implementations run on
    if (streaming) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    b.getOrCreate()
  }

  /** Runs `SparkEntry.queries` entries by name into a sink, each inside a
    * span and labelled in Spark's job descriptions, with graft.Bench's
    * cache hygiene after each; a query that throws counts in `failed`.
    */
  final class QueryRunner(spark: SparkSession, data: String, trace: Trace,
                          workload: String) {
    var failed = 0L

    /** Seconds the query took, including the sink. */
    def apply(q: String, sink: DataFrame => Unit): Double = {
      spark.sparkContext.setJobDescription(s"perfbench: $q")
      val t0 = System.nanoTime()
      try trace.span(q, trace.newOp(), workload) {
        sink(graft.SparkEntry.queries(q)(spark, data))
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $q failed: $e")
      } finally spark.sparkContext.setJobDescription(null)
      val s = seconds(t0)
      clean(spark)
      s
    }
  }

  /** graft.Bench's noop sink: evaluates every output column. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** graft.Bench's between-query cache hygiene. */
  def clean(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Writes one output for the DuckDB compare (graft.Verify's layout). */
  def writeOutput(df: DataFrame, out: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Per-op listener figures over one timed section. */
  def sparkLayers(c: Counters, ops: Long, wallS: Double): Map[String, Double] = {
    val n = math.max(1L, ops).toDouble
    Map(
      "spark.plan_ms" -> c.planMs / n,
      "spark.jobs_per_op" -> c.jobs / n,
      "spark.tasks_per_op" -> c.tasks / n,
      "spark.core_busy_share" ->
        (if (wallS > 0) c.runMs / (wallS * 1000 * Cpus) else 0.0),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> c.spillBytes / 1e6,
      "trace.listener_ms" -> c.listenerNs / 1e6)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
