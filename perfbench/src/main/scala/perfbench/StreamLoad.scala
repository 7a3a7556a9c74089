package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.SparkEntry
import graft.cep.{CEP, CepEvent, Pattern}
import graft.ops.WindowedAgg
import graft.streaming.{KeyedClick, KeyedEvent, StatefulOps, StreamingTopN}

/** One row of the generated events table (the engine's events schema). */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** A streaming operator under test.
  *
  * @param start  builds the streaming query over the source, handing
  *               every micro-batch's results to `sink`
  * @param batch  the operator's batch form, reading the emitted events
  *               from an events table directory, with the same columns
  *               as the streaming results
  * @param lastId the column holding the id of the result's last
  *               contributing event, for results triggered by an event
  */
final case class Operator(
    name: String,
    start: (DataFrame, (DataFrame, Long) => Unit) => DataStreamWriter[Row],
    batch: (SparkSession, String) => DataFrame,
    lastId: Option[String])

/** events-stream: an open loop. The generator adds the generated events
  * to the sources on a fixed schedule, stamping each event with the time
  * it was due; five stateful operators on the RocksDB state store consume
  * them. Phase 1 emits at `ReferenceRate` for the whole measured time and
  * gives the latency figures; phase 2 then drops one block of
  * `BlockEvents` at once, so every operator also runs large
  * micro-batches against a standing backlog. The sustained rate is the
  * slowest operator's phase-2 input rows over its phase-2 trigger time.
  */
object StreamLoad {
  val ReferenceRate = 750          // events/s during phase 1
  val BlockEvents = 20000          // events in the phase-2 block
  val WarmEvents = 4000            // untimed first block (cold start)
  val ClickThreshold = 2L          // q08's threshold
  private val GapMs = 2 * 3600 * 1000L
  private val TimeoutMs = 24 * 3600 * 1000L

  private def keyed(src: DataFrame): Dataset[KeyedEvent] = {
    import src.sparkSession.implicits._
    src.select(col("user_id").as("key"), col("ts"),
      col("event_type").as("eventType"), col("event_id").as("id"))
      .as[KeyedEvent]
  }
  private def orders(src: DataFrame): Dataset[KeyedEvent] = {
    import src.sparkSession.implicits._
    src.filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id").as("key"), col("ts"),
        when(col("event_type") === "signup", "create").otherwise("pay")
          .as("eventType"), col("event_id").as("id"))
      .as[KeyedEvent]
  }
  private def clicks(src: DataFrame): DataFrame =
    src.filter(col("event_type") === "click")
      .select(col("user_id").as("userId"),
        get_json_object(col("props"), "$.k").cast("long").as("adId"),
        col("ts"))
  private def orderResults(src: DataFrame): DataFrame =
    StatefulOps.orderTimeout(orders(src), TimeoutMs)
      .toDF("user_id", "status", "event_ts")
  private def cepEvents(src: DataFrame): Dataset[CepEvent] = {
    import src.sparkSession.implicits._
    src.select(col("user_id").cast("string").as("key"), col("ts"),
      col("event_type").as("eventType"), col("event_id").as("id"))
      .as[CepEvent]
  }
  private val loginPattern = Pattern.begin("first", _.eventType == "error")
    .next("second", _.eventType == "error").within("2 hours")
  private def cepRows(m: Dataset[graft.cep.PatternMatch]): DataFrame = {
    import m.sparkSession.implicits._
    m.map(x => (x.key.toLong, x.events.last.id, x.events.head.tsMs / 1000,
        x.events.last.tsMs / 1000))
      .toDF("user_id", "warn_id", "first_fail", "last_fail")
  }
  private def hotCounts(src: DataFrame): DataFrame =
    WindowedAgg.slidingCount(
      src.filter(col("event_type") === "view")
        .withColumn("item_id", get_json_object(col("props"), "$.k").cast("long")),
      "ts", "1 hour", "5 minutes", Seq("item_id"))

  private def appendTo(df: DataFrame, sink: (DataFrame, Long) => Unit) =
    df.writeStream.outputMode("append").foreachBatch(sink)

  /** The dispatch table: every operator is called from exactly one line
    * here, so replacing an operator's implementation re-points one line.
    * The batch forms are the reference queries over the same events
    * (`SparkEntry.queries`), except for `order_timeout`, whose streaming
    * form keeps one pending create per key and so has no batch twin.
    */
  val Operators: Seq[Operator] = Seq(
    Operator("login_fail",
      (src, sink) => appendTo(StatefulOps.consecutiveFails(keyed(src), "error", GapMs)
        .toDF("user_id", "warn_id", "first_fail", "last_fail"), sink),
      SparkEntry.queries("q09_login_fail"),
      Some("warn_id")),
    Operator("order_timeout",
      (src, sink) => appendTo(orderResults(src), sink),
      (s, dir) => replay(graft.Tables.events(s, dir), orderResults),
      None),
    Operator("click_blacklist",
      (src, sink) => {
        import src.sparkSession.implicits._
        appendTo(StatefulOps.clickBlacklist(clicks(src).as[KeyedClick], ClickThreshold)
          .select(col("userId").as("user_id"), col("adId").as("ad_id"),
            col("dayStart").as("day_start")), sink)
      },
      (s, dir) => SparkEntry.queries("q08_click_blacklist")(s, dir)
        .select("user_id", "ad_id", "day_start"),
      None),
    Operator("cep_login",
      (src, sink) => appendTo(cepRows(CEP.detectStream(cepEvents(src), loginPattern)), sink),
      SparkEntry.queries("q16_cep_login_fail"),
      Some("warn_id")),
    Operator("hot_items",
      (src, sink) => StreamingTopN.writer(hotCounts(src), Seq("window_start"),
        "cnt", Seq("item_id"), 5)(sink),
      SparkEntry.queries("q04_hot_items_top5"),
      None))

  /** The batch form of an operator that has no separate batch
    * implementation: the streaming operator run over all emitted events
    * as one micro-batch, so its result cannot depend on where the live
    * run cut micro-batches.
    */
  private def replay(ev: DataFrame, op: DataFrame => DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev](Main.Cpus)
    mem.addData(ev.as[Ev].collect().toSeq)
    val out = op(mem.toDF().withWatermark("ts", "0 seconds"))
    val rows = new ConcurrentLinkedQueue[Row]()
    val sink: (DataFrame, Long) => Unit =
      (df, _) => df.collect().foreach(rows.add)
    val q = appendTo(out, sink).queryName("replay").start()
    try q.processAllAvailable() finally q.stop()
    spark.createDataFrame(rows.asScala.toList.asJava, out.schema)
  }

  /** A result row's arrival at the sink. */
  private final case class Arrival(op: String, row: Row, atNs: Long)

  def run(spark: SparkSession, data: String, out: String, seconds: Double,
          trace: Trace): Outcome = {
    import spark.implicits._
    implicit val ctx: SQLContext = spark.sqlContext
    val events = graft.Tables.events(spark, data).as[Ev]
      .orderBy("event_id").collect()
    val stampNs = new Array[Long](events.length)
    val arrivals = new ConcurrentLinkedQueue[Arrival]()

    val sources = Operators.map(_ => MemoryStream[Ev](Main.Cpus))
    val queries: Seq[StreamingQuery] = Operators.zip(sources).map { case (op, mem) =>
      val sink = (df: DataFrame, _: Long) => {
        val rows = df.collect()
        val at = System.nanoTime()
        rows.foreach(r => arrivals.add(Arrival(op.name, r, at)))
      }
      op.start(mem.toDF().withWatermark("ts", "0 seconds"), sink)
        .queryName(op.name).start()
    }

    var next = 0
    // events emitted through each source offset (one offset per add)
    val emittedAt = scala.collection.mutable.ArrayBuffer.empty[Int]
    /** Adds events [next, until) to every source, each stamped with the
      * time it was due; returns how late the add ran for the chunk's
      * earliest-due event, in ms.
      */
    def emit(until: Int, dueNs: Int => Long): Double = {
      val end = math.min(until, events.length)
      if (end <= next) return 0.0
      (next until end).foreach(i => stampNs(i) = dueNs(i))
      val chunk = events.slice(next, end).toSeq
      val lateMs = (System.nanoTime() - stampNs(next)) / 1e6
      sources.foreach(_.addData(chunk))
      emittedAt += end
      next = end
      lateMs
    }
    /** Events the slowest operator has taken in so far. */
    def processed(): Int = queries.map { q =>
      Option(q.lastProgress).flatMap(_.sources.headOption)
        .flatMap(s => scala.util.Try(s.endOffset.trim.toInt).toOption)
        .filter(_ >= 0).map(emittedAt(_)).getOrElse(0)
    }.min
    def drain(): Unit = queries.foreach(_.processAllAvailable())

    // cold start: first block through every operator (untimed)
    val tCold = System.nanoTime()
    emit(WarmEvents, _ => System.nanoTime())
    drain()
    val coldS = Main.seconds(tCold)

    val c0 = trace.counters()
    val tRun = System.nanoTime()
    // phase 1: fixed reference rate, 10 ms generator ticks
    val p1From = next
    val p1Ns = (seconds * 1e9).toLong
    val lateMs = Seq.newBuilder[Double]
    var backlogMax = 0L
    while (System.nanoTime() - tRun < p1Ns && next < events.length) {
      Thread.sleep(10)
      val elapsed = System.nanoTime() - tRun
      val due = p1From + (elapsed * ReferenceRate / 1000000000L).toInt
      lateMs += emit(due, i => tRun + (i - p1From) * 1000000000L / ReferenceRate)
      backlogMax = math.max(backlogMax, (next - processed()).toLong)
    }
    val p1Until = next
    drain()
    val phase1Batch = queries.map(_.lastProgress.batchId)

    // phase 2: one block dropped at once, timed until every operator drained
    val blockFrom = next
    val tBlock = System.nanoTime()
    emit(next + BlockEvents, _ => tBlock)
    drain()
    val blockRate = (next - blockFrom) / Main.seconds(tBlock)
    val wallS = Main.seconds(tRun)
    val c = trace.counters() - c0
    val batches = trace.batchRecords
    // each operator's processing rate: input rows over the trigger time
    // of its phase-2 batches, where a standing backlog keeps it busy (in
    // phase 1 it waits for the reference rate); the slowest operator
    // bounds the arrival rate the stream can sustain
    val opRates = queries.zip(phase1Batch).map { case (q, p1) =>
      val ps = q.recentProgress.filter(p => p.batchId > p1 && p.numInputRows > 0)
      ps.map(_.numInputRows).sum /
        (ps.map(_.durationMs.get("triggerExecution").longValue).sum / 1000.0)
    }
    val dropped = queries.map(q => q.recentProgress.flatMap(
      _.stateOperators.map(_.numRowsDroppedByWatermark)).sum).sum
    val finalWatermark = Operators.zip(queries).collect {
      case (op, q) if op.name == "hot_items" && q.lastProgress != null =>
        Option(q.lastProgress.eventTime.get("watermark")).map(parseIsoSec)
    }.flatten.headOption.getOrElse(0L)
    val tStop = System.nanoTime()
    queries.foreach(_.stop())
    val stopS = Main.seconds(tStop)

    // latency: event-triggered results whose last event came in phase 1
    val all = arrivals.asScala.toList
    val clickLast = thresholdClicks(events, next)
    def lastIdOf(a: Arrival): Option[Long] = a.op match {
      case "click_blacklist" => clickLast.get((a.row.getLong(0), a.row.getLong(1),
        a.row.getLong(2)))
      case _ => Operators.find(_.name == a.op).flatMap(_.lastId)
        .map(c => a.row.getAs[Long](c))
    }
    val latencies = all.flatMap(a => lastIdOf(a).filter(i => i >= p1From && i < p1Until)
      .map(i => (a.atNs - stampNs(i.toInt)) / 1e6))
    val windowLag = timerLags(all.filter(_.op == "hot_items"), events, stampNs,
      p1From, p1Until)

    // correctness: each operator's streamed results vs its batch form
    // over exactly the emitted events
    val tCheck = System.nanoTime()
    val emittedDir = s"$out/emitted"
    graft.Tables.events(spark, data).filter(col("event_id") < next)
      .write.parquet(s"$emittedDir/events.parquet")
    // the five checks are independent Spark jobs: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Operators.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val mismatches =
      try Await.result(Future.traverse(Operators) { op => Future {
        // hot_items: only the windows the final watermark has closed
        val closed = (r: Row) => op.name != "hot_items" ||
          r.getAs[Long]("window_end") <= finalWatermark
        val got = all.filter(a => a.op == op.name && closed(a.row))
          .map(_.row.toSeq.mkString("|"))
        val exp = op.batch(spark, emittedDir).collect().filter(closed)
          .map(_.toSeq.mkString("|")).toList
        if (got.sorted == exp.sorted) None
        else Some(s"${op.name}: streamed ${got.size} rows, batch form ${exp.size}")
      }}, Duration(120, "s")).flatten
      finally pool.shutdown()
    val checkS = Main.seconds(tCheck)

    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else Main.sparkLayers(c, batches.size.toLong, wallS) ++
        streamLayers(batches) ++ Map(
          "streaming.backlog_events" -> backlogMax.toDouble,
          "streaming.timeout_emit_lag_ms" -> Main.median(windowLag),
          "sources.gen_late_ms" -> percentile(lateMs.result(), 99))
    Outcome(
      coldS = coldS,
      throughputPerS = opRates.min,
      latenciesMs = latencies,
      tailPct = 95,
      attempted = next.toLong,
      failed = dropped + mismatches.size,
      mismatches = mismatches,
      info = Map("emitted" -> next, "phase1_events" -> (p1Until - p1From),
        "block_rate" -> blockRate,
        "operator_rates" -> Operators.map(_.name).zip(opRates).toMap,
        "results" -> all.size,
        "latency_samples" -> latencies.size, "dropped_late" -> dropped,
        "backlog_max" -> backlogMax, "measured_s" -> wallS,
        "stop_s" -> stopS, "check_s" -> checkS,
        "gen_late_p99_ms" -> percentile(lateMs.result(), 99)),
      layers = layers)
  }

  /** (user, ad, day) -> id of the click that reached the threshold. */
  private def thresholdClicks(events: Array[Ev], n: Int): Map[(Long, Long, Long), Long] = {
    val counts = scala.collection.mutable.HashMap.empty[(Long, Long, Long), Long]
    val out = scala.collection.mutable.HashMap.empty[(Long, Long, Long), Long]
    events.iterator.take(n).filter(_.event_type == "click").foreach { e =>
      val ad = e.props.stripPrefix("{\"k\": ").stripSuffix("}").toLong
      val k = (e.user_id, ad, Math.floorDiv(e.ts.getTime / 1000, 86400L) * 86400L)
      val c = counts.getOrElse(k, 0L) + 1
      counts(k) = c
      if (c == ClickThreshold) out(k) = e.event_id
    }
    out.toMap
  }

  /** Watermark-timer lag: for each closed window, sink arrival minus the
    * due stamp of the first event at or past the window end (the event
    * that moved the watermark over it).
    */
  private def timerLags(rows: Seq[Arrival], events: Array[Ev], stampNs: Array[Long],
                        from: Int, until: Int): Seq[Double] = {
    val tsSec = events.map(_.ts.getTime / 1000)
    rows.groupBy(_.row.getAs[Long]("window_end")).toSeq.flatMap { case (end, rs) =>
      val i = java.util.Arrays.binarySearch(tsSec, end) match {
        case k if k >= 0 => k
        case k => -k - 1
      }
      if (i >= from && i < until) Some((rs.map(_.atNs).min - stampNs(i)) / 1e6)
      else None
    }
  }

  private def streamLayers(batches: Seq[BatchRecord]): Map[String, Double] = {
    val parts = Seq("add_batch_ms" -> "addBatch", "trigger_ms" -> "triggerExecution",
      "query_planning_ms" -> "queryPlanning", "wal_commit_ms" -> "walCommit",
      "commit_offsets_ms" -> "commitOffsets")
    Operators.flatMap { op =>
      val bs = batches.filter(b => b.query == op.name && b.inputRows > 0)
      val p = s"streaming.${op.name}"
      parts.map { case (m, k) =>
        s"$p.$m" -> Main.median(bs.flatMap(_.durations.get(k)).map(_.toDouble))
      } ++ Seq(
        s"$p.state_rows" -> bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
        s"$p.state_mem_mb" -> bs.lastOption.map(_.stateMemBytes / 1e6).getOrElse(0.0),
        s"$p.state_commit_ms" -> Main.median(bs.map(_.stateCommitMs.toDouble)))
    }.toMap
  }

  private def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1).max(0))
    }

  private def parseIsoSec(iso: String): Long =
    java.time.Instant.parse(iso).getEpochSecond
}
