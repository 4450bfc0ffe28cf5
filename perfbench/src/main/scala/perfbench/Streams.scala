package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}
import graft.core.{Branch, Pipe, Xform}
import graft.state.StateView
import graft.streaming.Streaming

/** One replayed event, as appended to the MemoryStreams. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** The two stream workloads. Every chunk of replayed events is appended to
  * one MemoryStream per running query (a MemoryStream serves one query);
  * the queries are graft pipelines writing to memory sinks.
  *
  * Phases after the first chunk:
  *  - closed loop: append one chunk, wait until every query committed it;
  *  - open loop: a generator thread appends a chunk every
  *    [[Streams.TickMs]] on a fixed schedule. It does not slow down when
  *    the engine does.
  * The closed loop takes [[Streams.ClosedShare]] of the measured time.
  * Through both phases reader threads issue `StateView.get` lookups on
  * their own fixed schedule ([[Lookups]]).
  */
final class Streams(spark: SparkSession, c: Main.Conf, trace: Trace,
                    stateful: Boolean, tag: String) extends Main.Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val (events, late) = trace.span("sources", "replay") {
    val rows = graft.sources.Tables.table(spark, c.data, "replay")
      .orderBy("seq").collect()
    (rows.map(r => Ev(r.getAs[Long]("event_id"), r.getAs[Timestamp]("ts"),
      r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
      r.getAs[Double]("value"), r.getAs[String]("props"))),
      rows.map(_.getAs[Boolean]("late")))
  }
  private var next = 0 // rows appended so far
  private var chunks = 0L // chunks appended so far; chunk k has offset k
  private val wm = "1 hour"

  private final class Q(val name: String, val stream: MemoryStream[Ev], val query: StreamingQuery)
  private var qs: Seq[Q] = Nil
  /** stream_kv keeps no state: its lookups go to the batch KTable view. */
  private var batchView: Option[(StateView, DataFrame)] = None

  /** The reference's flagship transducer chain: filter, map, mapcat over
    * the `props` pairs, first-match branch tagging. */
  private def kvPipeline(df: DataFrame): DataFrame = Branch.branchTagged(
    Pipe.pipe(
      Xform.xfilter(col("value") > 1.0),
      Xform.xmap(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("props")),
      Xform.xmapcat(split(regexp_replace(col("props"), "[{}\" ]", ""), ":"), "prop",
        col("event_id"), col("user_id"), col("event_type"), col("value")))(df),
    Seq("buy" -> (col("event_type") === "purchase"), "big" -> (col("value") > 100.0),
      "rest" -> lit(true)))

  private def tumblingAggs: Seq[Column] = Seq(count(lit(1)).as("n"),
    (sum(floor(col("value") * lit(100) + lit(0.5))).cast("double") / lit(100.0)).as("sum_value"))

  private def start(name: String, mode: OutputMode)(f: DataFrame => DataFrame): Q = {
    val ms = MemoryStream[Ev]
    new Q(name, ms, trace.span("streaming", s"start:$name")(
      Streaming.toMemory(f(ms.toDF()), name, mode)))
  }

  private def sink(suffix: String): String = s"${tag}_$suffix"
  private def kvSink = sink("kv")
  private def latestSink = sink("latest")

  def start(): Unit = {
    qs = if (!stateful) Seq(start(kvSink, OutputMode.Append())(kvPipeline))
    else Seq(
      // dedup, then window: two stateful operators chained in one query
      start(sink("tumbling"), OutputMode.Update())(df =>
        Streaming.tumblingChained(
          Streaming.distinctWithinWatermark(df, "ts", wm, Seq("event_id")),
          "ts", "1 hour", Seq(col("event_type")), tumblingAggs)
          .select("window_start", "event_type", "n", "sum_value")),
      start(latestSink, OutputMode.Update())(df =>
        Streaming.latestByKey(df, Seq(col("user_id")), col("ts"),
          Seq(col("event_id"), col("event_type"), col("value")))))
    if (!stateful) batchView = Some(Main.batchView(spark, c.data))
    closedChunk() // the first micro-batch consumes this chunk alone
  }

  /** Appends the next `n` replayed rows as one chunk; returns its offset. */
  private def append(n: Int): Long = {
    val end = math.min(events.length, next + n)
    require(end > next, s"replay exhausted after $next rows")
    val chunk = events.slice(next, end).toSeq
    trace.span("gen", "append")(qs.foreach(_.stream.addData(chunk)))
    next = end
    chunks += 1
    chunks - 1
  }

  private def closedChunk(): Unit = {
    append(c.chunkRows)
    trace.span("streaming", "await")(qs.foreach(_.query.processAllAvailable()))
  }

  def warmUp(first: Boolean): Unit = measure(if (first) Main.WarmS else Main.SessionWarmS)

  def measure(seconds: Double): Map[String, Any] = {
    // lookups through both phases: about 45 a run, 11 beyond their p75
    val lookups = new Lookups(spark, trace, batchView.map(_._1)
      .getOrElse(new StateView(spark, latestSink, "user_id")), c.seed, c.lookupsPerS)
    lookups.start()
    // closed loop
    val t0 = System.nanoTime()
    val closedDeadline = t0 + (seconds * Streams.ClosedShare * 1e9).toLong
    val chunkS = mutable.ArrayBuffer[Double]()
    while (System.nanoTime() < closedDeadline) {
      val c0 = System.nanoTime()
      closedChunk()
      chunkS += (System.nanoTime() - c0) / 1e9
    }
    // open loop
    val openS = seconds * (1 - Streams.ClosedShare)
    val tick = Streams.TickMs
    val perTick = math.max(1, math.round(c.openRowsPerS * tick / 1000.0).toInt)
    val nTicks = (openS * 1000 / tick).toInt
    val due = new Array[Long](nTicks)
    val sent = new Array[Long](nTicks)
    val chunkOffset = new Array[Long](nTicks)
    val startMs = System.currentTimeMillis() + 50
    val gen = new Thread(() => {
      var i = 0
      while (i < nTicks) {
        due(i) = startMs + i * tick
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        chunkOffset(i) = append(perTick)
        sent(i) = System.currentTimeMillis()
        i += 1
      }
    }, "perfbench-gen")
    gen.start()
    gen.join()
    lookups.stop()
    trace.span("streaming", "drain")(qs.foreach(_.query.processAllAvailable()))
    Map(
      "closed" -> Map("chunk_rows" -> c.chunkRows, "chunk_s" -> chunkS.toSeq),
      "open" -> Map("rows_per_tick" -> perTick, "due_ms" -> due.toSeq,
        "sent_ms" -> sent.toSeq, "offset" -> chunkOffset.toSeq),
      "lookups" -> lookups.json,
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "progress" -> qs.map(q => q.name -> q.query.recentProgress.toSeq.map(Streams.progressJson)).toMap)
  }

  /** Closed loop only, for the single-core baseline: rows/s of the median
    * chunk, the estimator `rows_per_s` uses. */
  def baseline(seconds: Double): Double = {
    val t0 = System.nanoTime()
    val chunkS = mutable.ArrayBuffer[Double]()
    while (chunkS.isEmpty || System.nanoTime() - t0 < seconds * 1e9) {
      val c0 = System.nanoTime()
      closedChunk()
      chunkS += (System.nanoTime() - c0) / 1e9
    }
    c.chunkRows / chunkS.sorted.apply(chunkS.length / 2)
  }

  /** Each sink against its batch twin over exactly the replayed rows. */
  def check(): Seq[Main.Check] = {
    val replayed = events.take(next).toSeq
    val lateMask = late.take(next)
    val all = replayed.toDF()
    val onTime = replayed.zip(lateMask).collect { case (e, false) => e }.toDF()
    val nLate = lateMask.count(identity)
    if (!stateful) {
      Seq(Main.sameRows("stream_kv sink = batch pipeline", spark.table(kvSink),
        kvPipeline(all)))
    } else {
      val twinAll = s"${c.work}/twin_all"
      val twinOnTime = s"${c.work}/twin_distinct_on_time"
      all.write.mode("overwrite").parquet(s"$twinAll/events.parquet")
      Xform.xdistinct(Seq("event_id"))(onTime).write.mode("overwrite")
        .parquet(s"$twinOnTime/events.parquet")
      val q = graft.SparkEntry.queries
      val dropped = qs.map(x => x.name -> x.query.recentProgress.map(p =>
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum).toMap
      Seq(
        Main.sameRows("dedup+tumbling sink = q_windowed_tumbling over distinct rows",
          lastPerKey(sink("tumbling"), Seq("window_start", "event_type")),
          q("q_windowed_tumbling")(spark, twinOnTime)),
        Main.sameRows("latestByKey sink = q_latest_by_key",
          lastPerKey(latestSink, Seq("user_id")),
          q("q_latest_by_key")(spark, twinAll)),
        Main.Check("dedup dropped late rows = injected", dropped(sink("tumbling")) == nLate,
          s"dropped=${dropped(sink("tumbling"))} injected=$nLate"))
    }
  }

  /** An update-mode memory sink keeps every emitted version of a key in
    * emission order; the final content is the last version per key. */
  private def lastPerKey(table: String, keys: Seq[String]): DataFrame = {
    val rows = spark.table(table).collect()
    val schema = spark.table(table).schema
    val last = mutable.LinkedHashMap[Seq[Any], org.apache.spark.sql.Row]()
    rows.foreach(r => last(keys.map(k => r.get(r.fieldIndex(k)))) = r)
    spark.createDataFrame(last.values.toSeq.asJava, schema)
  }

  def stop(): Unit = {
    qs.foreach(_.query.stop())
    qs = Nil
    batchView.foreach(_._2.unpersist())
  }
}

object Streams {
  val ClosedShare = 0.5
  val TickMs = 50L

  def progressJson(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.headOption
    Map(
      "batch_id" -> p.batchId,
      "timestamp_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "start_offset" -> src.map(_.startOffset).orNull,
      "end_offset" -> src.map(_.endOffset).orNull,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs,
        "removal_ms" -> s.allRemovalsTimeMs, "rows_total" -> s.numRowsTotal,
        "rows_updated" -> s.numRowsUpdated, "memory_bytes" -> s.memoryUsedBytes,
        "dropped_late" -> s.numRowsDroppedByWatermark,
        "partitions" -> s.numShufflePartitions)))
  }
}

/** Point lookups on one fixed schedule of `perS` a second, open loop:
  * lookup `i` is due `i / perS` seconds after [[start]] and is served by
  * reader thread `i % Readers`, so a slow lookup delays only its own
  * reader's next one.
  * Each is timed from its due time to the end of its `StateView.get` call;
  * a lookup that waits for its reader counts the wait. The worst lateness
  * of a start is reported; run.py marks the run invalid when it exceeds the
  * generator's limit. A lookup fails when it throws or returns a row of
  * another key. Keys come from the seed. */
final class Lookups(spark: SparkSession, trace: Trace, view: StateView, seed: Long,
                    perS: Double) {
  private val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val failed = new java.util.concurrent.atomic.AtomicInteger(0)
  private val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private var readers: Seq[Thread] = Nil
  @volatile private var stopped = false

  /** Starts the readers: lookups are due from now until [[stop]]. */
  def start(): Unit = {
    val periodNs = 1e9 / perS
    val anchorNs = System.nanoTime()
    readers = (0 until Lookups.Readers).map { r =>
      new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", Lookups.Pool)
        var i = r
        while (!stopped) {
          val dueNs = anchorNs + (i * periodNs).toLong
          val waitNs = dueNs - System.nanoTime()
          if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
          if (!stopped) {
            late.add((System.nanoTime() - dueNs) / 1e6)
            val key = new scala.util.Random(seed * 1000003L + i).nextInt(1500).toLong
            try {
              val rows = trace.span("state", "get")(view.get(key).collect())
              if (rows.exists(r => r.getAs[Long]("user_id") != key)) failed.incrementAndGet()
            } catch { case _: Exception => failed.incrementAndGet() }
            lat.add((System.nanoTime() - dueNs) / 1e6)
          }
          i += Lookups.Readers
        }
      }, s"perfbench-reader-$r")
    }
    readers.foreach(_.start())
  }

  /** Issues no more lookups; waits for the ones in flight. */
  def stop(): Unit = {
    stopped = true
    readers.foreach(_.join())
  }

  def json: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map("ms" -> lat.asScala.toSeq, "failed" -> failed.get,
      "late_ms" -> (0.0 +: late.asScala.toSeq).max)
  }
}

object Lookups {
  /** Reader threads; with the generator they stay within 4 threads. */
  val Readers = 3
  /** The lookups' scheduler pool: with FAIR scheduling their tasks take
    * the next free slot instead of queueing behind a whole micro-batch. */
  val Pool = "lookups"
}
