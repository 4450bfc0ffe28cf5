package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Scale
import graft.state.StateView

/** The JVM half of the benchmark: sets up, measures one workload and
  * writes raw samples, checks and (traced) layer counters to one JSON file.
  * `perfbench/run.py` generates the inputs, starts this program, turns the
  * samples into metrics and runs the DuckDB oracle compare.
  *
  * Usage: perfbench.Main key=value ... (see [[Conf]]; run.py passes all). */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, cores: Int,
                        chunkRows: Int, openRowsPerS: Double, lookupsPerS: Double,
                        mix: Seq[String])

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
  /** Length of the untimed warm-up before the gated measure (streams;
    * batch_mix warms up with two passes over the mix). After a 6 s warm-up
    * that measure was still on the JVM's warm-up curve: it ran 15-35 %
    * slower than later measures in the same JVM, and in five runs
    * stream_state's chunk latency spread 0.13 (IQR over median) against
    * 0.05 after this one. */
  val WarmS = 14.0
  /** Warm-up of the traced and the second untraced measure: a fresh
    * session on a JVM the gated measure has already warmed. */
  val SessionWarmS = 3.0
  /** Length of the single-core baseline's closed loop (streams). */
  val BaselineS = 3.0

  final case class Check(name: String, ok: Boolean, detail: String)

  trait Workload {
    /** Input load and a first micro-batch or view; part of set-up. */
    def start(): Unit
    /** Untimed run of the workload, so the timed one runs on a warm JVM
      * and session: [[WarmS]] when `first` (the JVM has only done the
      * set-ups), else [[SessionWarmS]]. */
    def warmUp(first: Boolean): Unit
    def measure(seconds: Double): Map[String, Any]
    def check(): Seq[Check]
    /** Closed-loop throughput for the single-core baseline. */
    def baseline(seconds: Double): Double
    def stop(): Unit
  }

  /** Multiset equality of two results over the twin's column names,
    * compared on the driver (the results are at most a few hundred
    * thousand rows). */
  def sameRows(name: String, got: DataFrame, want: DataFrame): Check = {
    val cols = want.columns.sorted.toIndexedSeq
    def rows(df: DataFrame): Array[String] =
      df.select(cols.map(df.col): _*).collect().map(_.toSeq.mkString("\u0001")).sorted
    val (g, w) = (rows(got), rows(want))
    val same = g.sameElements(w)
    val diff = if (same) 0 else (g.diff(w).length + w.diff(g).length)
    Check(name, same, s"rows=${g.length} twin_rows=${w.length} differing=$diff")
  }

  /** The batch KTable view: `q_latest_by_key` over the events table,
    * materialized once and served through `StateView.ofBatch`. */
  def batchView(spark: SparkSession, data: String): (StateView, DataFrame) = {
    val kt = graft.SparkEntry.queries("q_latest_by_key")(spark, data).cache()
    kt.count()
    val view = StateView.ofBatch(spark, kt, "kt_view", "user_id")
    view.get(0L).collect()
    (view, kt)
  }

  private def parse(args: Array[String]): Conf = {
    val m = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt,
      m("chunk_rows").toInt, m("open_rows_per_s").toDouble, m("lookups_per_s").toDouble,
      m.getOrElse("mix", "").split(",").filter(_.nonEmpty).toSeq)
  }

  private def session(c: Conf, cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]").appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"${c.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    .config("spark.sql.streaming.checkpointLocation", s"${c.work}/checkpoints")
    .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  private def workload(spark: SparkSession, c: Conf, trace: Trace, tag: String): Workload =
    c.workload match {
      case "stream_kv" => new Streams(spark, c, trace, stateful = false, tag)
      case "stream_state" => new Streams(spark, c, trace, stateful = true, tag)
      case "batch_mix" => new Batch(spark, c, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  /** Session, `Scale` policy, input load and the first micro-batch or
    * view: one set-up. */
  private def setUp(c: Conf, cores: Int, trace: Trace, tag: String)
      : (SparkSession, Workload, Double) = {
    val t0 = System.nanoTime()
    val spark = session(c, cores)
    trace.attach(spark)
    Scale.configure(spark,
      trace.span("sources", "scale-probe")(Scale.maxInputRows(spark, c.data)), cores)
    val w = workload(spark, c, trace, tag)
    w.start()
    (spark, w, (System.nanoTime() - t0) / 1e9)
  }

  private def tearDown(spark: SparkSession, w: Workload): Unit = {
    w.stop()
    spark.stop()
  }

  /** Peak resident set of this process, MB. */
  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private val t00 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2fs $what")

  /** Set-up, warm-up and one timed measure in a fresh session; the session
    * stays up. */
  private def warmMeasure(c: Conf, trace: Trace, tag: String)
      : (SparkSession, Workload, Map[String, Any]) = {
    val (spark, w, _) = setUp(c, c.cores, trace, tag)
    w.warmUp(first = false)
    trace.reset()
    (spark, w, w.measure(c.seconds))
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val result = scala.collection.mutable.LinkedHashMap[String, Any]()
    val off = new Trace(false)
    // untraced set-ups, timed; the last one stays up for the timed run
    var up: (SparkSession, Workload, Double) = null
    val setupS = (1 to SetUps).map { i =>
      if (up != null) tearDown(up._1, up._2)
      up = setUp(c, c.cores, off, s"s$i")
      phase(s"set-up $i done")
      up._3
    }
    val (spark, w, _) = up
    val conf = spark.conf
    result("config") = Map(
      "seed" -> c.seed, "workload" -> c.workload, "seconds" -> c.seconds, "nproc" -> c.cores,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "jvm_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "session_policy" -> (s"graft.core.Scale.configure: AQE above ${Scale.AqeRowThreshold} " +
        s"input rows, else shuffle partitions = max(${Scale.MinPartitions}, " +
        s"min(cores, rows / ${Scale.RowsPerPartition}))"),
      "chunk_rows" -> c.chunkRows, "open_rows_per_s" -> c.openRowsPerS,
      "lookups_per_s" -> c.lookupsPerS, "mix" -> c.mix)
    result("setup_s") = setupS
    w.warmUp(first = true)
    phase("warmed up")
    result("measure") = w.measure(c.seconds)
    phase("measured")
    result("mem_peak_mb") = vmHwmMb
    var checks = w.check()
    phase("checked")
    tearDown(spark, w)
    if (c.trace) {
      // The same measure traced, then untraced once more, each in a fresh
      // session after its own warm-up: the traced run sits between two
      // untraced ones, whose difference is the untraced run-to-run spread.
      val on = new Trace(true)
      val (s2, w2, traced) = warmMeasure(c, on, "traced")
      result("trace_start_ns") = on.startNs
      result("traced_measure") = traced
      result("trace") = Map("spans" -> on.spansJson, "exec" -> on.execJson,
        "phases" -> on.phasesJson,
        "progress" -> {
          import scala.jdk.CollectionConverters._
          on.progress.asScala.toSeq.map(p => Map("query" -> p.name) ++ Streams.progressJson(p))
        })
      checks = checks ++ w2.check()
      tearDown(s2, w2)
      phase("traced")
      val (s3, w3, again) = warmMeasure(c, off, "again")
      result("measure_again") = again
      tearDown(s3, w3)
      phase("measured again")
      // single-core baseline: same workload on local[1], closed loop only
      val (s1, w1, _) = setUp(c, 1, off, "one")
      try result("baseline_1core") = w1.baseline(BaselineS)
      finally tearDown(s1, w1)
    }
    phase("done")
    result("checks") = checks.map(k => Map("name" -> k.name, "ok" -> k.ok, "detail" -> k.detail))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(c.out), json.writeValueAsBytes(result.toMap))
  }
}
