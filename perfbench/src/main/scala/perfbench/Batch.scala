package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.state.StateView

/** The batch workload: a fixed mix of `SparkEntry.queries`, each built,
  * planned and executed on its own physical plan
  * (`queryExecution.toRdd.count()`, as `graft.Bench` times them), pass
  * after pass in a closed loop, while reader threads issue fixed-rate
  * `StateView.get` lookups on a batch KTable view (`q_latest_by_key`,
  * materialized once). */
final class Batch(spark: SparkSession, c: Main.Conf, trace: Trace) extends Main.Workload {
  private val queries = SparkEntry.queries
  private var view: StateView = _
  private var kt: DataFrame = _

  /** A query's family is the `graft.entry.*Queries` object defining it. */
  private def family(q: String): String = {
    import graft.entry._
    Seq("core" -> CoreQueries.queries, "agg" -> AggQueries.queries,
      "join" -> JoinQueries.queries, "llm" -> LlmQueries.queries,
      "graph" -> GraphQueries.queries, "url" -> UrlQueries.queries,
      "selection" -> SelectionQueries.queries, "stats" -> StatsQueries.queries,
      "qa" -> QaQueries.queries, "eval" -> EvalQueries.queries,
      "infer" -> InferQueries.queries, "link" -> LinkQueries.queries,
      "trend" -> TrendQueries.queries, "growth" -> GrowthQueries.queries,
      "audit" -> AuditQueries.queries, "curation" -> CurationQueries.queries)
      .collectFirst { case (f, m) if m.contains(q) => f }.getOrElse("other")
  }
  val families: Map[String, String] = c.mix.map(q => q -> family(q)).toMap

  /** Build, plan and execute one query; returns (time-to-result ms,
    * result rows). */
  private def once(q: String): (Double, Long) = {
    val label = s"${families(q)}:$q"
    val t0 = System.nanoTime()
    try {
      val df = trace.span("entry", label)(queries(q)(spark, c.data))
      val qe = df.queryExecution
      trace.span("plan", label)(qe.executedPlan)
      val n = trace.span("exec", label)(qe.toRdd.count())
      trace.planPhases(s"plan:$label", qe)
      ((System.nanoTime() - t0) / 1e6, n)
    } finally graft.llm.Dedup.releaseCaches()
  }

  def start(): Unit = {
    val (v, k) = Main.batchView(spark, c.data)
    view = v
    kt = k
  }

  private val written = mutable.ArrayBuffer[Main.Check]()
  private var warmS = 0.0

  /** One untimed pass that writes each result for the DuckDB oracle
    * compare; before the gated measure a second one as the timed passes
    * run them (the first timed pass after the writing pass alone ran
    * 6-26 % slower than the next). */
  def warmUp(first: Boolean): Unit = {
    val w0 = System.nanoTime()
    c.mix.foreach { q =>
      written += (try {
        queries(q)(spark, c.data).write.mode("overwrite").parquet(s"${c.work}/results/$q")
        Main.Check(s"$q result written", ok = true, "")
      } catch { case e: Exception =>
        Main.Check(s"$q result written", ok = false, e.toString.take(300))
      } finally graft.llm.Dedup.releaseCaches())
    }
    warmS = (System.nanoTime() - w0) / 1e9
    if (first) c.mix.foreach(once)
  }

  /** Timed passes (closed loop) with lookups beside them. */
  def measure(seconds: Double): Map[String, Any] = {
    // timed passes, closed loop, while the readers issue lookups
    val lookups = new Lookups(spark, trace, view, c.seed, c.lookupsPerS)
    lookups.start()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer[Map[String, Double]]()
    var resultRows = 0L // per pass
    // whole passes until the time is spent: the last one may run over
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      var rows = 0L
      passes += c.mix.map { q =>
        val (ms, n) = once(q)
        rows += n
        q -> ms
      }.toMap
      resultRows = rows
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    lookups.stop() // lookups only beside the passes
    Map("passes" -> passes.toSeq, "result_rows" -> resultRows, "families" -> families,
      "warm_pass_s" -> warmS, "lookups" -> lookups.json, "wall_s" -> wallS,
      "oracle_sql" -> c.mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  /** One pass over the mix, for the single-core baseline: result rows/s. */
  def baseline(seconds: Double): Double = {
    val t0 = System.nanoTime()
    val n = c.mix.map(q => once(q)._2).sum
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def check(): Seq[Main.Check] = written.toSeq

  def stop(): Unit = if (kt != null) kt.unpersist()
}
