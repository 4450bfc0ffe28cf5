package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from outside graft.
  *
  * `span` wraps one call into a layer; spans nest per thread, so a span's
  * parent is the span open on the same thread when it started. Spans stay
  * in memory until [[spansJson]] writes them out at exit. When tracing is
  * off, `span` only runs its body and no listener is attached.
  *
  * The three listeners attribute Spark's own measurements to the span
  * label in force on the calling thread (a Spark local property, so jobs
  * started by that thread carry it): task metrics per label, Catalyst phase
  * times per finished Dataset action, and every streaming progress event.
  */
final class Trace(val on: Boolean) {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        startNs: Long, endNs: Long, thread: String)

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var spark: SparkSession = _

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val sc = Option(spark).map(_.sparkContext)
      val prevLabel = sc.map(_.getLocalProperty(Trace.LabelKey)).orNull
      sc.foreach(_.setLocalProperty(Trace.LabelKey, s"$layer:$name"))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, layer, name, t0, System.nanoTime(),
          Thread.currentThread.getName))
        stack.set(stack.get.tail)
        sc.foreach(_.setLocalProperty(Trace.LabelKey, prevLabel))
      }
    }

  /** Task-level totals of one label. */
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, resultBytes, shWrite, shRead, shRecords,
        fetchWaitMs, spillMem, spillDisk, peakMem = 0L
    val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }
  val byLabel = new ConcurrentHashMap[String, Acc]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  /** (label, analysis ms, optimization ms, planning ms) per Dataset action. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long)]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def acc(label: String): Acc = byLabel.computeIfAbsent(label, _ => new Acc)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.LabelKey))).getOrElse(
        if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
          "streaming:micro-batch" else "other:unlabelled")
      e.stageIds.foreach(stageLabel.put(_, label))
      val a = acc(label)
      a.synchronized(a.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc(stageLabel.getOrDefault(e.stageInfo.stageId, "other:unlabelled"))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = acc(stageLabel.getOrDefault(e.stageId, "other:unlabelled"))
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.resultBytes += m.resultSize
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRecords += m.shuffleWriteMetrics.recordsWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillMem += m.memoryBytesSpilled
          a.spillDisk += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
        }
      }
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val label = Option(spark).map(_.sparkContext.getLocalProperty(Trace.LabelKey))
        .flatMap(Option(_)).getOrElse("other:unlabelled")
      phases.add((label, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Bind to a (new) session; listeners only when tracing is on. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (on) {
      s.sparkContext.addSparkListener(sparkListener)
      s.listenerManager.register(qeListener)
      s.streams.addListener(streamListener)
    }
  }

  /** When the last [[reset]] ran: spans that start later are measured. */
  @volatile var startNs: Long = System.nanoTime()

  /** Forget the counters recorded so far (set-up and warm-up work); spans
    * stay, the measured ones are those that start after this call. */
  def reset(): Unit = {
    byLabel.clear(); phases.clear(); progress.clear()
    startNs = System.nanoTime()
  }

  /** Record a phase-timing row for a plan the benchmark executed itself
    * (`queryExecution.toRdd` does not notify QueryExecutionListeners). */
  def planPhases(label: String, qe: QueryExecution): Unit = if (on) {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    phases.add((label, ms("analysis"), ms("optimization"), ms("planning")))
  }

  def spansJson: Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.startNs).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "thread" -> s.thread))
  }

  /** Task totals per label, with per-stage task-duration skew inputs. */
  def execJson: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    byLabel.asScala.toMap.map { case (label, a) => label -> a.synchronized(Map(
      "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "task_run_ms" -> a.runMs, "task_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs,
      "result_bytes" -> a.resultBytes, "shuffle_write_bytes" -> a.shWrite,
      "shuffle_read_bytes" -> a.shRead, "shuffle_records" -> a.shRecords,
      "fetch_wait_ms" -> a.fetchWaitMs, "spill_memory_bytes" -> a.spillMem,
      "spill_disk_bytes" -> a.spillDisk, "peak_mem_bytes" -> a.peakMem,
      "stage_task_ms" -> a.taskMs.values.map(_.toSeq).toSeq))
    }
  }

  def phasesJson: Seq[Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    phases.asScala.toSeq.map { case (l, a, o, p) =>
      Map("label" -> l, "analysis_ms" -> a, "optimization_ms" -> o, "planning_ms" -> p)
    }
  }
}

object Trace {
  val LabelKey = "perfbench.label"
}
