package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed span. Times are epoch milliseconds; `parent` is -1 for an op;
  * `figure` names the per-layer figure the span's seconds count toward. */
final case class Span(id: Int, op: Int, name: String, parent: Int,
    start: Double, end: Double, figure: String = "")

/** The listener's record of one finished task (times in epoch ms). */
final case class TaskRec(stage: (Int, Int), launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, readB: Long, writeB: Long, spillB: Long)

/** What a workload reports about one op: its spans and layer figures. The
  * untraced run uses [[NoTrace]], which only runs the bodies. */
trait Tracer {
  def op(name: String, family: String)(body: => Unit): Unit
  /** Runs `body` as a child span of the open one; with a `figure` name,
    * the span's seconds are also added to that figure of the op. */
  def span[T](name: String, figure: String = "")(body: => T): T
  /** Adds `v` to figure `key` of the current op. */
  def add(key: String, v: Double): Unit
  /** Counts the analysis `df` ran when it was built. An op's DataFrame is
    * analysed eagerly, inside the construct span, on a QueryExecution that
    * no listener sees: its sink runs on a new one. */
  def analyzed(df: DataFrame): Unit = ()
}

object NoTrace extends Tracer {
  def op(name: String, family: String)(body: => Unit): Unit = body
  def span[T](name: String, figure: String = "")(body: => T): T = body
  def add(key: String, v: Double): Unit = ()
}

/** Records spans in memory and attaches listener counts to each op span.
  * Per op it keeps one figure map, keyed by the per-layer metric names
  * (`exec.tasks`, `catalyst.optimize_s`, ...); `run.py` turns them into
  * per-op means. Ops must run one at a time, which the closed-loop client
  * guarantees. */
final class SpanTracer(spark: SparkSession, cpus: Int) extends Tracer {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[(String, String, mutable.LinkedHashMap[String, Double])]()

  private var nextId = 0
  private var opId = -1
  private var open: List[(Int, String, Double)] = Nil
  private var figures = mutable.LinkedHashMap[String, Double]()

  // Listener events of the op in flight, appended on the listener-bus thread.
  private val lock = new Object
  private val jobStarts = mutable.ArrayBuffer[Long]()
  private var stages = 0
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobStarts += e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        tasks += TaskRec((e.stageId, e.stageAttemptId), e.taskInfo.launchTime,
          e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (p, s) => phases += ((p, s.startTimeMs, s.endTimeMs)) }
    }
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def span[T](name: String, figure: String = "")(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, nowMs) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      val s = Span(id, opId, name, parent, start, nowMs, figure)
      spans += s
      if (figure.nonEmpty) add(figure, (s.end - s.start) / 1e3)
    }
  }

  def add(key: String, v: Double): Unit =
    figures(key) = figures.getOrElse(key, 0.0) + v

  override def analyzed(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.get("analysis").foreach { p =>
      lock.synchronized { phases += (("analysis", p.startTimeMs, p.endTimeMs)) }
    }

  def op(name: String, family: String)(body: => Unit): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      jobStarts.clear(); stages = 0; tasks.clear(); phases.clear(); progress.clear()
    }
    opId += 1
    figures = mutable.LinkedHashMap[String, Double]()
    val (gcMs0, gcN0) = gcTotals
    val codegen0 = CodeGenerator.compileTime
    val spanStart = spans.size
    try span("op")(body)
    finally {
      val opSpan = spans.last
      val codegenNs = CodeGenerator.compileTime - codegen0
      PerfbenchBus.drain(spark.sparkContext)
      val (gcMs1, gcN1) = gcTotals
      lock.synchronized { close(opSpan, spans.slice(spanStart, spans.size).toSeq) }
      add("catalyst.codegen_s", codegenNs / 1e9)
      add("jvm.gc_s", (gcMs1 - gcMs0) / 1e3)
      add("jvm.gc_count", (gcN1 - gcN0).toDouble)
      ops += ((name, family, figures))
    }
  }

  private def close(opSpan: Span, opSpans: Seq[Span]): Unit = {
    val wallMs = opSpan.end - opSpan.start
    add("op_s", wallMs / 1e3)
    add("exec.jobs", jobStarts.size.toDouble)
    add("exec.stages", stages.toDouble)
    add("exec.tasks", tasks.size.toDouble)
    add("exec.task_s", tasks.map(_.runMs).sum / 1e3)
    add("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
    add("exec.task_gc_s", tasks.map(_.gcMs).sum / 1e3)
    add("exec.shuffle_read_mb", tasks.map(_.readB).sum / 1048576.0)
    add("exec.shuffle_write_mb", tasks.map(_.writeB).sum / 1048576.0)
    add("exec.spill_mb", tasks.map(_.spillB).sum / 1048576.0)
    add("exec.idle_s", (wallMs - covered(tasks.toSeq.map(t => (t.launch.toDouble, t.finish.toDouble)),
      opSpan.start, opSpan.end)) / 1e3)
    add("exec.straggler_ratio", straggler)
    // Jobs started while a construct span was open ran eagerly, inside the
    // call that builds the op's DataFrame (iterative operators' rounds):
    // `<layer>.construct_s` spans count them as `<layer>.construct_jobs`.
    opSpans.filter(_.figure.endsWith(".construct_s")).foreach { c =>
      add(c.figure.stripSuffix("_s") + "_jobs",
        jobStarts.count(t => t >= c.start && t <= c.end).toDouble)
    }
    val names = Map("analysis" -> "analyze", "optimization" -> "optimize", "planning" -> "physical")
    phases.foreach { case (p, s, e) =>
      names.get(p).foreach { n =>
        add(s"catalyst.${n}_s", (e - s) / 1e3)
        spans += Span(nextId, opId, n, parentAt(opSpans, s.toDouble, opSpan.id), s.toDouble, e.toDouble)
        nextId += 1
      }
    }
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("streaming.trigger_s", d.getOrElse("triggerExecution", 0L) / 1e3)
      add("streaming.add_batch_s", d.getOrElse("addBatch", 0L) / 1e3)
      add("streaming.plan_s", d.getOrElse("queryPlanning", 0L) / 1e3)
      add("streaming.commit_s", d.getOrElse("commitOffsets", 0L) / 1e3)
      add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      add("streaming.state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
      add("streaming.batches", 1.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      spans += Span(nextId, opId, "micro-batch", opSpan.id, start,
        start + d.getOrElse("triggerExecution", 0L))
      nextId += 1
    }
  }

  /** Innermost span of this op that contains time `t`, else the op span. */
  private def parentAt(opSpans: Seq[Span], t: Double, opSpanId: Int): Int =
    opSpans.filter(s => s.id != opSpanId && s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(opSpanId)

  /** Slowest over median task time in the op's worst stage (1 if no stage
    * ran two or more tasks). */
  private def straggler: Double = {
    val ratios = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Spans as JSON lines, each with its self time: the span minus the
    * time its children cover. */
  def spansJson: Seq[String] = {
    val kids = spans.groupBy(s => (s.op, s.parent))
    spans.toSeq.sortBy(s => (s.op, s.start)).map { s =>
      val ch = kids.getOrElse((s.op, s.id), Nil).map(c => (c.start, c.end)).toSeq
      val self = (s.end - s.start) - covered(ch, s.start, s.end)
      f"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":$self%.3f}"""
    }
  }
}
