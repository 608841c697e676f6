package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Span recorder for the traced run. Spans are kept in memory and
  * written out when the run ends. Times are milliseconds since the
  * recorder was created, on one clock for the harness (nanoTime) and
  * the Spark listener events (wall-clock millis, shifted by the offset
  * taken at creation).
  *
  * Span ids are strings so that spans recorded from different sources
  * can name their parent before it exists: a query span is `q:<n>`, a
  * pass `p:<n>`, a job `job:<id>`, a stage `stage:<id>.<attempt>`, a
  * micro-batch `trig:<query>:<batch>` and its phases
  * `trig:<query>:<batch>:<phase>`. A job's parent is the harness span
  * active on the thread that submitted it, or the addBatch phase of
  * the micro-batch that ran it. */
final class Tracer {
  private val t0Nanos = System.nanoTime()
  private val wallAtT0 = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val seq = new AtomicLong()
  /** Nanoseconds spent inside the recorder's own callbacks. */
  val selfNanos = new AtomicLong()

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def wallToMs(epochMs: Long): Double = (epochMs - wallAtT0).toDouble
  def newId(kind: String): String = s"$kind:${seq.incrementAndGet()}"

  def add(id: String, parent: String, name: String, layer: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty): Unit =
    synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "layer" -> layer, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
    }

  /** Runs `body` as a span; jobs it submits name this span as parent. */
  def span[A](spark: org.apache.spark.sql.SparkSession, id: String, parent: String,
      name: String, layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id)
    val start = nowMs
    try body
    finally {
      add(id, parent, name, layer, start, nowMs)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  def all: Seq[Map[String, Any]] = synchronized(spans.toList)
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** SparkListener for the traced run: one span per job and per stage,
  * and the task counters summed over the run (executor CPU, run and GC
  * time, shuffle and input bytes, spill). The runner takes differences
  * of counter snapshots around each pass or phase. */
final class JobLedger(tracer: Tracer) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String, Seq[Int])]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val CounterNames = Seq("jobs", "stages", "tasks", "exec_cpu_ns", "exec_run_ms",
    "exec_gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes")
  CounterNames.foreach(counters.put(_, new AtomicLong()))

  private def bump(k: String, v: Long): Unit = counters.get(k).addAndGet(v)
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally tracer.selfNanos.addAndGet(System.nanoTime() - t)
  }

  def snapshot(): Map[String, Long] = CounterNames.map(k => k -> counters.get(k).get).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // stream threads inherit the local properties of the thread that
    // started them, so the micro-batch tags take precedence
    val parent = (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
      case (Some(q), Some(b)) => s"trig:${q.take(8)}:$b:addBatch"
      case _ => prop(Tracer.SpanProp).getOrElse("")
    }
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobStart.put(e.jobId, (tracer.wallToMs(e.time), parent, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    bump("jobs", 1)
    Option(jobStart.remove(e.jobId)).foreach { case (start, parent, _) =>
      tracer.add(s"job:${e.jobId}", parent, s"job ${e.jobId}", "job",
        start, tracer.wallToMs(e.time),
        Map("ok" -> (e.jobResult == JobSucceeded)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    bump("stages", 1)
    for (sub <- info.submissionTime; done <- info.completionTime) {
      val job = Option(stageJob.get(info.stageId)).map(j => s"job:$j").getOrElse("")
      tracer.add(s"stage:${info.stageId}.${info.attemptNumber()}", job,
        info.name, "stage", tracer.wallToMs(sub), tracer.wallToMs(done),
        Map("tasks" -> info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    bump("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      bump("exec_cpu_ns", m.executorCpuTime)
      bump("exec_run_ms", m.executorRunTime)
      bump("exec_gc_ms", m.jvmGCTime)
      bump("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      bump("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      bump("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      bump("input_bytes", m.inputMetrics.bytesRead)
    }
  }
}

/** StreamingQueryListener for the traced run: one span per micro-batch
  * (from its start timestamp and `triggerExecution` duration) with the
  * reported phases laid end to end as children in execution order, and
  * one progress record per trigger for the runner. */
final class TriggerLedger(tracer: Tracer, names: java.util.UUID => String)
    extends StreamingQueryListener {
  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")
  private val records = ArrayBuffer.empty[Map[String, Any]]

  def progress: Seq[Map[String, Any]] = synchronized(records.toList)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t = System.nanoTime()
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = tracer.wallToMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val total = dur.getOrElse("triggerExecution", 0L)
    val qid = p.id.toString.take(8)
    val trig = s"trig:$qid:${p.batchId}"
    val name = names(p.id)
    tracer.add(trig, "", s"$name batch ${p.batchId}", "trigger", start, start + total,
      Map("query" -> name, "rows" -> p.numInputRows))
    var at = start
    PhaseOrder.foreach { ph =>
      dur.get(ph).foreach { ms =>
        tracer.add(s"$trig:$ph", trig, ph, "phase", at, at + ms)
        at += ms
      }
    }
    val state = p.stateOperators.toSeq
    synchronized {
      records += Map(
        "query" -> name, "batch" -> p.batchId, "start_ms" -> start,
        "rows" -> p.numInputRows, "duration_ms" -> dur,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> state.map(_.commitTimeMs).sum)
    }
    tracer.selfNanos.addAndGet(System.nanoTime() - t)
  }
}
