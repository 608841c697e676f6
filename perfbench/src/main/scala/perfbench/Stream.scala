package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.{Aggregates, Transforms}
import graft.stream.{EngagementPipeline, Snapshots}
import graft.tools.EnvelopeGenerator
import Main.Ctx

/** cdc_stream: the paper's dataflow on the stream runtime. Two queries
  * read one drop directory, as in `graft.tools.Soak`: the 3-way fan-out
  * (`EngagementPipeline.start`) and the sliding analytics
  * (`startSlidingAnalytics`). Every event goes through
  * `Transforms.parseEnvelope` as raw Debezium JSON.
  *
  *  - One query pair, with the reference's 1 s flush trigger and at
  *    most [[MaxFilesPerTrigger]] files per trigger, runs an untimed
  *    warm-up and then, after the set-ups, the two timed phases.
  *  - Set-up (three times, beside that pair): start both queries on a
  *    fresh checkpoint and an empty directory and wait for their first
  *    trigger.
  *  - Catch-up: a backlog of [[BacklogEvents]], written aside
  *    beforehand, is moved into the directory at once and drained
  *    over several triggers.
  *  - Steady: an open loop writes [[Rate]] events/s in files of
  *    [[FileEvents]]. Each file is written when its last event is
  *    due; a watcher records when each `batch_id` partition appears in
  *    the warehouse, and an event's latency runs from its due time to
  *    that commit.
  *
  * Event ids, and with them every field of every envelope, start at an
  * offset taken from the seed. */
object Stream {
  val Rate = 1000
  val FileEvents = Rate / 20
  val WarmupEvents = 2000
  val BacklogEvents = 32000
  val MaxFilesPerTrigger = 160
  val TriggerMs = 1000L

  private val base = System.nanoTime()
  private def ms(nanos: Long): Double = (nanos - base) / 1e6

  private def startBoth(spark: SparkSession, root: String, drop: String)
      : Seq[StreamingQuery] = {
    // the drop directory's input arrives in subdirectories (warm-up,
    // backlog, steady), so that a whole backlog can appear in one rename
    def raw: DataFrame = spark.readStream
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong).text(s"$drop/*")
    val dim = EnvelopeGenerator.contentDim(spark)
    Seq(EngagementPipeline.start(raw, dim, s"$root/out", s"$root/ckpt", TriggerMs),
      EngagementPipeline.startSlidingAnalytics(raw, dim, s"$root/analytics",
        s"$root/ckpt_sliding"))
  }

  private def drain(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())

  private def writeFiles(drop: String, first: Long, events: Long): Long = {
    Files.createDirectories(Paths.get(drop))
    var id = first
    while (id < first + events) id = EnvelopeGenerator.writeBatch(drop, id, FileEvents)
    id
  }

  /** Records when each `batch_id=N` partition first appears in `dir`. */
  private final class Watcher(dir: String) extends Thread("perfbench-watcher") {
    private val seen = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    @volatile private var running = true
    private def poll(): Unit = {
      val names = Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      val now = ms(System.nanoTime())
      names.foreach { n =>
        if (n.startsWith("batch_id=")) seen.putIfAbsent(n.stripPrefix("batch_id=").toLong, now)
      }
    }
    poll() // batches committed before the watch began are not timed
    private val before = new java.util.HashSet[Long](seen.keySet())
    override def run(): Unit = while (running) { poll(); Thread.sleep(5) }
    def finish(): Map[String, Double] = {
      running = false
      join()
      poll()
      import scala.jdk.CollectionConverters._
      seen.asScala.collect { case (b, t) if !before.contains(b) => b.toString -> t }.toMap
    }
  }

  /** The open loop: file k holds ids [first + k·F, first + (k+1)·F) and
    * is written once its last event is due. Returns one
    * [first id, scheduled ms, written ms] triple per file. */
  private def openLoop(drop: String, first: Long, t0: Long, seconds: Double)
      : Seq[Seq[Any]] = {
    Files.createDirectories(Paths.get(drop))
    val files = ArrayBuffer.empty[Seq[Any]]
    val nFiles = (seconds * Rate / FileEvents).toInt
    val gen = new Thread("perfbench-generator") {
      override def run(): Unit = (0 until nFiles).foreach { k =>
        val due = t0 + (((k + 1L) * FileEvents - 1) * 1000000000L) / Rate
        var wait = due - System.nanoTime()
        while (wait > 0) {
          Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          wait = due - System.nanoTime()
        }
        val id = first + k.toLong * FileEvents
        EnvelopeGenerator.writeBatch(drop, id, FileEvents)
        files += Seq(id, ms(due), ms(System.nanoTime()))
      }
    }
    gen.start()
    gen.join()
    files.toSeq
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val triggers = ctx.tracer.map { t =>
      val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
      val l = new TriggerLedger(t, id => Option(names.get(id)).getOrElse("unknown"))
      spark.streams.addListener(l)
      (l, names)
    }
    def started(qs: Seq[StreamingQuery]): Seq[StreamingQuery] = {
      triggers.foreach { case (_, names) =>
        names.put(qs(0).id, "pipeline"); names.put(qs(1).id, "sliding")
      }
      qs
    }
    val first = Math.floorMod(ctx.seed, 100L) * 10000L

    // one query pair runs all three phases over one drop directory;
    // the untimed warm-up makes the timed phases JIT-warm
    val root = s"${ctx.work}/cdc"
    val drop = s"$root/drop"
    val backlogFirst = writeFiles(s"$drop/warmup", first, WarmupEvents)
    val qs = started(startBoth(spark, root, drop))
    drain(qs)

    ctx.out("setups") = (1 to 3).map { i =>
      val root = s"${ctx.work}/cdc_setup_$i"
      Files.createDirectories(Paths.get(s"$root/drop/empty"))
      val t0 = System.nanoTime()
      val qs = started(startBoth(spark, root, s"$root/drop"))
      drain(qs)
      val wall = (System.nanoTime() - t0) / 1e9
      qs.foreach(_.stop())
      Map("wall_s" -> wall)
    }

    // catch-up: the backlog, written aside beforehand, lands at once
    val steadyFirst = writeFiles(s"$root/backlog", backlogFirst, BacklogEvents)
    System.gc()
    val c0 = ctx.counters()
    val catchStart = ctx.nowMs
    val (_, catchCost) = Proc.measure {
      Files.move(Paths.get(s"$root/backlog"), Paths.get(s"$drop/backlog"))
      drain(qs)
    }
    ctx.out("catchup") = catchCost.toMap ++ Map("events" -> BacklogEvents,
      "start_ms" -> catchStart, "end_ms" -> ctx.nowMs,
      "counters" -> ctx.delta(c0, ctx.counters()))

    // steady: the open loop at Rate
    val watcher = new Watcher(s"$root/out/warehouse")
    watcher.start()
    val c1 = ctx.counters()
    val steadyStart = ctx.nowMs
    val t0 = System.nanoTime()
    val (files, steadyCost) = Proc.measure {
      val f = openLoop(s"$drop/steady", steadyFirst, t0, ctx.seconds)
      drain(qs)
      f
    }
    val seen = watcher.finish()
    qs.foreach(_.stop())
    val end = steadyFirst + files.length.toLong * FileEvents
    ctx.out("steady") = steadyCost.toMap ++ Map("rate" -> Rate, "first_id" -> steadyFirst,
      "t0_ms" -> ms(t0), "file_events" -> FileEvents, "files" -> files,
      "commit_ms" -> seen, "runs" -> idRuns(spark, s"$root/out/warehouse", steadyFirst),
      "start_ms" -> steadyStart, "end_ms" -> ctx.nowMs,
      "counters" -> ctx.delta(c1, ctx.counters()))

    ctx.out("checks") = checks(spark, root, first, end)
    triggers.foreach { case (l, _) => ctx.out("stream_progress") = l.progress }
    if (ctx.tracer.isDefined) {
      ctx.out("transforms") = transformProbes(spark, s"$drop/backlog")
      ctx.out("fanout") = fanoutProbe(spark, s"${ctx.work}/cdc_fanout", s"$drop/backlog")
      ctx.out("aggregates") = aggregateProbes(spark, root)
    }
  }

  /** Maximal runs of consecutive ids per micro-batch, from `from` on:
    * [batch_id, first id, last id]. */
  private def idRuns(spark: SparkSession, warehouse: String, from: Long): Seq[Seq[Long]] = {
    val rows = spark.read.parquet(warehouse).where(col("id") >= from)
      .select(col("batch_id").cast("long"), col("id").cast("long"))
      .orderBy("batch_id", "id").collect()
    val runs = ArrayBuffer.empty[Seq[Long]]
    var (b, lo, hi) = (-1L, 0L, -2L)
    rows.foreach { r =>
      val (rb, id) = (r.getLong(0), r.getLong(1))
      if (rb == b && id == hi + 1) hi = id
      else {
        if (b >= 0) runs += Seq(b, lo, hi)
        b = rb; lo = id; hi = id
      }
    }
    if (b >= 0) runs += Seq(b, lo, hi)
    runs.toSeq
  }

  /** Conservation, no duplicates, cross-store reconciliation and
    * non-empty analytics, over ids [first, end). */
  private def checks(spark: SparkSession, root: String, first: Long, end: Long)
      : Map[String, Any] = {
    val wh = spark.read.parquet(s"$root/out/warehouse")
    val rows = wh.count()
    val distinct = wh.select("id").distinct().count()
    val expected = EnvelopeGenerator.expectedKept(end) - EnvelopeGenerator.expectedKept(first)
    val lag = EngagementPipeline.reconcile(spark, s"$root/out/warehouse", s"$root/out/search")
      .collect().map(_.getLong(2)).map(math.abs).max
    Map("offered" -> (end - first), "expected_kept" -> expected,
      "warehouse_rows" -> rows, "distinct_ids" -> distinct, "reconcile_lag" -> lag,
      "sliding_rows" -> Snapshots.read(spark, s"$root/analytics/sliding").count(),
      "topk_rows" -> Snapshots.read(spark, s"$root/analytics/topk").count(),
      "fanout_topk_rows" -> Snapshots.read(spark, s"$root/out/analytics").count())
  }

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def median3(body: => Unit): Double = Seq.fill(3)(timeS(body)).sorted.apply(1)

  /** `ops.Aggregates` timed from outside over the run's own output, median
    * of three each: the minute pre-aggregate over the warehouse rows (in
    * the events-table shape the batch queries use), the 10-minute sliding
    * rollup over the sliding query's minutes store (as that query reads
    * it) and the top-K over the ratio average. */
  private def aggregateProbes(spark: SparkSession, root: String): Map[String, Any] = {
    val wh = spark.read.parquet(s"$root/out/warehouse")
    val events = wh.select(col("event_time").as("ts"), col("event_type"),
      col("duration_ms").cast("double").as("value")).localCheckpoint()
    val minutes = spark.read.parquet(s"$root/analytics/minutes")
      .select(col("minute"), col("content_type").as("event_type"), col("access_count"),
        col("sum_pct").as("sum_value")).localCheckpoint()
    val derived = wh.select(col("event_type"), col("engagement_pct").as("eng_pct"))
      .localCheckpoint()
    Map("minute_s" -> median3(Aggregates.minuteAgg(events).queryExecution.toRdd.count()),
      "sliding_s" -> median3(Aggregates.sliding10m(minutes).queryExecution.toRdd.count()),
      "topk_s" -> median3(Aggregates.topK(Aggregates.avgRatio(derived), "avg_engagement", 3)
        .queryExecution.toRdd.count()))
  }

  /** `ops.Transforms` timed from outside over the backlog as a static
    * frame: parse, CDC-op filter, enrich and derive, each materialized
    * on its own. */
  private def transformProbes(spark: SparkSession, backlog: String): Map[String, Any] = {
    val raw = spark.read.text(backlog)
    val dim = EnvelopeGenerator.contentDim(spark)
    var parsed, filtered, enriched: DataFrame = null
    val parseS = timeS { parsed = Transforms.parseEnvelope(raw).localCheckpoint() }
    val nParsed = parsed.count()
    filtered = Transforms.filterOps(parsed).localCheckpoint()
    val nKept = filtered.count()
    val enrichS = timeS { enriched = Transforms.enrich(filtered, dim).localCheckpoint() }
    val deriveS = timeS { Transforms.deriveMetrics(enriched).queryExecution.toRdd.count() }
    Map("parse_s" -> parseS, "enrich_s" -> enrichS, "derive_s" -> deriveS,
      "parsed" -> nParsed, "kept" -> nKept)
  }

  /** `EngagementPipeline.fanOutBatch` called directly on one second of
    * input ([[Rate]] events, transformed), three times. */
  private def fanoutProbe(spark: SparkSession, root: String, backlog: String)
      : Map[String, Any] = {
    val files = new java.io.File(backlog).listFiles().map(_.getPath)
      .filter(_.endsWith(".jsonl")).sorted.take(Rate / FileEvents)
    val batch = EngagementPipeline.transform(spark.read.text(files.toSeq: _*),
      EnvelopeGenerator.contentDim(spark)).localCheckpoint()
    val fan = EngagementPipeline.fanOutBatch(s"$root/warehouse", s"$root/search",
      s"$root/analytics") _
    val runs = (0 until 3).map(i => timeS(fan(batch, i.toLong)) * 1000)
    Map("batch_ms" -> runs.sorted.apply(1), "rows" -> batch.count())
  }
}
