package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Harness main. Runs one workload and writes its raw measurements
  * (timings, counters, spans, result checksums) as one JSON file; the
  * Python runner turns that file into the benchmark's metrics and
  * checks correctness.
  *
  * {{{
  * perfbench.Main --workload <cdc_stream|corpus_session>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <file>
  * perfbench.Main --dump-oracle <file>
  * }}}
  */
object Main {

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
      val seed: Long, val seconds: Double, val tracer: Option[Tracer]) {
    val ledger: Option[JobLedger] = tracer.map(new JobLedger(_))
    val out = mutable.LinkedHashMap.empty[String, Any]

    def counters(): Map[String, Long] = ledger.map(_.snapshot()).getOrElse(Map.empty)
    def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
    def newId(kind: String): String = tracer.map(_.newId(kind)).getOrElse("")
    def nowMs: Double = tracer.map(_.nowMs).getOrElse(0.0)

    /** `body` as a traced span when tracing is on, plainly otherwise. */
    def inSpan[A](s: SparkSession, id: String, parent: String, name: String,
        layer: String)(body: => A): A =
      tracer match {
        case Some(t) => t.span(s, id, parent, name, layer)(body)
        case None => body
      }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("dump-oracle") match {
      case Some(path) => dumpOracle(path)
      case None => run(opt)
    }
  }

  private def dumpOracle(path: String): Unit = {
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => Corpus.Queries.contains(k) }
    write(path, Map("oracle" -> sql, "queries" -> Corpus.Queries,
      "no_oracle" -> Corpus.Queries.filterNot(sql.contains)))
  }

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    val t0 = System.nanoTime()
    // the bench conf: AQE, UTC, the TopKAgg fallback threshold (see
    // graft.functions.TopKAgg) and one shuffle partition per core
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val contextS = (System.nanoTime() - t0) / 1e9

    val tracer = if (opt.getOrElse("trace", "0") == "1") Some(new Tracer) else None
    val ctx = new Ctx(spark, opt("data"), work, opt("seed").toLong,
      opt("seconds").toDouble, tracer)
    ctx.ledger.foreach(spark.sparkContext.addSparkListener(_))
    ctx.out ++= Seq("workload" -> workload, "seed" -> ctx.seed, "cpus" -> cpus,
      "trace" -> tracer.isDefined, "context_s" -> contextS,
      "loadavg_start" -> Proc.loadavg)
    val (_, cost) = Proc.measure {
      workload match {
        case "cdc_stream" => Stream.run(ctx)
        case "corpus_session" => Corpus.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    }
    ctx.out ++= Seq("run" -> cost.toMap, "peak_rss_mb" -> Proc.peakRssMb,
      "loadavg_end" -> Proc.loadavg)
    tracer.foreach { t =>
      ctx.out ++= Seq("spans" -> t.all, "trace_self_s" -> t.selfNanos.get / 1e9)
    }
    write(opt("out"), ctx.out)
    spark.stop()
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json.writeValueAsString(v))
}
