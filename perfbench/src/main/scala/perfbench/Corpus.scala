package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import Main.Ctx

/** corpus_session: the documents/embeddings lane as a user session
  * sees it. Each measured session is a fresh `spark.newSession()`, so
  * the memo (`graft.ops.Memo`) is cold; it runs a cold pass and then a
  * warm pass that hits the memo. The first session is also the JVM's
  * first, so it includes class loading and JIT warm-up; the second runs
  * in a warm JVM. Set-up is timed after them, in a warm JVM too.
  *
  * Query order is a seed-permutation per pass. Timed executions are
  * forced through `queryExecution.toRdd.count()`, as graft.Bench does,
  * and their row counts are checked; an untimed pass at the end, in the
  * last session, collects every memo-served result for the checksum
  * check. */
object Corpus {

  /** Memo producers and consumers of the corpus lane, one or two per
    * module: TextOps (substring dedup and its spans), VectorOps/Ivf/Pq
    * (the ANN base index, the PQ codebook), QualityModel (fit and
    * inference) and Rag (chunks, dense vectors, centres). */
  val Queries: Seq[String] = Seq(
    "q_substring_dedup", "q_substring_spans", "q_ann_prefilter", "q_pq_adc",
    "q_quality_fit", "q_quality_infer", "q_rag_sem_recall")

  /** Inputs opened by a set-up. */
  val Inputs = Seq("documents", "embeddings")

  /** Nominal seconds of one measured session (cold pass + warm pass):
    * a run measures `--seconds / SessionS` sessions, at least one, so the
    * sample count does not depend on how fast the run goes. Two sessions
    * (at `--seconds 16`) put about 45 s of work behind each figure. */
  val SessionS = 8.0

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  private def runQuery(ctx: Ctx, s: SparkSession, name: String, pass: String,
      collect: Boolean): Map[String, Any] = {
    val fn = SparkEntry.queries(name)
    s.sharedState.cacheManager.clearCache()
    val id = ctx.newId("q")
    var rows = -1L
    var checksum: String = null
    var error: String = null
    val t0 = System.nanoTime()
    try ctx.inSpan(s, id, pass, name, "query") {
      if (collect) {
        val df = fn(s, ctx.data)
        val result = df.collect()
        rows = result.length
        checksum = Checksum.of(df.schema, result.iterator)
      } else rows = fn(s, ctx.data).queryExecution.toRdd.count()
    } catch { case NonFatal(e) => error = e.toString }
    Map("name" -> name, "span" -> id, "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "rows" -> rows, "checksum" -> checksum, "error" -> error)
  }

  private def runPass(ctx: Ctx, s: SparkSession, names: Seq[String],
      label: String, collect: Boolean): Map[String, Any] = {
    val id = ctx.newId("p")
    val c0 = ctx.counters()
    val start = ctx.nowMs
    val (queries, cost) = Proc.measure {
      ctx.inSpan(s, id, "", label, "pass") {
        names.map(runQuery(ctx, s, _, id, collect))
      }
    }
    cost.toMap ++ Map("label" -> label, "span" -> id, "start_ms" -> start,
      "end_ms" -> ctx.nowMs, "queries" -> queries, "counters" -> ctx.delta(c0, ctx.counters()))
  }

  /** One set-up: a fresh session that opens and scans every input table
    * through `io.Tables`. */
  private def setup(ctx: Ctx, tables: Seq[String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val s = ctx.spark.newSession()
    val scans = tables.map { t =>
      val t1 = System.nanoTime()
      graft.io.Tables.table(s, ctx.data, t).queryExecution.toRdd.count()
      t -> (System.nanoTime() - t1) / 1e9
    }
    Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "scan_s" -> scans.map(_._2).sum,
      "tables" -> scans.toMap)
  }

  def run(ctx: Ctx): Unit = {
    var s: SparkSession = null
    ctx.out("passes") = (0 until math.max(1, (ctx.seconds / SessionS).toInt)).flatMap { i =>
      s = ctx.spark.newSession()
      Seq(runPass(ctx, s, order(Queries, ctx.seed, 2 * i), "cold", collect = false),
        runPass(ctx, s, order(Queries, ctx.seed, 2 * i + 1), "warm", collect = false))
    }
    ctx.out("setups") = (1 to 3).map(_ => setup(ctx, Inputs))
    val blocks = ctx.spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    ctx.out("memo") = Map("blocks" -> blocks.length,
      "blocks_mb" -> blocks.map(b => b.memSize + b.diskSize).sum / 1048576.0)
    ctx.out("check") = runPass(ctx, s, Queries, "check", collect = true)
  }
}
