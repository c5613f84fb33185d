package perfbench

import graft.SparkEntry
import graft.fixtures.Gen
import graft.kg.Eval
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** The harness workload: every `SparkEntry.queries` entry over a seeded set
  * of harness tables (made by `harness_data.py`). Each query is forced with
  * a noop sink, so column pruning cannot skip work.
  *
  * The warm-up pass is also the check pass: it writes every query's result
  * as parquet for `run.py` to compare with the DuckDB oracles
  * (`SparkEntry.oracleSql`) or with values recorded when the benchmark was
  * added (`expected/harness_fixed.json`).
  * It runs the queries on 2 × `cores` threads: the pass exists to warm the
  * JIT and the code caches and to produce the check data, and running it
  * concurrently cuts the time a run spends outside its measurement by more
  * than half.
  */
final class Harness(dataDir: String, workDir: String, cores: Int,
                    queries: Seq[(String, (SparkSession, String) => DataFrame)] =
                      SparkEntry.queries.toSeq.sortBy(_._1),
                    oracles: Map[String, String] = SparkEntry.oracleSql) extends Workload {
  val name = "harness"
  private val checkDir = s"$workDir/check"
  private var checkErrors = Map.empty[String, String]
  private var pipelinePr: Eval.PR = _

  /** The pipeline query's fixed page range (see SparkEntry.queries). */
  val PipelinePages = 300L
  val PairQueries = Set("q_dedup_jaccard", "q_dedup_minhash_pairs",
    "q_dedup_jaccard_capped", "q_dedup_embed")

  def layerOf(q: String): String =
    if (q.startsWith("q_dedup_") || q == "q_fingerprint") "ops.dedup"
    else if (q.startsWith("q_embed_")) "ops.similarity"
    else "ops.relational"

  def prepare(spark: SparkSession): Unit = ()

  def open(spark: SparkSession): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)

  def warmup(spark: SparkSession): Unit = {
    Kg.delete(checkDir)
    val pool = Executors.newFixedThreadPool(2 * cores)
    try {
      val tasks = queries.map { case (q, fn) =>
        (() => try { fn(spark, dataDir).write.parquet(s"$checkDir/$q"); q -> null }
          catch { case e: Throwable => q -> PerfBench.describe(e) }): Callable[(String, String)]
      }
      checkErrors = pool.invokeAll(tasks.asJava).asScala.map(_.get())
        .filter(_._2 != null).toMap
    } finally pool.shutdown()
    Files.createDirectories(Paths.get(checkDir))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.render(oracles))
    if (queries.exists(_._1 == "q_pipeline_triples") && !checkErrors.contains("q_pipeline_triples"))
      pipelinePr = Eval.pr(spark.read.parquet(s"$checkDir/q_pipeline_triples"),
        Gen.goldDF(spark, 0L, PipelinePages))
  }

  def pass(spark: SparkSession, index: Int): Seq[Op] = queries.map { case (q, fn) =>
    val t = System.nanoTime()
    val err = try { PerfBench.noop(fn(spark, dataDir)); null }
      catch { case e: Throwable => PerfBench.describe(e) }
    Op(q, index, (System.nanoTime() - t) / 1e9, error = err,
      checkError = checkErrors.get(q).map(e => s"check pass: $e").orNull, layer = layerOf(q))
  }

  def finish(spark: SparkSession): Seq[Op] = Nil

  def checks: Seq[(String, Boolean, String)] =
    if (!queries.exists(_._1 == "q_pipeline_triples")) Nil else Seq(
    ("q_pipeline_triples precision and recall >= 0.95",
      pipelinePr != null && pipelinePr.precision >= 0.95 && pipelinePr.recall >= 0.95,
      Option(pipelinePr).map(p => s"p=${p.precision} r=${p.recall}").getOrElse("not computed")))

  def facts: Map[String, Any] = Map(
    "queries" -> queries.size, "check_dir" -> checkDir, "data_dir" -> dataDir,
    "precision" -> Option(pipelinePr).map(_.precision).getOrElse(0.0),
    "recall" -> Option(pipelinePr).map(_.recall).getOrElse(0.0))

  /** One traced pass: a span per query, charged to its ops layer. */
  def traced(spark: SparkSession, tr: Tracer): TraceResult = {
    val (_, passSpan) = tr.span("harness.traced_pass") {
      queries.foreach { case (q, fn) =>
        tr.span(q, layerOf(q))(PerfBench.noop(fn(spark, dataDir)))
      }
    }
    val steps = tr.spans.filter(_.parent == passSpan.id).toSeq
    val cores = spark.sparkContext.defaultParallelism
    // a noop sink counts no rows: take each query's row count from its
    // check-pass output, outside every span
    val rowsOut = steps.map(s => s.name -> spark.read.parquet(s"$checkDir/${s.name}").count()).toMap
    def sumOf(ss: Seq[Span], f: SparkWork => Double) = ss.map(s => f(s.work)).sum
    val byLayer = steps.groupBy(_.layer)
    val table = byLayer.toSeq.sortBy(_._1).map { case (layer, ss) =>
      val self = ss.map(_.seconds).sum
      Map[String, Any]("layer" -> layer, "self_s" -> self, "queries" -> ss.size,
        "jobs" -> sumOf(ss, _.jobs.toDouble), "tasks" -> sumOf(ss, _.tasks.toDouble),
        "task_s" -> sumOf(ss, _.taskMs / 1e3), "gc_s" -> sumOf(ss, _.gcMs / 1e3),
        "shuffle_bytes" -> sumOf(ss, _.shuffleWriteBytes.toDouble),
        "spill_bytes" -> sumOf(ss, _.spillBytes.toDouble),
        "join_rows" -> sumOf(ss, _.joinRows.toDouble),
        "idle_core_s" -> (self * cores - sumOf(ss, _.taskMs / 1e3)))
    } ++ steps.map { s =>
      Map[String, Any]("layer" -> s.layer, "query" -> s.name, "self_s" -> s.seconds,
        "jobs" -> s.work.jobs, "tasks" -> s.work.tasks, "task_s" -> s.work.taskMs / 1e3,
        "rows_out" -> rowsOut(s.name), "join_rows" -> s.work.joinRows,
        "exchanges" -> s.work.exchanges, "reused_exchanges" -> s.work.reusedExchanges)
    }
    def layer(l: String) = byLayer.getOrElse(l, Nil)
    val dedup = layer("ops.dedup")
    val pairs = dedup.filter(s => PairQueries(s.name)).map(s => rowsOut(s.name)).sum.toDouble
    val joinRows = sumOf(dedup, _.joinRows.toDouble)
    val m = Map[String, Double](
      "ops.dedup.s" -> dedup.map(_.seconds).sum,
      "ops.dedup.jobs" -> sumOf(dedup, _.jobs.toDouble),
      "ops.dedup.join_rows" -> joinRows,
      "ops.dedup.pairs" -> pairs,
      "ops.dedup.pair_yield" -> Kg.ratio(pairs, joinRows),
      "ops.similarity.s" -> layer("ops.similarity").map(_.seconds).sum,
      "ops.similarity.jobs" -> sumOf(layer("ops.similarity"), _.jobs.toDouble),
      "ops.relational.s" -> layer("ops.relational").map(_.seconds).sum,
      "ops.relational.jobs" -> sumOf(layer("ops.relational"), _.jobs.toDouble)) ++
      Kg.sparkTotals(steps.map(_.work), steps.map(_.seconds).sum, cores)
    TraceResult(passSpan.seconds, m, table)
  }
}

/** Injected failures for `run.py --selftest`: one query that succeeds, one
  * that throws, and one whose output disagrees with its oracle. The run must
  * report the last two as failed ops and time only the first. */
object SelfTest {
  private def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q_ok" -> ((s, d) => docs(s, d).select("doc_id", "lang")),
    "q_throws" -> ((s, d) => docs(s, d).select("no_such_column")),
    "q_wrong" -> ((s, d) => docs(s, d).select("doc_id", "lang")))
  val oracles: Map[String, String] = Map(
    "q_ok" -> "SELECT doc_id, lang FROM documents",
    "q_throws" -> "SELECT doc_id FROM documents",
    "q_wrong" -> "SELECT doc_id, lang FROM documents WHERE doc_id > 0")
}
