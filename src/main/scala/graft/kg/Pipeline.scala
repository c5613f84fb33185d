package graft.kg

import graft.io.TableIO
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardOpenOption}

/** End-to-end KG-construction pipeline (SURVEY.md §3.2 E1).
  *
  * webpages(url, warc_ts, html, text, lang)
  *   → filter(lang) → repartition(P, xxhash64(url))            [A1–A2]
  *   → Extract.text → sentences → tokens                        [A3–A5]
  *   → mentions → candidates → featurize → score → link         [A6–A10]
  *   → per-part partial agg (salt = part_id, shuffle-free)      [A11 ph.1]
  *   → global merge (the single shuffle)                        [A11 ph.2]
  *   → bucketed (subj,pred,obj) output table                    [A12]
  * with per-part manifest checkpointing/resume [A13] and metrics [A14].
  */
object Pipeline {
  /** One pipeline run: the dictionary/weights fixtures, the output directory,
    * the in-scope languages, and P, the url-hash part count (the checkpoint
    * and lineage unit). */
  final case class Config(
      fixturesDir: String,
      outDir: String,
      langs: Seq[String] = Seq("en"),
      numParts: Int = 64)

  /** Output table bucket count: subj-hash buckets of the materialized
    * triples table. */
  private val NumBuckets = 16

  private val OverwriteModeKey = "spark.sql.sources.partitionOverwriteMode"

  /** `mentions`/`candidates` come from task-side accumulators: retried or
    * speculatively-executed tasks double-count, so treat them as approximate
    * telemetry; `pages`/`triples` are exact (committed manifest / output
    * table counts). */
  final case class RunStats(
      partsProcessed: Int, partsSkipped: Int, pages: Long, mentions: Long,
      candidates: Long, triples: Long, wallMs: Long)

  def partialsPath(outDir: String) = s"$outDir/partials"
  def triplesPath(outDir: String) = s"$outDir/triples"

  /** Partial-triples schema (part_id is the hive partition column). Reads use
    * it explicitly so an empty (file-less) partials dir stays readable. */
  val partialsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "subj string, pred string, obj string, n bigint, score double, " +
        "first_url string, part_id int")

  /** Pure (non-checkpointed) run: webpages DataFrame in, canonical triples
    * DataFrame out — used by tests and the harness flagship. */
  def triples(spark: SparkSession, webpages: DataFrame, model: Broadcast[KgModel],
              cfg: Config): DataFrame = {
    val rels = Stages.extractRelations(webpages, model, cfg.langs, cfg.numParts)
    Stages.mergeTriples(Stages.partialTriples(rels))
      .select(col("subj"), col("pred"), col("obj"), col("score"),
        col("n_evidence"), col("first_url"))
  }

  /** Checkpointed, resumable run over a webpages table on disk. Reprocesses
    * only part_ids missing from the manifest; finalize merges all partials
    * into the bucketed output table. Safe to re-run after any crash. */
  def run(spark: SparkSession, webpagesPath: String, cfg: Config): RunStats = {
    val t0 = System.nanoTime()
    // session-global state is restored on every exit, failed runs included
    val prevMode = spark.conf.getOption(OverwriteModeKey)
    spark.conf.set(OverwriteModeKey, "dynamic")
    val stageListener = new StageMetricsListener
    spark.sparkContext.addSparkListener(stageListener)
    val stats =
      try commitAndFinalize(spark, webpagesPath, cfg, t0)
      finally {
        spark.sparkContext.removeSparkListener(stageListener)
        prevMode match {
          case Some(v) => spark.conf.set(OverwriteModeKey, v)
          case None => spark.conf.unset(OverwriteModeKey)
        }
      }
    writeMetrics(cfg.outDir, stats, stageListener.lines)
    stats
  }

  private def commitAndFinalize(spark: SparkSession, webpagesPath: String, cfg: Config,
                                t0: Long): RunStats = {
    val model = KgModel.load(spark, cfg.fixturesDir)
    val webpages = spark.read.parquet(webpagesPath)
    val committed = Checkpoint.committedParts(spark, cfg.outDir)
    val todo = (0 until cfg.numParts).filterNot(committed.contains)

    val accMentions = spark.sparkContext.longAccumulator("kg.mentions")
    val accCandidates = spark.sparkContext.longAccumulator("kg.candidates")

    var pages = 0L
    if (todo.nonEmpty) {
      // single-pass lineage: EVERY page (in scope or not) flows once, tagged;
      // out-of-scope rows carry (url, nulls) only and skip extraction. Each
      // page emits one marker row (subj IS NULL) beside its relations, so page
      // counts and the present-part commit rule are read back from the written
      // partials — the input is scanned exactly once per run (LineageSpec
      // asserts), where round 2 paid two extra (column-pruned) input scans.
      val part = Stages.partitionedAll(webpages, cfg.langs, cfg.numParts)
        .filter(col("part_id").isin(todo: _*))
      val rels = Stages.relations(
        Stages.tokenized(Stages.sentencesOuter(Stages.pageText(part))),
        model, Some(accMentions), Some(accCandidates), pageMarkers = true)
      val partials = Stages.partialTriples(rels)

      // dynamic partition overwrite: a rerun replaces exactly the part dirs
      // it recomputes — idempotent commits (Checkpoint scaladoc)
      partials.write.mode(SaveMode.Overwrite)
        .partitionBy("part_id").parquet(partialsPath(cfg.outDir))

      val wallMs = (System.nanoTime() - t0) / 1000000L
      val partialsBack = spark.read.schema(partialsSchema).parquet(partialsPath(cfg.outDir))
        .filter(col("part_id").isin(todo: _*))
      // commit rule: a part PRESENT in the input commits 'done' even when all
      // its pages are out of scope (0 in-scope pages — without this it would
      // be recomputed on every resume); a part with NO input pages at all has
      // no marker rows and is treated as not-yet-seen (an interrupted run's
      // unseen input must stay uncommitted — ResumeSpec's crash model).
      // Marker groups are tiny (≤2 rows per part), so this is a scan of the
      // just-written partials, never of the input.
      val pagesByPart = partialsBack.filter(col("subj").isNull)
        .groupBy(col("part_id"))
        .agg(sum(when(col("pred") === Stages.PageMarkerIn, col("n")).otherwise(0L))
          .as("n_pages"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rows = Checkpoint.partStats(todo.filter(pagesByPart.contains),
        partialsBack.filter(col("subj").isNotNull), pagesByPart, wallMs)
      Checkpoint.commit(spark, cfg.outDir, rows)
      pages = rows.map(_.n_pages).sum
    }

    // finalize (cheap, always rerun): merge all committed partials. A run
    // whose input produced no partials (e.g. no pages in scope) still commits
    // a valid empty output table.
    val partials0 =
      if (Checkpoint.pathExists(spark, partialsPath(cfg.outDir)))
        spark.read.schema(partialsSchema).parquet(partialsPath(cfg.outDir)).drop("part_id")
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(partialsSchema.dropRight(1)))
    val merged = Stages.mergeTriples(partials0)
      .withColumn("bucket", Stages.subjBucket(NumBuckets))
    val io = TableIO.Parquet(cfg.outDir)
    // a partitionBy write of an empty frame yields no schema-bearing files —
    // fall back to a plain (schema-preserving) empty parquet table
    val mergedEmpty = merged.isEmpty
    io.write(
      merged.repartition(col("bucket")).sortWithinPartitions("subj", "pred", "obj"),
      "triples", partitionCols = if (mergedEmpty) Nil else Seq("bucket"))

    // explicit schema: an all-empty write may contain no schema-bearing files
    val nTriples = spark.read.schema(merged.schema).parquet(triplesPath(cfg.outDir)).count()
    val wallMs = (System.nanoTime() - t0) / 1000000L
    RunStats(todo.size, committed.size, pages,
      accMentions.value, accCandidates.value, nTriples, wallMs)
  }

  /** A14 — run-level metrics log (per-partition lineage lives in _manifest). */
  private def writeMetrics(outDir: String, s: RunStats, stageLines: Seq[String]): Unit = {
    val run = s"""{"parts_processed":${s.partsProcessed},"parts_skipped":${s.partsSkipped},""" +
      s""""pages":${s.pages},"mentions":${s.mentions},"candidates":${s.candidates},""" +
      s""""triples":${s.triples},"wall_ms":${s.wallMs}}"""
    val all = (run +: stageLines).mkString("", "\n", "\n")
    Files.write(Paths.get(s"$outDir/metrics.jsonl"), all.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
