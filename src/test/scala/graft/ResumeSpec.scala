package graft

import graft.kg.{Checkpoint, Pipeline}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint/resume semantics (SURVEY.md §2 A13, §5.2 ResumeSpec):
  * an interrupted run (simulated as a run that only saw part of the input)
  * plus a resumed run produce exactly the clean run's final table, and no
  * partition is processed twice. */
class ResumeSpec extends AnyFunSuite with SharedSpark {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"resume-$tag").toString

  test("interrupted + resumed run == clean run; no partition reprocessed") {
    val dir = SparkKit.sf0001
    val pagesPath = s"$dir/webpages.parquet"
    val P = 8

    // clean run
    val outClean = tmp("clean")
    Pipeline.run(spark, pagesPath, Pipeline.Config(dir, outClean, numParts = P))
    val clean = spark.read.parquet(Pipeline.triplesPath(outClean))

    // "crashed" run: pipeline only saw the pages of parts 0..3 before dying
    val outR = tmp("resumed")
    val firstHalf = tmp("input-half")
    spark.read.parquet(pagesPath)
      .filter(pmod(xxhash64(col("url")), lit(P.toLong)).cast("int") < 4)
      .write.mode("overwrite").parquet(firstHalf)
    Pipeline.run(spark, firstHalf, Pipeline.Config(dir, outR, numParts = P))
    val committedAfterCrash = Checkpoint.committedParts(spark, outR)
    assert(committedAfterCrash.nonEmpty && committedAfterCrash.forall(_ < 4))

    // resume with the full input
    val stats = Pipeline.run(spark, pagesPath, Pipeline.Config(dir, outR, numParts = P))
    assert(stats.partsSkipped == committedAfterCrash.size,
      "committed partitions must not be reprocessed")

    val resumed = spark.read.parquet(Pipeline.triplesPath(outR))
    val cols = Seq("subj", "pred", "obj", "score", "n_evidence", "first_url")
    val a = clean.select(cols.map(col): _*)
    val b = resumed.select(cols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "resumed final table must equal the clean run")

    // manifest lineage: exactly one 'done' row per part, pages add up
    val manifest = spark.read.parquet(Checkpoint.manifestPath(outR))
    import spark.implicits._
    val perPart = manifest.groupBy("part_id").count().as[(Int, Long)].collect().toMap
    assert(perPart.values.forall(_ == 1L), s"duplicate manifest rows: $perPart")
    val totalPages = manifest.agg(sum("n_pages")).as[Long].head()
    val expectedPages = spark.read.parquet(pagesPath).filter(col("lang") === "en").count()
    assert(totalPages == expectedPages)
  }

  test("run restores partitionOverwriteMode after success and after failure") {
    val dir = SparkKit.sf0001
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    Pipeline.run(spark, s"$dir/webpages.parquet", Pipeline.Config(dir, tmp("conf"), numParts = 4))
    assert(spark.conf.get(key) == "static", "a successful run must restore the conf")
    intercept[Exception](Pipeline.run(spark, s"$dir/webpages.parquet",
      Pipeline.Config(s"$dir/no-such-fixtures", tmp("conf-fail"), numParts = 4)))
    assert(spark.conf.get(key) == "static", "a failed run must restore the conf")
  }

  test("run over input with zero in-scope pages commits a valid empty table") {
    val dir = SparkKit.sf0001
    val out = tmp("empty")
    val stats = Pipeline.run(spark, s"$dir/webpages.parquet",
      Pipeline.Config(dir, out, langs = Seq("xx"), numParts = 4))
    assert(stats.triples == 0L)
    assert(new java.io.File(s"${Pipeline.triplesPath(out)}/_SUCCESS").exists(),
      "empty run must still commit the output table")
  }
}
