package graft

import graft.kg.{Pipeline, Stages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (the "explain and iterate" discipline): pushdown and
  * pruning reach the parquet scan, broadcasts are broadcast, the pipeline has
  * exactly the two shuffles it is designed to have, the hot path is
  * whole-stage-codegen'd, and the native extractor expression fuses. */
class PlanAuditSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString() // pre-AQE physical plan
  }

  test("q_scan_filter: predicate pushdown + column pruning reach the scan") {
    val plan = SparkEntry.queries("q_scan_filter")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate filter not pushed:\n$plan")
    assert(plan.contains("LessThan(l_quantity"), s"quantity filter not pushed:\n$plan")
    // pruned read schema: only the 4 referenced columns, never the whole row
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      s"scan reads unused columns: $readSchema")
  }

  test("q_join_broadcast plans a BroadcastHashJoin; q_join_merge a SortMergeJoin") {
    val b = formatted(SparkEntry.queries("q_join_broadcast")(spark, sfDir))
    assert(b.contains("BroadcastHashJoin"), b)
    val m = formatted(SparkEntry.queries("q_join_merge")(spark, sfDir))
    assert(m.contains("SortMergeJoin"), m)
  }

  test("pipeline: exactly two exchanges (url-hash repartition + final merge)") {
    val model = KgTestModel.model(spark)
    val webpages = spark.read.parquet(s"${SparkKit.sf0001}/webpages.parquet")
    val triples = Pipeline.triples(spark, webpages, model,
      Pipeline.Config(fixturesDir = "", outDir = "", numParts = 16))
    val plan = formatted(triples)
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"pipeline must shuffle exactly twice (repartition + merge), got $exchanges:\n$plan")
    // phase-1 partial aggregation must NOT re-shuffle: the partial aggregate
    // pair sits between the repartition exchange and the merge exchange.
    assert(plan.contains("Aggregate"), plan)
    // canonicalization must stay HASH-based: the min_str typed-imperative
    // aggregate keeps string provenance on ObjectHashAggregate; the built-in
    // min(url) would silently fall back to SortAggregate (full stream sort)
    assert(plan.contains("ObjectHashAggregate"),
      s"canonicalization not hash-based:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"SortAggregate crept back into the pipeline:\n$plan")
  }

  test("min_str == built-in min(url) values; LSH shuffle-join mode == broadcast mode") {
    import spark.implicits._
    // min_str semantics: exactly lexicographic min, incl. empty-string groups
    val df = Seq((1L, "u-b"), (1L, "u-a"), (2L, ""), (2L, "x"), (3L, "only"))
      .toDF("k", "url")
    val viaMinStr = df.groupBy($"k")
      .agg(graft.plans.GraftExtensions.minStr($"url").as("m")).as[(Long, String)]
      .collect().toSet
    val viaMin = df.groupBy($"k").agg(min($"url").as("m")).as[(Long, String)]
      .collect().toSet
    assert(viaMinStr == viaMin, s"$viaMinStr != $viaMin")

    // large-query-set LSH: plain equi-join (no broadcast of q), same results
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 4)
    val bc = graft.ops.Similarity.lshTopK(qs, emb, "vec_id", "embedding",
      dims = 64, planes = 4, k = 5, broadcastQueries = true)
    val sh = graft.ops.Similarity.lshTopK(qs, emb, "vec_id", "embedding",
      dims = 64, planes = 4, k = 5, broadcastQueries = false)
    assert(sh.exceptAll(bc).isEmpty && bc.exceptAll(sh).isEmpty)
    // at test scale the planner still auto-broadcasts the tiny side (correct
    // adaptive behavior — the op merely stops FORCING broadcast); disable the
    // threshold to observe the large-query-set plan
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shPlan = formatted(graft.ops.Similarity.lshTopK(qs, emb, "vec_id",
        "embedding", dims = 64, planes = 4, k = 5, broadcastQueries = false)
        .select("query_id", "neighbor_id", "rnk"))
      assert(!shPlan.contains("BroadcastHashJoin"),
        s"non-broadcast mode still broadcasts:\n$shPlan")
      assert(shPlan.contains("SortMergeJoin") || shPlan.contains("ShuffledHashJoin"),
        s"expected a shuffle join on bucket:\n$shPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("pipeline hot path is whole-stage codegen'd incl. native extract_text") {
    val model = KgTestModel.model(spark)
    val webpages = spark.read.parquet(s"${SparkKit.sf0001}/webpages.parquet")
    val sents = Stages.tokenized(Stages.sentences(
      Stages.pageText(Stages.partitioned(webpages, Seq("en"), 8))))
    sents.collect() // materialize THIS dataset so AQE finalizes its plan
    val plan = formatted(sents)
    // '*(n)' is the tree-string marker for a WholeStageCodegen span
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("extract_text") && l.contains("*(")),
      s"native extract_text not inside a codegen span:\n$plan")
    assert(!plan.contains("BatchEvalPython"), plan)
  }

  test("native extract_text expression == udf wrapper, and evaluates in codegen") {
    import spark.implicits._
    val df = spark.read.parquet(s"${SparkKit.sf0001}/webpages.parquet")
      .select(col("url"), col("html"))
    val native = df.select(col("url"),
      graft.plans.GraftExtensions.extractText(col("html")).as("t"))
    val viaUdf = df.select(col("url"), Oracles.extractTextUdf(col("html")).as("t"))
    assert(native.exceptAll(viaUdf).isEmpty && viaUdf.exceptAll(native).isEmpty)
    // also callable through SQL after registration
    graft.plans.GraftExtensions.register(spark)
    df.limit(5).createOrReplaceTempView("pages_tmp")
    val viaSql = spark.sql("SELECT extract_text(html) AS t FROM pages_tmp")
    assert(viaSql.count() == 5)
  }

  test("q_embed_lsh_topk avoids a cartesian product (equi-join on bucket)") {
    val plan = formatted(SparkEntry.queries("q_embed_lsh_topk")(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_join_nl plans the sanctioned BroadcastNestedLoopJoin (dim-sized side)") {
    val plan = formatted(SparkEntry.queries("q_join_nl")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pivot / hash-sample / grouped-quantile plan their intended shapes") {
    // q_pivot (conditional-aggregate pivot): ONE shuffle. The built-in
    // .pivot(col, values) was measured to plan TWO exchanges even with an
    // explicit value list (pre-aggregate on (key, pivot_col) + pivotfirst),
    // which is why q_pivot uses count(when(...)) per declared value
    val p = formatted(SparkEntry.queries("q_pivot")(spark, sfDir))
    assert("Exchange".r.findAllIn(p).length == 1, s"pivot must shuffle once:\n$p")
    assert(p.contains("HashAggregate"), p)

    // q_sample_hash: the hash-sample predicate runs as a Filter in the scan
    // stage, BELOW the single aggregation exchange — 90% of rows are dropped
    // before they can be shuffled
    val s = formatted(SparkEntry.queries("q_sample_hash")(spark, sfDir))
    assert("Exchange".r.findAllIn(s).length == 1, s"sample must shuffle once:\n$s")
    val lines = s.linesIterator.toVector
    val exIdx = lines.indexWhere(_.contains("Exchange"))
    val fIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("md5"))
    assert(exIdx >= 0 && fIdx > exIdx, // tree prints parents above children
      s"sample filter must sit below the exchange (pre-shuffle):\n$s")

    // q_quantile_group: both windows share ONE hash-partitioning exchange on
    // the group key (row_number and count partition identically)
    val q = formatted(SparkEntry.queries("q_quantile_group")(spark, sfDir))
    assert("Exchange".r.findAllIn(q).length == 1, s"quantile must shuffle once:\n$q")
    assert(q.contains("Window"), q)
  }
}

/** Shared broadcast model for plan audits (built once, in-memory). */
object KgTestModel {
  private var cached: org.apache.spark.broadcast.Broadcast[graft.kg.KgModel] = _
  def model(spark: org.apache.spark.sql.SparkSession): org.apache.spark.broadcast.Broadcast[graft.kg.KgModel] =
    synchronized {
      if (cached == null) cached = graft.fixtures.Gen.inMemoryModel(spark)
      cached
    }
}
