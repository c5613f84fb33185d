package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fresh-JVM end-to-end check of the declarative extension wiring: builds a
  * session configured ONLY via `spark.sql.extensions=graft.GraftExtensions`
  * (no withExtensions, no install()), then asserts that (a) the graft SQL
  * functions resolve and (b) BandJoinRule rewrites a natural band join into
  * the bucketed equi-join. Run with:
  *
  *   sbt "runMain graft.tools.ExtensionsCheck"
  *
  * Prints `ExtensionsCheck OK` and exits 0 on success. Kept as a main (not a
  * ScalaTest suite) because `spark.sql.extensions` is a static conf Spark
  * reads at SparkContext creation — the shared-session test JVM cannot
  * exercise it; GraftExtensionsSpec covers the same injection path
  * reflectively in-suite and runs this main in a forked JVM.
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-check")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // (a) conf-injected SQL function resolves and computes
    val txt = spark.sql(
      "SELECT extract_text(cast('<p>hi there</p>' AS BINARY)) AS t")
      .as[String].head()
    require(txt.contains("hi there"), s"extract_text broken: '$txt'")

    // (b) BandJoinRule fires with no install() call anywhere
    val v = (0L until 100L).toDF("x")
    val j = v.select($"x".as("xa"))
      .join(v.select($"x".as("xb")),
        $"xb" >= $"xa" && $"xb" < $"xa" + lit(10L))
    val plan = j.queryExecution.executedPlan.toString
    require(plan.contains("__graft_band_bucket"),
      s"BandJoinRule did not fire from conf-only wiring:\n$plan")
    require(j.count() == 100L * 10 - (1 until 10).sum, "band join wrong count")

    println("ExtensionsCheck OK")
    spark.stop()
  }
}
