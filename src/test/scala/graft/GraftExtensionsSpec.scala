package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Declarative extension wiring (VERDICT r4 Next #6): `graft.GraftExtensions`
  * must be instantiable exactly the way Spark's conf-driven `applyExtensions`
  * does it — `classForName(name).getConstructor().newInstance()` as a
  * `SparkSessionExtensions => Unit` — and a FRESH session carrying only that
  * injection (no BandJoinRule.install, no register()) must resolve the graft
  * functions and fire the band-join rewrite. `spark.sql.extensions` itself is
  * a static conf read at SparkContext creation, which a shared-context test
  * JVM cannot re-exercise — graft.tools.ExtensionsCheck is the fresh-JVM
  * end-to-end twin of this spec, and the second test runs it in a forked
  * JVM. */
class GraftExtensionsSpec extends AnyFunSuite with SharedSpark {

  test("graft.GraftExtensions instantiates reflectively and wires a fresh session") {
    // force the shared context to exist first so builder reuses it
    val shared = spark
    // Spark's applyExtensions mechanism, verbatim
    val injector = Class.forName("graft.GraftExtensions")
      .getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]

    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder().withExtensions(injector).getOrCreate()
      assert(fresh ne shared, "expected a fresh session over the shared context")
      import fresh.implicits._

      // injected SQL function resolves with zero register() calls
      val txt = fresh.sql(
        "SELECT extract_text(cast('<p>hi there</p>' AS BINARY)) AS t")
        .as[String].head()
      assert(txt.contains("hi there"), s"extract_text broken: '$txt'")

      // injected optimizer rule fires with zero install() calls
      val v = (0L until 50L).toDF("x")
      val j = v.select($"x".as("xa"))
        .join(v.select($"x".as("xb")),
          $"xb" >= $"xa" && $"xb" < $"xa" + lit(5L))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_band_bucket"),
        s"BandJoinRule not wired through extensions:\n$plan")
      assert(j.count() == 50L * 5 - (1 until 5).sum)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("conf-only spark.sql.extensions wiring works in a fresh JVM (ExtensionsCheck)") {
    import scala.jdk.CollectionConverters._
    // the test JVM's --add-opens, in either the split or the '=' form
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), "graft.tools.ExtensionsCheck")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").mkString
    assert(proc.waitFor() == 0, s"ExtensionsCheck failed:\n$out")
    assert(out.linesIterator.contains("ExtensionsCheck OK"), out)
  }
}
