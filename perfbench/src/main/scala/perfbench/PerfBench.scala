package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed operation of a pass. `error` is set when the call threw and
  * `checkError` when its output check failed; either way the op counts as
  * failed and its time is kept out of every timing metric. */
final case class Op(name: String, pass: Int, seconds: Double, error: String = null,
                    checkError: String = null, pages: Long = 0L, layer: String = "") {
  def ok: Boolean = error == null && checkError == null
  def toMap: Map[String, Any] = Map("name" -> name, "pass" -> pass, "seconds" -> seconds,
    "error" -> error, "check_error" -> checkError, "pages" -> pages, "layer" -> layer)
}

/** A traced pass, decomposed: per-layer metrics, a per-layer table and the
  * pass's own wall time (the traced `run_s`). */
final case class TraceResult(runS: Double, metrics: Map[String, Double],
                             table: Seq[Map[String, Any]])

trait Workload {
  def name: String
  /** Untimed input generation (cached per seed); runs once, after the first
    * session start. */
  def prepare(spark: SparkSession): Unit
  /** Model broadcast and input open: part of `setup_s`. */
  def open(spark: SparkSession): Unit
  /** The untimed warm-up pass; also builds the references the checks use.
    * Part of `setup_s`. */
  def warmup(spark: SparkSession): Unit
  /** One timed pass, its ops checked. */
  def pass(spark: SparkSession, index: Int): Seq[Op]
  /** Checked ops run once after the timed passes (pass -1): they count in
    * `attempted` and `failed` but not in `run_s`. */
  def finish(spark: SparkSession): Seq[Op]
  /** One traced pass plus whatever extra probes its layer split needs. */
  def traced(spark: SparkSession, tracer: Tracer): TraceResult
  /** Named checks that are not tied to a single op (references, caches). */
  def checks: Seq[(String, Boolean, String)]
  /** Workload facts for the result file. */
  def facts: Map[String, Any]
}

/** Benchmark process: sets up (several times, for a steady `setup_s`),
  * runs timed passes for the requested seconds, optionally a traced pass,
  * and writes one result file that `run.py` turns into the report.
  *
  *   PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <cacheDir>
  *             <resultFile> [key=value ...]
  */
object PerfBench {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, cacheDir, resultFile) = args.take(7)
    val opts = args.drop(7).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()

    val wl: Workload = workload match {
      case "kg_batch" => new Kg(seed, opts("pages").toLong, cacheDir, workDir)
      case "harness" => new Harness(opts("data"), workDir, cores)
      case "selftest" => new Harness(opts("data"), workDir, cores, SelfTest.queries, SelfTest.oracles)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val setupBase = (0 until SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val a = System.nanoTime()
      spark = Sessions.start(workload, cores, workDir)
      val b = System.nanoTime()
      if (i == 0) wl.prepare(spark)
      val c = System.nanoTime()
      wl.open(spark)
      ((b - a) + (System.nanoTime() - c)) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = median(setupBase) + warmS

    val ticks0 = Host.ticks()
    val timed0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    var passes = 0
    while (passes == 0 || (System.nanoTime() - timed0) / 1e9 < seconds) {
      ops ++= wl.pass(spark, passes)
      passes += 1
    }
    val timedWall = (System.nanoTime() - timed0) / 1e9
    val load = Host.load(ticks0, Host.ticks(), timedWall)
    ops ++= wl.finish(spark)

    val traceOut = if (!trace) None else {
      val tracer = new Tracer(spark, s"$workload-$seed", t0)
      val out = try Some(wl.traced(spark, tracer) -> tracer.spanRecords) finally tracer.close()
      // one more untraced pass after the traced one, so the overhead is not
      // flattered or hidden by the JIT still warming across passes
      ops ++= wl.pass(spark, passes)
      passes += 1
      out
    }

    val result = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "setup_base_s" -> setupBase, "warmup_s" -> warmS,
      "passes" -> passes, "timed_wall_s" -> timedWall,
      "ops" -> ops.map(_.toMap),
      "checks" -> wl.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "facts" -> wl.facts,
      "host" -> (Host.context(spark) ++ load),
      "peak_rss_mb" -> Host.peakRssMb)
    traceOut.foreach { case (tr, spans) =>
      result("traced_run_s") = tr.runS
      result("per_layer") = tr.metrics
      result("layer_table") = tr.table
      result("spans") = spans
    }
    spark.stop()
    Files.writeString(Paths.get(resultFile), Json.render(result))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Force every column of a frame through a sink that keeps nothing. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString}"
}

/** Session configurations: the KG workloads use `graft.Main`'s, the harness
  * uses `graft.Bench`'s. Scratch and warehouse space stay in the work dir. */
object Sessions {
  def start(workload: String, cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    val spark =
      if (!workload.startsWith("kg_")) b.config("spark.sql.shuffle.partitions", cores.toString).getOrCreate()
      else b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .withExtensions(graft.plans.GraftExtensions)
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host context recorded with every run, so a contended run is explained
  * rather than hidden. Core loads use the `/proc/stat` accounting of
  * `graft.PipelineBench`: busy = user + nice + system. */
object Host {
  def ticks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
  }

  def load(a: Array[Long], b: Array[Long], wallS: Double): Map[String, Double] = {
    def d(i: Int) = if (i < a.length && i < b.length) (b(i) - a(i)) / 100.0 / wallS else 0.0
    Map("busy_cores" -> (d(0) + d(1) + d(2)), "iowait_cores" -> d(4), "steal_cores" -> d(7))
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def context(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> spark.sparkContext.master,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))
}
