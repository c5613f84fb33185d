package perfbench

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark work attributed to one span (one job group). */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  /** Size of the files the span's scans read (the scan node's metric:
    * task input bytes miss reads made off the task thread). */
  var scanBytes = 0L
  var inputRecords = 0L
  var exchanges = 0L
  var reusedExchanges = 0L
  var joinRows = 0L
  /** Shuffle records read by each task, per stage: the skew probe. */
  val shuffleReadByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median shuffle records read per task, over the stage that read
    * the most records (1.0 = perfectly even). */
  def skew: Double =
    if (shuffleReadByStage.isEmpty) 0.0
    else {
      val tasks = shuffleReadByStage.values.maxBy(_.sum).sorted
      val med = tasks((tasks.length - 1) / 2)
      if (med == 0) 0.0 else tasks.last.toDouble / med
    }
}

/** Listener the benchmark owns: attributes jobs and tasks to the job group of
  * the span that submitted them, and reads exchange, reused-exchange and join
  * row counts from each finished query's final (AQE) plan. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val work = mutable.Map.empty[String, SparkWork]
  private val stageGroup = mutable.Map.empty[Int, String]
  /** Job group of the span open on the driver; query-end callbacks arrive
    * on the listener bus, which each span drains before it closes. */
  @volatile var current: String = null

  def of(group: String): SparkWork = synchronized(work.getOrElseUpdate(group, new SparkWork))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null) synchronized {
      of(group).jobs += 1
      e.stageIds.foreach(stageGroup(_) = group)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).filter(_ => m != null).foreach { g =>
      val w = of(g)
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.spillBytes += m.diskBytesSpilled
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.inputRecords += m.inputMetrics.recordsRead
      val read = m.shuffleReadMetrics.recordsRead
      if (read > 0)
        w.shuffleReadByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = current
    if (g != null) {
      val nodes = Recorder.planNodes(qe.executedPlan)
      synchronized {
        val w = of(g)
        w.exchanges += nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        }
        w.reusedExchanges += nodes.count(_.isInstanceOf[ReusedExchangeExec])
        w.joinRows += nodes.collect { case j: BaseJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
        w.scanBytes += nodes.collect { case s: FileSourceScanLike =>
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        }.sum
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  /** Every node of an executed plan, descending into the final AQE plan,
    * query stages and subqueries; a reused exchange is not descended, so
    * the exchange it reuses is counted once. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(planNodes)
  }
}

/** One timed region of a traced run. `layer` is the pipeline layer the span
  * is charged to ("" for structural spans); `kind` is "step" for work of the
  * traced pass itself and "probe" for the extra prefix runs that split a
  * fused stage into layers. */
final case class Span(id: Int, runId: String, name: String, layer: String, kind: String,
                      parent: Int, startNs: Long, endNs: Long, work: SparkWork) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Opens spans: each gets its own job group, so the [[Recorder]] can charge
  * Spark jobs, stages and tasks to it. Spans run on the driver thread one at
  * a time; nesting is recorded through `parent`. */
final class Tracer(spark: SparkSession, val runId: String, val t0Ns: Long) {
  val recorder = new Recorder
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  spark.sparkContext.addSparkListener(recorder)
  spark.listenerManager.register(recorder)

  def close(): Unit = {
    BusAccess.drain(spark.sparkContext)
    spark.listenerManager.unregister(recorder)
    spark.sparkContext.removeSparkListener(recorder)
  }

  def span[A](name: String, layer: String = "", kind: String = "step")(body: => A): (A, Span) = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    val group = s"perfbench-$runId-$id"
    val sc = spark.sparkContext
    val outer = recorder.current
    stack = id :: stack
    sc.setJobGroup(group, name, interruptOnCancel = false)
    recorder.current = group
    val start = System.nanoTime()
    try {
      val a = body
      val end = System.nanoTime()
      BusAccess.drain(sc)
      val s = Span(id, runId, name, layer, kind, parent, start, end, recorder.of(group))
      spans += s
      (a, s)
    } finally {
      stack = stack.tail
      recorder.current = outer
      outer match {
        case null => sc.clearJobGroup()
        case g => sc.setJobGroup(g, name, interruptOnCancel = false)
      }
    }
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("span_id" -> s.id, "run_id" -> s.runId, "name" -> s.name, "layer" -> s.layer,
      "kind" -> s.kind, "parent" -> s.parent,
      "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
      "jobs" -> s.work.jobs, "tasks" -> s.work.tasks, "task_s" -> s.work.taskMs / 1e3)
  }
}
