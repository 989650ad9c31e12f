package graft.perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval: benchmark job → SQL execution → Spark job → stage,
  * plus stream batches and forced `cli` stages. Times are epoch ms. */
final class Span(val id: Long, val parent: Long, val iteration: Int, val name: String,
                 val kind: String, val start: Long) {
  @volatile var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }
}

/** Listeners for the traced run only. Spans and counters stay in memory
  * and are written with the result. Events arrive on Spark's listener
  * thread; [[span]] drains the bus before it opens and before it returns,
  * so every event a benchmark job caused is attributed to that job, and
  * events outside a benchmark span are dropped. */
final class Tracer private (spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  @volatile private var current: Span = _
  private val sqlSpans = mutable.Map.empty[Long, Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  private def open(parent: Span, name: String, kind: String, start: Long): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, Option(parent).map(_.id).getOrElse(0L),
      Option(parent).map(_.iteration).getOrElse(Option(current).map(_.iteration).getOrElse(-1)),
      name, kind, start)
    spans += s
    s
  }

  /** Times `body` as a benchmark-level span of iteration `i`. */
  def span(i: Int, name: String, kind: String)(body: => Unit): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val s = synchronized { nextId += 1; new Span(nextId, 0L, i, name, kind, System.currentTimeMillis()) }
    synchronized(spans += s)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    current = s
    try body
    finally {
      s.end = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      s.add("codegen_compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
      s.add("cached_bytes", spark.sparkContext.getRDDStorageInfo
        .map(r => (r.memSize + r.diskSize).toDouble).sum)
      current = null
    }
  }

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (current != null) Tracer.this.synchronized {
      val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSpans.get(id.toLong))
      val s = open(sql.getOrElse(current), s"job ${e.jobId}", "spark_job", e.time)
      jobSpans(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).foreach { job =>
        val s = open(job, s"stage ${info.stageId}", "stage",
          info.submissionTime.getOrElse(stageSubmitted.getOrElse(info.stageId, job.start)))
        s.end = info.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { s =>
        s.add("tasks", 1)
        s.add("task_wait_ms", (e.taskInfo.launchTime - stageSubmitted.getOrElse(e.stageId,
          e.taskInfo.launchTime)).toDouble)
        Option(e.taskMetrics).foreach { m =>
          s.add("task_cpu_ns", m.executorCpuTime.toDouble)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if current != null => Tracer.this.synchronized {
        val root = x.rootExecutionId.collect { case r: Long if r != x.executionId => r }
          .flatMap(sqlSpans.get)
        sqlSpans(x.executionId) = open(root.getOrElse(current), s"sql ${x.executionId}", "sql", x.time)
      }
      case x: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlSpans.get(x.executionId).foreach(_.end = x.time)
      }
      case _ =>
    }
  }

  /** Plan-level counters land on the benchmark job span: the listener's
    * QueryExecution does not carry the SQL execution id. */
  private object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = current
      if (s != null) {
        s.add("planning_ms", Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum)
        planMetrics(qe.executedPlan).foreach { case (k, v) => s.add(k, v) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (current != null) {
        val p = e.progress
        val now = System.currentTimeMillis()
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val s = Tracer.this.synchronized(open(current, s"batch ${p.batchId}", "batch", now - ms))
        s.end = now
        s.add("state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
        s.add("state_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
        s.add("shuffle_partitions",
          p.stateOperators.map(_.numShufflePartitions.toDouble).foldLeft(0.0)(math.max))
      }
  }

  /** SQLMetrics of an executed plan, by the same AQE-aware walk as
    * `graft.tools.Metrics`: into the final adaptive plan, materialized
    * query stages and subqueries; a reused exchange counts once. */
  private def planMetrics(root: SparkPlan): Map[String, Double] = {
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case s: QueryStageExec => s +: expand(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r)
      case _ => p +: (p.children ++ p.subqueries).flatMap(expand)
    }
    val nodes = expand(root)
    def total(key: String, pick: SparkPlan => Boolean): Double = nodes.iterator.filter(pick)
      .flatMap(_.metrics.get(key).map(_.value)).filter(_ > 0).sum.toDouble
    val scan = (n: SparkPlan) => n.nodeName.toLowerCase.contains("scan")
    val join = (n: SparkPlan) => n.nodeName.contains("Join")
    // the top node that counts rows; a file write's own row count is not a result
    val result = nodes.find(n => n.metrics.contains("numOutputRows") &&
      !n.metrics.contains("numOutputBytes")).map(_.metrics("numOutputRows").value.toDouble)
      .getOrElse(0.0)
    Map("scan_files" -> total("numFiles", scan), "scan_bytes" -> total("filesSize", scan),
      "scan_rows" -> total("numOutputRows", scan),
      "join_rows_out" -> total("numOutputRows", join),
      "result_rows" -> (if (nodes.exists(join)) result else 0.0))
  }

  def stop(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def spansJson: Seq[Map[String, Any]] = synchronized(spans.toList).map(s => Map[String, Any](
    "id" -> s.id, "parent" -> s.parent, "i" -> s.iteration, "name" -> s.name,
    "kind" -> s.kind, "start" -> s.start, "end" -> s.end, "counters" -> s.counters.toMap))
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.queryListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
