package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession => ApiSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Times are epoch milliseconds with
  * sub-millisecond fractions; `parent` is the enclosing span's id. */
final case class Span(id: Long, name: String, parent: Long, start: Double,
                      end: Double, attrs: Map[String, String])

/** Span recorder for the single client thread. The id of the innermost
  * open span is published as a Spark local property, so every job the
  * thread (or a streaming thread it starts) submits can be attributed to
  * the span that was running when the job started. */
final class Spans(spark: ApiSession) {
  val LocalProp = "perfbench.span"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // ids come from the client thread and the listener bus thread
  private val nextId = new java.util.concurrent.atomic.AtomicLong()
  private val stack = mutable.Stack[Long]()
  val closed = mutable.ArrayBuffer[Span]()

  def current: Long = if (stack.isEmpty) -1L else stack.top

  def apply[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parent = current
    val t0 = nowMs
    stack.push(id)
    spark.sparkContext.setLocalProperty(LocalProp, id.toString)
    try body
    finally {
      stack.pop()
      spark.sparkContext.setLocalProperty(LocalProp,
        if (stack.isEmpty) null else stack.top.toString)
      closed.synchronized { closed += Span(id, name, parent, t0, nowMs, attrs) }
    }
  }

  def add(name: String, parent: Long, start: Double, end: Double,
          attrs: Map[String, String]): Unit = {
    val id = nextId.incrementAndGet()
    closed.synchronized { closed += Span(id, name, parent, start, end, attrs) }
  }
}

/** Per-pass aggregates of Spark's public listener events: scheduler
  * (SparkListener), SQL (QueryExecutionListener) and streaming
  * (StreamingQueryListener). Attach for a pass, `drain`, then `snapshot`.
  * Nothing here reaches into the engine's modules. */
final class Layers(spark: ApiSession, spans: Spans) {
  private val sums = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = sums.synchronized { sums(k) = sums(k) + v }

  // scheduler state
  private val jobStart = mutable.Map[Int, (Double, Long)]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageSpan = mutable.Map[Int, Long]()
  @volatile private var events = 0L
  @volatile private var jobsOpen = 0
  // streaming state
  private val runsOpen = mutable.Set[java.util.UUID]()
  private val lastState = mutable.Map[java.util.UUID, (Double, Double)]()
  val triggerMs = mutable.ArrayBuffer[Double]()
  val microbatches = mutable.ArrayBuffer[(Double, Double, String)]()
  // per query span: worst stage skew (max / median task time)
  private val spanSkew = mutable.Map[Long, Double]()

  private val lock = new Object
  private val sched: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      events += 1; jobsOpen += 1
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(spans.LocalProp)))
        .map(_.toLong).getOrElse(-1L)
      jobStart(e.jobId) = (e.time.toDouble, span)
      e.stageIds.foreach(s => stageSpan(s) = span)
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      events += 1; jobsOpen -= 1
      jobStart.remove(e.jobId).foreach { case (t0, span) =>
        spans.add("job", span, t0, e.time.toDouble, Map("job" -> e.jobId.toString))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      events += 1
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      events += 1
      add("exec.stages", 1)
      val id = e.stageInfo.stageId
      stageTasks.remove(id).filter(_.size >= 2).foreach { ds =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).max(1L)
        val skew = sorted.last.toDouble / med
        val span = stageSpan.getOrElse(id, -1L)
        spanSkew(span) = spanSkew.getOrElse(span, 0.0).max(skew)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      events += 1
      val info = e.taskInfo
      add("exec.tasks", 1)
      add("exec.task_s", info.duration / 1e3)
      stageSubmit.get(e.stageId).foreach(t => add("exec.task_wait_s", (info.launchTime - t).max(0L) / 1e3))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("tables.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("tables.input_mb", m.inputMetrics.bytesRead / 1048576.0)
      }
    }
  }

  private val sql = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events += 1
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("plan.analysis_ms", ms("analysis"))
      add("plan.optimizer_ms", ms("optimization"))
      add("plan.physical_ms", ms("planning"))
      collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }.foreach { p =>
        def metric(k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        val n = p.nodeName
        if (n.contains("Join") || n.startsWith("CartesianProduct"))
          add("op.join_rows_out", metric("numOutputRows"))
        if (n == "Generate") add("op.generate_rows_out", metric("numOutputRows"))
        if (n == "HashAggregate" || n == "ObjectHashAggregate")
          add("op.agg_build_ms", metric("aggTime"))
        if (n == "Sort") add("op.sort_ms", metric("sortTime"))
        if (n == "BroadcastExchange") {
          add("op.broadcast_build_ms", metric("buildTime"))
          add("op.broadcast_mb", metric("dataSize") / 1048576.0)
        }
        if (n.startsWith("WholeStageCodegen")) add("op.wscg_ms", metric("pipelineTime"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      events += 1
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = runsOpen.synchronized {
      events += 1; runsOpen += e.runId
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = runsOpen.synchronized {
      events += 1
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trig = d("triggerExecution")
      add("stream.batches", 1)
      if (p.numInputRows == 0) add("stream.empty_batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      add("stream.trigger_ms", trig)
      add("stream.plan_ms", d("queryPlanning"))
      add("stream.exec_ms", d("addBatch"))
      add("stream.wal_ms", d("walCommit") + d("commitOffsets"))
      add("stream.source_ms", d("latestOffset") + d("getBatch"))
      triggerMs += trig
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      microbatches += ((start, start + trig, p.batchId.toString))
      var total = 0.0; var mem = 0.0
      p.stateOperators.foreach { s =>
        total += s.numRowsTotal; mem += s.memoryUsedBytes
        add("state.rows_updated", s.numRowsUpdated.toDouble)
        add("state.commit_ms", s.commitTimeMs.toDouble)
        add("state.dropped_rows", s.numRowsDroppedByWatermark.toDouble)
      }
      lastState(p.runId) = (total, mem)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = runsOpen.synchronized {
      events += 1; runsOpen -= e.runId
    }
  }

  private var codegen0 = 0L
  private var files0 = 0L

  def attach(): Unit = {
    codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streams)
  }

  /** Wait until the asynchronous listener buses have delivered every
    * event of the pass: no job or streaming run open and no new event
    * for 250 ms (at most `maxMs`). */
  def drain(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val open = jobsOpen > 0 || runsOpen.synchronized(runsOpen.nonEmpty)
      if (events != last) { last = events; quietSince = System.currentTimeMillis() }
      else if (!open && System.currentTimeMillis() - quietSince >= 250) return
      Thread.sleep(25)
    }
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sched)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(streams)
  }

  /** The pass's aggregates, then reset. `querySpans` maps the pass's
    * build and action span ids to their query span (for the per-query
    * skew median). */
  def snapshot(querySpans: Map[Long, Long]): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]() ++ sums
    out("plan.codegen_compiles") = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0).toDouble
    out("tables.files_listed") = (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0).toDouble
    out("state.rows_total") = lastState.values.map(_._1).sum
    out("state.mem_mb") = lastState.values.map(_._2).sum / 1048576.0
    // worst-stage skew per query span (jobs attributed to build/action
    // spans roll up to their query span), median over queries
    val perQuery = mutable.Map[Long, Double]()
    spanSkew.foreach { case (span, s) =>
      querySpans.get(span).foreach(q => perQuery(q) = perQuery.getOrElse(q, 0.0).max(s))
    }
    val sk = perQuery.values.toSeq.sorted
    out("exec.task_skew") = if (sk.isEmpty) 0.0 else sk(sk.size / 2)
    sums.clear(); lastState.clear(); spanSkew.clear()
    stageSubmit.clear(); stageSpan.clear(); stageTasks.clear()
    out.toMap
  }
}
