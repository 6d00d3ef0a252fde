package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call from the harness into a module. Times are epoch
  * milliseconds, so they compare with Spark's event times. */
final class Span(val id: Long, val layer: String, val name: String, val parent: Long,
                 val op: Long, val phase: String, val start: Double) {
  var end: Double = start
  def dur: Double = end - start
}

/** Task-level counters summed over one Spark job. */
final class JobRec(val id: Int, val span: Long, val streaming: Boolean,
                   val callSite: String, val start: Double) {
  var end: Double = start
  var stages, tasks, failedTasks, usefulTasks, scanTasks = 0L
  var runS, schedS, gcS = 0.0
  var scanRows, scanBytes, writeBytes, shuffleW, shuffleR, spill, peakMem = 0L

  /** The eager-action kind named by Spark's short call site. */
  def kind: String = {
    val c = callSite.takeWhile(_ != ' ')
    if (c.contains("heckpoint")) "checkpoint"
    else if (Set("count", "cache", "persist").contains(c)) "materialize"
    else if (Set("collect", "take", "first", "head", "toLocalIterator", "collectAsList",
        "isEmpty", "reduce", "fold", "aggregate").contains(c)) "collect"
    else if (Set("parquet", "save", "csv", "json", "orc", "text", "insertInto",
        "saveAsTable", "runJob").contains(c)) "write"
    else "other"
  }
}

/** Per-op figures that come from query executions and stream progress. */
final class OpRec {
  var analyzeS, optimizeS, physicalS = 0.0
  var filesRead = 0L
  var cachedBytesLeft = 0L
}

/** The traced run's recorder. Spans are opened by the harness around
  * each call into a module; a local property carries the innermost
  * span's id into the jobs the call launches, and a SparkListener
  * attributes jobs, stages and tasks to that span. Everything stays in
  * memory until [[write]]. With tracing off, [[span]] only runs its
  * body. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._
  private val sc = spark.sparkContext
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val ops = scala.collection.concurrent.TrieMap.empty[Long, OpRec]
  val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long], Long)]
  private val codegenFailures = new java.util.concurrent.atomic.AtomicLong()
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var stack: List[Span] = Nil
  private var nextId = 0L
  @volatile private var curOp = 0L
  @volatile private var streamSpan = 0L
  var phase = "setup"

  /** Run `body` as a span of `layer`; a span of layer "op" starts a
    * new op, which later events are attributed to. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    if (layer == "op") { curOp = nextId; ops(nextId) = new OpRec }
    val s = new Span(nextId, layer, name, parent, curOp, phase, now)
    spans += s
    stack ::= s
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    if (layer == "streaming") streamSpan = s.id
    try body
    finally {
      s.end = now
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
      if (layer == "streaming") streamSpan = 0L
      if (layer == "op") {
        org.apache.spark.perfbench.Bus.drain(sc)
        curOp = 0L
      }
    }
  }

  /** Record a span of `seconds` that ended now, for work that ran
    * before the trace existed. */
  def record(layer: String, name: String, seconds: Double): Unit = if (on) {
    nextId += 1
    val s = new Span(nextId, layer, name, 0L, 0L, phase, now - seconds * 1e3)
    s.end = now
    spans += s
  }

  /** Add the SQL phase times of a query execution that ran outside a
    * listened action to the current op. */
  def addPhases(qe: QueryExecution): Unit = if (on) ops.get(curOp).foreach(addQe(_, qe))

  def noteCachedBytes(bytes: Long): Unit = if (on) ops.get(curOp).foreach(_.cachedBytesLeft += bytes)

  private def addQe(r: OpRec, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def s(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    r.analyzeS += s("analysis"); r.optimizeS += s("optimization"); r.physicalS += s("planning")
    r.filesRead += Consume.nodes(qe.executedPlan)
      .filter(_.children.isEmpty).flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val streaming = prop("sql.streaming.queryId").isDefined
      // a stream's thread inherited the span that started the query, so
      // its jobs go to the span now waiting on the stream
      val span = if (streaming) streamSpan else prop(SpanKey).map(_.toLong).getOrElse(0L)
      // a job's call site is its result stage's name ("count at X.scala:12")
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs(e.jobId) = new JobRec(e.jobId, span, streaming, site, e.time.toDouble)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        val i = e.taskInfo
        j.tasks += 1
        if (!i.successful) j.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          val in = m.inputMetrics; val out = m.outputMetrics
          val sw = m.shuffleWriteMetrics; val sr = m.shuffleReadMetrics
          val dur = (i.finishTime - i.launchTime).toDouble
          j.runS += m.executorRunTime / 1e3
          j.schedS += math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime) / 1e3
          j.gcS += m.jvmGCTime / 1e3
          j.scanRows += in.recordsRead; j.scanBytes += in.bytesRead
          if (in.recordsRead > 0 || in.bytesRead > 0) j.scanTasks += 1
          j.writeBytes += out.bytesWritten
          j.shuffleW += sw.bytesWritten; j.shuffleR += sr.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
          if (in.recordsRead + out.recordsWritten + sw.recordsWritten + sr.recordsRead > 0)
            j.usefulTasks += 1
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      ops.get(curOp).foreach(addQe(_, qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        val m = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
        progress.synchronized { progress += ((curOp, m, p.numInputRows)) }
      }
    }
  }

  /** Counts codegen compile failures: a failed compile is logged by
    * CodeGenerator, and whole-stage codegen then falls back to the
    * interpreted path for the stage. */
  private val appender = new AbstractAppender("perfbench", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val logger = Option(e.getLoggerName).getOrElse("")
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if ((logger.endsWith("CodeGenerator") && e.getLevel.isMoreSpecificThan(Level.ERROR)) ||
          (logger.endsWith("WholeStageCodegenExec") && msg.contains("disabled")))
        codegenFailures.incrementAndGet()
    }
  }

  if (on) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender("perfbench")
    ctx.updateLoggers()
  }

  /** Per-layer metrics over the measured phase. Sums are per completed
    * pass of the op list, so a faster commit that completes more passes
    * in the same run length still compares like for like. */
  def layerMetrics(passes: Int, wallS: Double, cores: Int): Map[String, Double] = {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    val measuredOps = spans.filter(s => s.layer == "op" && s.phase == "measure")
    val opIds = measuredOps.map(_.id).toSet
    val inMeasure = (s: Span) => opIds(s.op)
    val mStart = measuredOps.headOption.map(_.start).getOrElse(0.0)
    val mEnd = measuredOps.lastOption.map(_.end).getOrElse(0.0)
    val mJobs = jobs.values.filter(j =>
      byId.get(j.span).map(inMeasure).getOrElse(j.start >= mStart && j.start <= mEnd)).toSeq
    val attributed = mJobs.filter(j => byId.contains(j.span))
    val n = math.max(passes, 1).toDouble
    def per(x: Double) = x / n
    def covered(s: Span, js: Iterable[JobRec]): Double = union(
      js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(iv => iv._2 > iv._1))
    val spanJobs = attributed.groupBy(_.span)
    def sumSpans(layer: String, phaseName: String) =
      spans.filter(s => s.layer == layer && s.phase == phaseName).map(_.dur).sum / 1e3
    val eager = attributed.filter(j => !j.streaming && byId(j.span).layer != "exec")
    val mOps = ops.filter { case (id, _) => opIds(id) }.values
    val prog = progress.filter(p => opIds(p._1))
    def progMed(k: String) = median(prog.map(_._2.getOrElse(k, 0L).toDouble).toSeq)
    val base = Map(
      "session.start_s" -> sumSpans("session", "start"),
      "session.warmup_s" -> sumSpans("session", "warmup"),
      "session.seal_s" -> sumSpans("session", "seal"),
      "operators.build_s" -> spans.filter(s => s.layer == "operators" && s.phase == "build")
        .map(_.dur).sum / 1e3,
      "core.build_s" -> per(spans.filter(s => s.layer == "core" && inMeasure(s)).map { s =>
        s.dur - covered(s, spanJobs.getOrElse(s.id, Nil)) }.sum / 1e3),
      "sql.analyze_s" -> per(mOps.map(_.analyzeS).sum),
      "sql.optimize_s" -> per(mOps.map(_.optimizeS).sum),
      "sql.physical_s" -> per(mOps.map(_.physicalS).sum),
      "sources.scan_rows" -> per(mJobs.map(_.scanRows).sum.toDouble),
      "sources.scan_bytes" -> per(mJobs.map(_.scanBytes).sum.toDouble),
      "sources.scan_tasks" -> per(mJobs.map(_.scanTasks).sum.toDouble),
      "sources.files_read" -> per(mOps.map(_.filesRead).sum.toDouble),
      "sources.write_bytes" -> per(mJobs.map(_.writeBytes).sum.toDouble),
      "sources.write_s" -> per(mJobs.filter(_.kind == "write").map(j => j.end - j.start).sum / 1e3),
      "operators.call_s" -> per(spans.filter(s => s.layer == "operators" && inMeasure(s))
        .map(_.dur).sum / 1e3),
      "operators.eager_jobs" -> per(eager.size.toDouble),
      "operators.eager_s" -> per(eager.map(j => j.end - j.start).sum / 1e3),
      "operators.cached_bytes_left" -> per(mOps.map(_.cachedBytesLeft).sum.toDouble),
      "streaming.trigger_ms" -> progMed("triggerExecution"),
      "streaming.add_batch_ms" -> progMed("addBatch"),
      "streaming.planning_ms" -> progMed("queryPlanning"),
      "streaming.wal_commit_ms" -> progMed("walCommit"),
      "streaming.input_rows" -> per(prog.map(_._3).sum.toDouble),
      "functions.codegen_failures" -> codegenFailures.get.toDouble,
      "exec.driver_gap_s" -> per(measuredOps.map { o =>
        o.dur - covered(o, mJobs.filter(j => byId.get(j.span).exists(_.op == o.id))) }.sum / 1e3),
      "exec.sched_delay_s" -> per(mJobs.map(_.schedS).sum),
      "exec.jobs" -> per(mJobs.size.toDouble),
      "exec.stages" -> per(mJobs.map(_.stages).sum.toDouble),
      "exec.tasks" -> per(mJobs.map(_.tasks).sum.toDouble),
      "exec.useful_task_ratio" -> ratio(mJobs.map(_.usefulTasks).sum, mJobs.map(_.tasks).sum),
      "exec.task_s" -> per(mJobs.map(_.runS).sum),
      "exec.core_util" -> (if (wallS > 0) mJobs.map(_.runS).sum / (wallS * cores) else 0.0),
      "exec.shuffle_write_bytes" -> per(mJobs.map(_.shuffleW).sum.toDouble),
      "exec.shuffle_read_bytes" -> per(mJobs.map(_.shuffleR).sum.toDouble),
      "exec.spill_bytes" -> per(mJobs.map(_.spill).sum.toDouble),
      "exec.peak_exec_mem_bytes" -> (0L +: mJobs.map(_.peakMem)).max.toDouble,
      "exec.gc_s" -> per(mJobs.map(_.gcS).sum),
      "exec.failed_tasks" -> mJobs.map(_.failedTasks).sum.toDouble,
      "exec.unattributed_jobs" -> (mJobs.size - attributed.size).toDouble)
    val kinds = Seq("checkpoint", "materialize", "collect", "write", "other")
    base ++ kinds.flatMap { k =>
      val js = eager.filter(_.kind == k)
      Seq(s"operators.eager_jobs.$k" -> per(js.size.toDouble),
        s"operators.eager_s.$k" -> per(js.map(j => j.end - j.start).sum / 1e3))
    }
  }

  /** Spans, jobs and per-op figures as JSON, for the layer report. */
  def write(path: String, meta: Map[String, Any]): Unit = {
    val js = Json.obj(meta ++ Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "phase" -> s.phase, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span, "streaming" -> j.streaming,
        "kind" -> j.kind, "call_site" -> j.callSite, "start" -> j.start, "end" -> j.end,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_s" -> j.runS, "sched_s" -> j.schedS,
        "scan_rows" -> j.scanRows, "scan_bytes" -> j.scanBytes, "write_bytes" -> j.writeBytes,
        "shuffle_write_bytes" -> j.shuffleW, "shuffle_read_bytes" -> j.shuffleR,
        "spill_bytes" -> j.spill, "failed_tasks" -> j.failedTasks)),
      "ops" -> ops.map { case (id, r) => Map("op" -> id, "analyze_s" -> r.analyzeS,
        "optimize_s" -> r.optimizeS, "physical_s" -> r.physicalS, "files_read" -> r.filesRead,
        "cached_bytes_left" -> r.cachedBytesLeft) },
      "streaming" -> progress.map(p => Map("op" -> p._1, "input_rows" -> p._3, "duration_ms" -> p._2))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      js.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Length of the union of intervals. */
  def union(ivs: Iterable[(Double, Double)]): Double = {
    var total, reach = 0.0
    var first = true
    ivs.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (first || a > reach) { total += b - a; reach = b; first = false }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, as numpy computes it by default. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
}

/** Minimal JSON writer for the harness's own records. */
object Json {
  def obj(m: Iterable[(String, Any)]): String =
    m.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case o => quote(o.toString)
  }
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
