package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of work inside an operation, in epoch milliseconds. Kinds,
  * outermost first: op, stream (a streaming query), batch (a micro-batch),
  * sql (an SQL execution), then plan (a planning phase) and job, and stage.
  */
final case class Span(id: Int, kind: String, name: String, start: Long, end: Long,
    var parent: Int = -1) {
  def dur: Long = math.max(0L, end - start)
}

/** Everything the listeners saw during one traced operation. `selfMs`
  * splits the operation's wall time among its spans; `spanSelfMs` is the
  * sum over spans of each span's duration minus the union of its
  * children's intervals.
  */
final case class OpTrace(
    spans: Vector[Span],
    selfMs: Map[Int, Double],
    spanSelfMs: Double,
    counts: Map[String, Double],
    stageSkews: Vector[Double],
    jobIntervals: Map[String, Vector[(Long, Long)]])

/** Spans and counters for traced operations, taken from a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener. Events are kept
  * only while tracing, buffered in memory, and each operation's events are
  * summarised when it ends.
  *
  * The operation's span id travels as the Spark local property
  * [[Tracer.SpanProp]]; threads the engine starts inherit it, so every job
  * an operation submits carries it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => events.add(s)
      case s: SparkListenerSQLExecutionEnd => events.add(s)
      case _ => ()
    }
  }

  private var opId = 0
  private var opStart = 0L

  def attach(): Unit = if (!active) {
    sc.addSparkListener(sparkListener)
    active = true
  }

  def detach(): Unit = if (active) {
    BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    active = false
    events.clear()
  }

  /** Starts an operation span; events from before it are dropped. */
  def begin(): Unit = {
    BenchBus.drain(sc)
    events.clear()
    opId += 1
    sc.setLocalProperty(SpanProp, opId.toString)
    opStart = System.currentTimeMillis()
  }

  /** Ends the operation span and summarises its events. */
  def end(name: String): OpTrace = {
    val opEnd = System.currentTimeMillis()
    sc.setLocalProperty(SpanProp, null)
    BenchBus.drain(sc)
    val evs = Iterator.continually(events.poll()).takeWhile(_ != null).toVector
    summarise(name, opStart, opEnd, evs)
  }

  private def summarise(name: String, opStart: Long, opEnd: Long, evs: Vector[AnyRef]): OpTrace = {
    val spans = mutable.ArrayBuffer(Span(0, "op", name, opStart, opEnd))
    def add(kind: String, n: String, s: Long, e: Long): Span = {
      val sp = Span(spans.size, kind, n, s, math.max(s, e))
      spans += sp
      sp
    }
    val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    // jobs that carry this operation's span id (or none: a job submitted
    // from a thread that did not inherit local properties)
    val mine = evs.collect { case j: SparkListenerJobStart
      if Option(j.properties).flatMap(p => Option(p.getProperty(SpanProp))).forall(_ == opId.toString) => j }
    val jobEnds = evs.collect { case j: SparkListenerJobEnd => j.jobId -> j.time }.toMap
    val jobOfStage = mine.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val jobIntervals = mutable.Map.empty[String, Vector[(Long, Long)]].withDefaultValue(Vector.empty)

    // SQL executions and the jobs they own
    val sqlStarts = evs.collect { case s: SparkListenerSQLExecutionStart => s }.sortBy(_.executionId)
    val sqlEnd = evs.collect { case s: SparkListenerSQLExecutionEnd => s.executionId -> s.time }.toMap
    val sqlSpan = sqlStarts.map { s =>
      s.executionId -> add("sql", s"execution ${s.executionId}", s.time, sqlEnd.getOrElse(s.executionId, opEnd))
    }.toMap
    // an execution nested in another (a write inside a micro-batch's sink)
    // is a child of its root execution
    sqlStarts.foreach { s =>
      s.rootExecutionId.filter(_ != s.executionId).flatMap(sqlSpan.get)
        .foreach(root => sqlSpan(s.executionId).parent = root.id)
    }
    counts("sql_executions") = sqlSpan.size.toDouble

    val jobSpan = mine.map { j =>
      val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val sp = add("job", if (desc.isEmpty) s"job ${j.jobId}" else desc, j.time, jobEnds.getOrElse(j.jobId, opEnd))
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).flatMap(sqlSpan.get).foreach(p => sp.parent = p.id)
      if (desc.nonEmpty) jobIntervals(desc) = jobIntervals(desc) :+ (sp.start -> sp.end)
      j.jobId -> sp
    }.toMap
    counts("jobs") = jobSpan.size.toDouble

    val stages = evs.collect { case s: SparkListenerStageCompleted
      if jobOfStage.contains(s.stageInfo.stageId) => s.stageInfo }
    stages.foreach { st =>
      val s = st.submissionTime.getOrElse(opStart)
      val sp = add("stage", s"stage ${st.stageId}.${st.attemptNumber()}", s, st.completionTime.getOrElse(s))
      jobSpan.get(jobOfStage(st.stageId)).foreach(p => sp.parent = p.id)
    }
    counts("stages") = stages.size.toDouble

    val tasks = evs.collect { case t: SparkListenerTaskEnd if jobOfStage.contains(t.stageId) => t }
    counts("tasks") = tasks.size.toDouble
    tasks.foreach { t =>
      if (t.reason != org.apache.spark.Success) counts("tasks_failed") += 1
      val m = t.taskMetrics
      if (m != null) {
        counts("task_s") += m.executorRunTime / 1e3
        counts("cpu_s") += m.executorCpuTime / 1e9
        counts("gc_s") += m.jvmGCTime / 1e3
        counts("input_bytes") += m.inputMetrics.bytesRead.toDouble
        counts("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        counts("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
        counts("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        counts("output_bytes") += m.outputMetrics.bytesWritten.toDouble
      }
    }
    val stageSkews = tasks.groupBy(t => (t.stageId, t.stageAttemptId)).values.toVector.flatMap { ts =>
      val d = ts.map(_.taskInfo.duration.toDouble).sorted
      val med = d(d.size / 2)
      if (d.size >= 2 && med > 0) Some(d.last / med) else None
    }

    // planning phases of every query execution
    evs.collect { case p: Planned => p }.foreach { p =>
      counts("executions") += 1
      Seq("analysis" -> "analysis_s", "optimization" -> "optimizer_s", "planning" -> "physical_s").foreach {
        case (phase, key) => p.phases.get(phase).foreach { case (s, e) =>
          counts(key) += (e - s) / 1e3
          add("plan", phase, s, e)
        }
      }
    }

    // streaming queries and their micro-batches
    val starts = evs.collect { case s: StreamStart => s }
    val progress = evs.collect { case p: StreamingQueryListener.QueryProgressEvent => p.progress }
    starts.foreach { s =>
      val mineP = progress.filter(_.id.toString == s.id)
      val batches = mineP.map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
        counts("batches") += 1
        counts("batch_planning_s") += d("queryPlanning") / 1e3
        counts("add_batch_s") += d("addBatch") / 1e3
        counts("commit_s") += (d("walCommit") + d("commitOffsets")) / 1e3
        val bs = parseTs(p.timestamp)
        add("batch", s"batch ${p.batchId}", bs, bs + d("triggerExecution"))
      }
      counts("drains") += 1
      mineP.lastOption.foreach(p => counts("state_rows") += p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      batches.headOption.foreach(b => counts("stream_start_s") += (b.start - opStart) / 1e3)
      val last = batches.map(_.end).maxOption.getOrElse(s.time)
      counts("post_drain_s") += math.max(0L, opEnd - last) / 1e3
      add("stream", s"stream ${s.id.take(8)}", s.time, last)
    }

    // parents by containment where no explicit link exists: the tightest
    // enclosing span of an outer kind, else the operation
    val all = spans.toVector
    all.tail.foreach { sp =>
      if (sp.parent < 0) {
        val lvl = Level(sp.kind)
        sp.parent = all.filter(p => Level(p.kind) < lvl && p.start <= sp.start && sp.end <= p.end)
          .sortBy(p => (p.dur, -Level(p.kind))).headOption.map(_.id).getOrElse(0)
      }
    }
    // attribution of the wall time: every instant of the operation goes to
    // the innermost spans running then, split evenly when several run at
    // once (Medallion's concurrent writes)
    val parentOf = all.map(sp => sp.id -> sp.parent).toMap
    def ancestors(id: Int): Set[Int] =
      Iterator.iterate(parentOf(id))(parentOf.getOrElse(_, -1)).takeWhile(_ >= 0).toSet
    val ancestorSets = all.map(sp => sp.id -> (if (sp.id == 0) Set.empty[Int] else ancestors(sp.id))).toMap
    val cuts = (all.flatMap(sp => Seq(sp.start, sp.end)) ++ Seq(opStart, opEnd))
      .filter(t => t >= opStart && t <= opEnd).distinct.sorted
    val selfMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val active = all.filter(sp => sp.start <= a && b <= sp.end)
      val inner = active.map(_.id).toSet -- active.flatMap(sp => ancestorSets(sp.id))
      inner.foreach(id => selfMs(id) += (b - a).toDouble / inner.size)
    }
    // self time of each span: its duration minus the union of its
    // children's intervals (within it). Summed over the operation's spans it
    // equals the operation's wall time only when children nest inside their
    // parents without overlapping: concurrent children and children that
    // run past their parent push the sum above it
    val children = all.tail.groupBy(_.parent)
    val spanSelfMs = all.map(sp => sp.dur - unionMs(children.getOrElse(sp.id, Vector.empty)
      .map(c => (math.max(c.start, sp.start), math.min(c.end, sp.end))))).sum.toDouble
    counts("driver_gap_s") = (opEnd - opStart - unionMs(jobSpan.values.toVector.map(s =>
      (math.max(s.start, opStart), math.min(s.end, opEnd))))) / 1e3
    OpTrace(all, all.map(sp => sp.id -> selfMs(sp.id)).toMap, spanSelfMs, counts.toMap, stageSkews, jobIntervals.toMap)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Events of the traced operation in progress, from every listener. */
  private val events = new ConcurrentLinkedQueue[AnyRef]()
  @volatile private var active = false

  private def offer(e: AnyRef): Unit = if (active) events.add(e)

  /** Spark settings that give every session, including the scoped clones
    * the engine makes for streaming drains, the two session-level
    * listeners; set before the session is built.
    */
  val SessionListenerConf: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[PlanningListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)

  /** Planning phases of every query execution, from `QueryExecution.tracker`. */
  final class PlanningListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      offer(Planned(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }))
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Starts and micro-batch progress of streaming queries. */
  final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      offer(StreamStart(e.id.toString, parseTs(e.timestamp)))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = offer(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val Level = Map("op" -> 0, "stream" -> 1, "batch" -> 2, "sql" -> 3, "plan" -> 4,
    "job" -> 4, "stage" -> 5)

  private final case class Planned(phases: Map[String, (Long, Long)])
  private final case class StreamStart(id: String, time: Long)

  private def parseTs(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli catch { case _: Exception => System.currentTimeMillis() }

  /** Milliseconds covered by the union of the intervals. */
  def unionMs(iv: Vector[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
