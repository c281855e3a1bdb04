package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what a run did. Operations (the closed-loop client's units of
  * work) are always timed. In a traced run it also keeps spans around
  * every call into an engine module and registers Spark's public
  * listeners (scheduler, query execution, streaming); each job is
  * attributed to the innermost open span through a local property set
  * before the call. Everything stays in memory until [[result]].
  * Times are seconds since the recorder was created.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e9
  private def fromEpochMs(ms: Long): Double = (ms - epochMs0) / 1e3

  val ops = ArrayBuffer.empty[Op]
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1
  private val SpanKey = "perfbench.span"

  private def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      currentOp, now)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = now
    stack = stack.tail
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** A span around one call into an engine module (traced runs only). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  /** One operation of the closed loop. A throw marks it failed and is
    * swallowed so the loop goes on; the failure is counted in the result.
    */
  def op(name: String, kind: String, pass: Int)(body: Op => Unit): Op = {
    val o = Op(ops.size, name, kind, pass, now)
    ops += o
    currentOp = o.id
    val s = if (traced) open(s"op:$kind") else null
    try body(o)
    catch {
      case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        System.err.println(s"[perfbench] op $name failed: ${o.error}")
    } finally {
      if (s != null) close(s)
      o.end = now
      currentOp = -1
    }
    o
  }

  /** Mark an operation failed by an output check run after it. */
  def fail(o: Op, why: String): Unit = {
    o.ok = false
    o.error = if (o.error == null) why else o.error + "; " + why
    System.err.println(s"[perfbench] check failed for ${o.name}: $why")
  }

  // ---- listeners (traced runs) -------------------------------------------

  private val jobs = ArrayBuffer.empty[collection.mutable.Map[String, Any]]
  private val jobById = collection.mutable.Map.empty[Int, collection.mutable.Map[String, Any]]
  private val stageSpan = collection.mutable.Map.empty[Int, Int]
  private val taskTimes = collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val queries = ArrayBuffer.empty[Map[String, Any]]
  private val progress = ArrayBuffer.empty[Map[String, Any]]

  private object Scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val j = collection.mutable.LinkedHashMap[String, Any](
        "id" -> e.jobId, "start" -> fromEpochMs(e.time), "end" -> -1.0,
        "span" -> span, "stages" -> e.stageIds.size)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageSpan(s) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobById.get(e.jobId).foreach(_("end") = fromEpochMs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val times = taskTimes.remove((i.stageId, i.attemptNumber())).getOrElse(ArrayBuffer.empty)
      val mean = if (times.isEmpty) 0.0 else times.sum.toDouble / times.size
      val base = Map[String, Any](
        "id" -> i.stageId, "span" -> stageSpan.getOrElse(i.stageId, -1),
        "t" -> i.completionTime.map(fromEpochMs).getOrElse(now),
        "tasks" -> i.numTasks,
        "skew" -> (if (times.size > 1 && mean > 0) times.max / mean else 1.0))
      stages += (if (m == null) base else base ++ Map(
        "run_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "output" -> m.outputMetrics.bytesWritten))
    }
  }

  private object Queries extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Map[String, Any] =
      qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }.toMap +
        ("t" -> now)
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
      queries += phases(qe)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = synchronized {
      queries += phases(qe)
    }
  }

  private object Streaming extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
      progress += Map[String, Any](
        "t" -> fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
        "durations" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_s" -> p.stateOperators.map(_.commitTimeMs).sum / 1e3)
    }
  }

  def install(): Unit = if (traced) {
    sc.addSparkListener(Scheduler)
    spark.listenerManager.register(Queries)
    spark.streams.addListener(Streaming)
  }

  // ---- per-pass process counters ----------------------------------------

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
  private def jitSeconds: Double = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime / 1e3

  def counters(): Map[String, Double] = Map(
    "t" -> now,
    "cpu_s" -> os.getProcessCpuTime / 1e9,
    "gc_s" -> gcSeconds,
    "jit_s" -> jitSeconds,
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_mean_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean)

  val passes = ArrayBuffer.empty[collection.mutable.Map[String, Any]]

  def pass(i: Int)(body: => Unit): Unit = {
    val before = counters()
    body
    if (traced) org.apache.spark.perfbench.Bus.drain(sc)
    passes += collection.mutable.LinkedHashMap[String, Any](
      "pass" -> i, "before" -> before, "after" -> counters())
  }

  def drain(): Unit = if (traced) org.apache.spark.perfbench.Bus.drain(sc)

  def result: Map[String, Any] = synchronized {
    Map(
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name, "kind" -> o.kind,
        "pass" -> o.pass, "start" -> o.start, "end" -> o.end, "ok" -> o.ok,
        "error" -> o.error, "info" -> o.info)),
      "passes" -> passes,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs,
      "stages" -> stages,
      "queries" -> queries,
      "progress" -> progress)
  }
}

object Recorder {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Double, var end: Double = -1)
  final case class Op(id: Int, name: String, kind: String, pass: Int,
                      start: Double, var end: Double = -1,
                      var ok: Boolean = true, var error: String = null,
                      info: collection.mutable.Map[String, Any] =
                        collection.mutable.LinkedHashMap.empty)
}
