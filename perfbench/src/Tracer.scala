package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from outside the library: the harness opens
  * spans around its own calls (pass, query, build, action, layer calls),
  * and listeners registered on the session add jobs, stages, tasks,
  * Catalyst phases and streaming batches.
  *
  * Every span and counter is filed under the current `bucket` (a pass
  * label such as "p3", or "setup", "check", "probe"). The harness drains
  * the listener bus before it changes the bucket, so an asynchronous event
  * always lands in the bucket of the work that caused it.
  *
  * Times are microseconds since the tracer was created. Harness spans use
  * the monotonic clock; listener events carry wall-clock milliseconds and
  * are mapped onto the same axis.
  */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = (System.nanoTime() - baseNs) / 1000
  private def epochUs(ms: Long): Long = (ms - baseMs) * 1000

  final class Span(val id: Int, var parent: Int, val kind: String, val name: String,
      val bucket: String, val start: Long, var end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val tasks = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val counters = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobPhase = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]

  @volatile var bucket: String = "setup"

  private def add(key: String, v: Double): Unit =
    counters.getOrElseUpdate(bucket, mutable.LinkedHashMap.empty)(key) =
      counters.getOrElseUpdate(bucket, mutable.LinkedHashMap.empty).getOrElse(key, 0.0) + v

  private def newSpan(parent: Int, kind: String, name: String, start: Long, end: Long): Span = {
    val s = new Span(spans.length, parent, kind, name, bucket, start, end)
    spans += s
    s
  }

  def open(kind: String, name: String, parent: Int = -1): Int = synchronized {
    newSpan(parent, kind, name, nowUs, -1L).id
  }

  def close(id: Int): Unit = synchronized { spans(id).end = nowUs }

  /** Time `body` as a span and return its result. */
  def span[T](kind: String, name: String, parent: Int = -1)(body: => T): T = {
    val id = open(kind, name, parent)
    try body finally close(id)
  }

  /** Deliver every queued listener event before the caller moves on. */
  def flush(): Unit = org.apache.spark.PerfbenchBus.flush(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val hint = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .flatMap(_.toIntOption).getOrElse(-1)
      val phase = props.flatMap(p => Option(p.getProperty(Tracer.PhaseProperty))).getOrElse("")
      jobSpan(e.jobId) = newSpan(hint, "job", s"job ${e.jobId}", epochUs(e.time), -1L)
      jobPhase(e.jobId) = phase
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      add("jobs", 1)
      if (phase == "build") add("build_jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach(_.end = epochUs(e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      for (sub <- info.submissionTime; done <- info.completionTime) {
        val parent = stageJob.get(info.stageId).flatMap(jobSpan.get).map(_.id).getOrElse(-1)
        newSpan(parent, "stage", s"stage ${info.stageId}", epochUs(sub), epochUs(done))
        add("stages", 1)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      tasks += ((bucket, epochUs(info.launchTime), epochUs(info.finishTime)))
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val phase = stageJob.get(e.stageId).flatMap(jobPhase.get).getOrElse("")
        add("task_ms", m.executorRunTime.toDouble)
        if (phase == "action") add("action_task_ms", m.executorRunTime.toDouble)
        add("deser_ms", m.executorDeserializeTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      }
    }
  }

  private val executionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        add(s"catalyst_${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
      add("catalyst_executions", 1)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamingListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = epochUs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val trigger = d.getOrElse("triggerExecution", p.batchDuration)
        newSpan(-1, "batch", s"${p.name} batch ${p.batchId}", start, start + trigger * 1000)
        val state = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
        batches += Map(
          "bucket" -> bucket,
          "batch_ms" -> p.batchDuration,
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "plan_ms" -> d.getOrElse("queryPlanning", 0L),
          "commit_ms" -> (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
          "state_commit_ms" -> state.map(_.commitTimeMs).sum,
          "state_rows" -> state.map(_.numRowsTotal).sum,
          "input_rows" -> p.numInputRows)
      }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamingListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    flush()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamingListener)
    attached = false
  }

  /** Parent listener spans onto the harness spans they ran inside. A job
    * keeps the span named in its local properties when it started inside
    * that span's window (a thread pool can carry a stale property); other
    * jobs and streaming batches go to the innermost harness span whose
    * window holds their start. */
  private def resolveParents(): Unit = {
    val harness = spans.filter(s => Tracer.HarnessKinds(s.kind) && s.end >= 0)
    def inside(s: Span, t: Long) = s.start - 1000 <= t && t <= s.end + 1000
    def byTime(t: Long): Int = {
      val holding = harness.filter(s => s.kind != "pass" && inside(s, t))
      if (holding.isEmpty) -1 else holding.maxBy(_.start).id
    }
    spans.foreach { s =>
      if (s.kind == "job") {
        val keep = s.parent >= 0 && inside(spans(s.parent), s.start)
        if (!keep) s.parent = byTime(s.start)
        if (s.end < 0) s.end = s.start
      } else if (s.kind == "batch") s.parent = byTime(s.start)
    }
  }

  def result(): Map[String, Any] = synchronized {
    resolveParents()
    Map(
      "spans" -> spans.map(s => Seq(s.id, s.parent, s.kind, s.name, s.bucket, s.start, s.end)),
      "tasks" -> tasks.map { case (b, s, e) => Seq(b, s, e) },
      "batches" -> batches,
      "counters" -> counters)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val PhaseProperty = "perfbench.phase"
  private val HarnessKinds = Set("pass", "query", "build", "action", "check", "setup", "layer")
}
