package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the span tree (run → op → layer call → Spark job →
  * task). Times are epoch microseconds; `parent` is the enclosing span's
  * id, -1 for the root. `join` says how a job was tied to its op: by the
  * op's local property, by the micro-batch id Spark sets, or by time. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    t0: Long, t1: Long, join: String = "") {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "t0" -> t0, "t1" -> t1, "join" -> join)
}

/** The op a traced run is executing; workload checks add counters here. */
object Current {
  @volatile var rec: OpRec = _
  def traced: Boolean = rec != null && rec.traced
  def add(k: String, v: Double): Unit = if (traced) rec.add(k, v)
  def time[T](k: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(k, (System.nanoTime() - t0) / 1e6)
  }
}

/** Per-layer recorder for the traced phase: Spark's public listeners
  * (jobs, stages, tasks; query executions; streaming progress), the
  * codegen metric registry, GC beans and the traced Kinesis provider's
  * probes. Events are buffered by the listener thread and attributed to
  * the op in flight once the bus is settled after the op. */
final class Tracer(spark: SparkSession) {
  val OpProperty = "graftbench.op"
  private val BatchProperty = "streaming.sql.batchId"

  private final case class JobEv(id: Int, t0: Long, tag: Option[String],
      batch: Option[String], stages: Seq[Int])
  private val jobStarts = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stagesDone = new java.util.concurrent.atomic.AtomicInteger()
  private val tasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
  private val execs = new ConcurrentLinkedQueue[QueryExecution]()
  private val progress =
    new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int] // job → index in spans
  private val openJobs = mutable.Map.empty[Int, JobEv]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private def newId(): Long = { nextId += 1; nextId }
  val rootId = 1L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobStarts.add(JobEv(e.jobId, e.time * 1000L,
        p.flatMap(x => Option(x.getProperty(OpProperty))),
        p.flatMap(x => Option(x.getProperty(BatchProperty))), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add((e.jobId, e.time * 1000L))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.add(e)
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      execs.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      execs.add(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var runT0 = -1L

  /** Attaches the listeners and probes (traced cycles alternate with
    * untraced ones, so the report can state the tracing overhead). */
  def resume(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    SourceProbe.active = true
    if (runT0 < 0) runT0 = Probe.epochNs() / 1000L
  }

  def pause(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    SourceProbe.active = false
  }

  /** The root span, once the timed phase is over. */
  def finish(): Unit =
    spans += Span(rootId, -1L, "run", "timed-phase", runT0, Probe.epochNs() / 1000L)

  def settle(): Unit = org.apache.spark.graftbench.Bus.settle(spark.sparkContext)

  // per-op snapshots
  private var cg0 = 0L; private var cgNs0 = 0L
  private var gc0 = (0L, 0L)
  private var src0 = Map.empty[String, Long]
  private var opT0 = 0L
  private var opSpan = 0L

  def opStart(rec: OpRec): Unit = {
    spark.sparkContext.setLocalProperty(OpProperty, rec.id.toString)
    cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cgNs0 = CodeGenerator.compileTime
    gc0 = Probe.gc()
    src0 = SourceProbe.snapshot()
    opSpan = newId()
    opT0 = Probe.epochNs() / 1000L
  }

  /** Called after the op's clock stopped: settle delivery, then charge
    * every buffered event to this op. */
  def opEnd(rec: OpRec, layer: String): Unit = {
    val opT1 = Probe.epochNs() / 1000L
    spark.sparkContext.setLocalProperty(OpProperty, null)
    settle()
    spans += Span(opSpan, rootId, "op", rec.kind, opT0, opT1)
    val layerSpan = newId()
    spans += Span(layerSpan, opSpan, "layer", layer, opT0, opT1)

    rec.add("codegen.compiles",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble)
    rec.add("codegen.compile_ms", (CodeGenerator.compileTime - cgNs0) / 1e6)
    val gc1 = Probe.gc()
    rec.add("jvm.gc_count", (gc1._1 - gc0._1).toDouble)
    rec.add("jvm.gc_ms", (gc1._2 - gc0._2).toDouble)
    val src1 = SourceProbe.snapshot()
    src1.foreach { case (k, v) =>
      val d = v - src0.getOrElse(k, 0L)
      if (k.endsWith("_ns")) rec.add("sources." + k.stripSuffix("_ns") + "_ms", d / 1e6)
      else rec.add("sources." + k, d.toDouble)
    }
    SourceProbe.drainSpans().foreach { case (name, t0, t1) =>
      spans += Span(newId(), layerSpan, "source", name, t0, t1)
    }

    var ev = jobStarts.poll()
    while (ev != null) {
      val join =
        if (ev.tag.contains(rec.id.toString)) "op-property"
        else if (ev.batch.isDefined) "batch-id"
        else "time"
      openJobs(ev.id) = ev
      ev.stages.foreach(s => stageJob(s) = ev.id)
      rec.add("spark.jobs", 1)
      jobSpan(ev.id) = spans.size
      spans += Span(newId(), layerSpan, "job", s"job ${ev.id}", ev.t0, ev.t0, join)
      ev = jobStarts.poll()
    }
    var je = jobEnds.poll()
    while (je != null) {
      openJobs.remove(je._1).foreach { j =>
        val i = jobSpan(j.id)
        spans(i) = spans(i).copy(t1 = je._2)
        rec.add("spark.job_ms", (je._2 - j.t0) / 1000.0)
      }
      je = jobEnds.poll()
    }
    rec.add("spark.stages", stagesDone.getAndSet(0).toDouble)
    var t = tasks.poll()
    while (t != null) {
      rec.add("spark.tasks", 1)
      val info = t.taskInfo
      val m = t.taskMetrics
      val dur = info.finishTime - info.launchTime
      if (m != null) {
        rec.add("spark.task_run_ms", m.executorRunTime.toDouble)
        rec.add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
        rec.add("spark.task_deser_ms", m.executorDeserializeTime.toDouble)
        rec.add("spark.task_overhead_ms",
          math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime).toDouble)
        rec.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        rec.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        rec.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        rec.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
      val parent = stageJob.get(t.stageId).flatMap(jobSpan.get)
        .map(spans(_).id).getOrElse(layerSpan)
      spans += Span(newId(), parent, "task", s"stage ${t.stageId} task ${info.index}",
        info.launchTime * 1000L, info.finishTime * 1000L)
      t = tasks.poll()
    }
    var qe = execs.poll()
    while (qe != null) {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      rec.add("catalyst.analysis_ms", ms("analysis"))
      rec.add("catalyst.optimization_ms", ms("optimization"))
      rec.add("catalyst.planning_ms", ms("planning"))
      qe = execs.poll()
    }
    var p = progress.poll()
    while (p != null) {
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.toDouble).getOrElse(0.0)
      rec.add("stream.triggers", 1)
      rec.add("stream.trigger_ms", ms("triggerExecution"))
      rec.add("stream.latest_offset_ms", ms("latestOffset"))
      rec.add("stream.query_planning_ms", ms("queryPlanning"))
      rec.add("stream.add_batch_ms", ms("addBatch"))
      rec.add("stream.wal_commit_ms", ms("walCommit"))
      rec.add("stream.commit_offsets_ms", ms("commitOffsets"))
      rec.add("stream.input_rows", p.numInputRows.toDouble)
      val ts = java.time.Instant.parse(p.timestamp)
      val t0 = ts.getEpochSecond * 1000000L + ts.getNano / 1000L
      spans += Span(newId(), layerSpan, "trigger", s"batch ${p.batchId}",
        t0, t0 + (ms("triggerExecution") * 1000).toLong)
      p = progress.poll()
    }
  }
}
