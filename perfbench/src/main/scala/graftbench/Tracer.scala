package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span the harness records around one call into a module. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startMs: Long, var endMs: Long = -1L) {
  def ms: Long = endMs - startMs
}

/** Outside-in tracer. It never touches the engine's code: it records spans
  * around the harness's own calls into each module, and reads Spark's
  * listener events (scheduler, SQL execution, streaming progress) plus the
  * `CodegenMetrics` compile counters. Everything stays in memory until
  * [[metrics]] folds it into per-layer numbers at the end of the run.
  *
  * Stages are attributed to the module whose frame is innermost in the
  * stage's call site (`StageInfo.details`); a stage whose call site holds
  * no engine frame belongs to the innermost span open when it started.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext

  // ---- spans (main thread only) ----
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
      layer, name, System.currentTimeMillis())
    spans += s
    open = s :: open
    try body finally {
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  // ---- scheduler / executor / shuffle (listener thread) ----
  private final class StageAgg {
    var tasks = 0L; var useful = 0L
    var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L
    var shWrite = 0L; var shRead = 0L; var shRecords = 0L; var fetchWait = 0L
    var spill = 0L; var peakExec = 0L
    var inBytes = 0L; var outBytes = 0L
    var submitted = 0L; var completed = 0L; var details = ""; var done = false
    var jobSite = ""
  }
  private val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
  private val jobs = mutable.ArrayBuffer.empty[(Long, String)] // (start ms, call site)
  // SQL execution id -> the call site that started it. Stages that run on
  // Spark's async threads (broadcasts, adaptive query stages) carry no
  // caller frames of their own; their job's execution still names it.
  private val execSite = mutable.HashMap.empty[Long, String]
  private var rddBlockBytes = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  private var storedPeak = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execSite.get(id.toLong))
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val site = if (moduleOf(own).isDefined) own else exec.getOrElse(own)
      jobs += ((e.time, site))
      e.stageIds.foreach(id => stages.getOrElseUpdate(id, new StageAgg).jobSite = site)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
        val root = x.rootExecutionId.flatMap(execSite.get)
        execSite(x.executionId) =
          if (moduleOf(x.details).isDefined) x.details else root.getOrElse(x.details)
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (m != null) {
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        if (m.inputMetrics.recordsRead > 0 || sr.recordsRead > 0) a.useful += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.shWrite += sw.bytesWritten
        a.shRead += sr.totalBytesRead
        a.shRecords += sw.recordsWritten
        a.fetchWait += sr.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate(i.stageId, new StageAgg)
      a.submitted = i.submissionTime.getOrElse(0L)
      a.completed = i.completionTime.getOrElse(a.submitted)
      a.details = i.details
      a.done = true
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        storedBytes += now - rddBlockBytes.getOrElse(b.blockId.name, 0L)
        if (now == 0L) rddBlockBytes -= b.blockId.name
        else rddBlockBytes(b.blockId.name) = now
        storedPeak = math.max(storedPeak, storedBytes)
      }
    }
  }

  // ---- planner (QueryPlanningTracker phases) ----
  private var executions = 0L
  private val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      executions += 1
      qe.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs }
    }
  }

  // ---- streaming progress ----
  private val progress = mutable.ArrayBuffer.empty[(Map[String, Long], Long)]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        if (p.numInputRows > 0)
          progress += ((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows))
      }
  }

  // ---- codegen (JVM-global counters, read as deltas) ----
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private var compiles0 = 0L
  private var compileMs = 0.0
  private var compileCountSeen = 0L

  /** Per-op counts the harness measures itself (leaked blocks, iterations). */
  val counts = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  def start(): Unit = {
    // Events still queued from earlier work would reach a listener added now.
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    compiles0 = compiles
    compileCountSeen = compiles0
  }

  /** Samples the compile-time histogram after a span: its mean over the
    * compiles made since the last sample estimates their summed time.
    */
  def sampleCodegen(): Unit = {
    val c = compiles
    if (c > compileCountSeen) {
      compileMs += (c - compileCountSeen) *
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
      compileCountSeen = c
    }
  }

  def stop(): Unit = {
    sampleCodegen()
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Innermost engine module in a call site, if any. */
  private def moduleOf(site: String): Option[String] =
    site.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("org.apache.spark.sql.graft.checkpointing") => "checkpointing"
      case Tracer.Frame(m) => m
    }

  /** Layer of the innermost span open at `t`, or `harness`. */
  private def spanLayerAt(t: Long): String =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => -s.startMs).headOption.map(_.layer).getOrElse("harness")

  private def layerOf(site: String, t: Long): String =
    moduleOf(site).getOrElse(spanLayerAt(t))

  def spanMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum.toDouble

  /** Per-layer self time: a span's duration minus what its child spans cover. */
  private def selfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum).sum.toDouble
    }
  }

  def metrics(): Map[String, Double] = synchronized {
    val done = stages.values.filter(_.done).toSeq
    val byLayer = done.groupBy(a =>
      layerOf(if (moduleOf(a.details).isDefined) a.details else a.jobSite, a.submitted))
    val jobLayers = jobs.map { case (t, site) => layerOf(site, t) }
    def stageMs(l: String) = byLayer.getOrElse(l, Nil).map(a => a.completed - a.submitted).sum
    def sumAll(f: StageAgg => Long) = stages.values.map(f).sum.toDouble
    val tasks = sumAll(_.tasks)
    def batchMean(k: String) =
      if (progress.isEmpty) 0.0 else progress.map(_._1.getOrElse(k, 0L)).sum.toDouble / progress.size
    val m = mutable.LinkedHashMap[String, Double](
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> done.size.toDouble,
      "scheduler.tasks" -> tasks,
      "scheduler.useful_task_ratio" -> (if (tasks == 0) 0.0 else sumAll(_.useful) / tasks),
      "executor.run_ms" -> sumAll(_.runMs),
      "executor.cpu_ms" -> sumAll(_.cpuNs) / 1e6,
      "executor.deser_ms" -> sumAll(_.deserMs),
      "jvm.gc_ms" -> sumAll(_.gcMs),
      "shuffle.write_bytes" -> sumAll(_.shWrite),
      "shuffle.read_bytes" -> sumAll(_.shRead),
      "shuffle.records" -> sumAll(_.shRecords),
      "shuffle.fetch_wait_ms" -> sumAll(_.fetchWait),
      "memory.spill_bytes" -> sumAll(_.spill),
      "memory.peak_execution_mb" -> stages.values.map(_.peakExec).maxOption.getOrElse(0L) / 1048576.0,
      "pregel.stage_ms" -> stageMs("pregel").toDouble,
      "pregel.jobs" -> jobLayers.count(_ == "pregel").toDouble,
      "pregel.shuffle_bytes" -> byLayer.getOrElse("pregel", Nil).map(_.shWrite).sum.toDouble,
      "checkpointing.jobs" -> jobLayers.count(_ == "checkpointing").toDouble,
      "checkpointing.stage_ms" -> stageMs("checkpointing").toDouble,
      "checkpointing.stored_mb_peak" -> storedPeak / 1048576.0,
      "algorithms.stage_ms" -> stageMs("algorithms").toDouble,
      "streaming.stage_ms" -> stageMs("streaming").toDouble,
      "sources.bytes_written" -> sumAll(_.outBytes),
      "sources.bytes_read" -> sumAll(_.inBytes),
      "streaming.add_batch_ms" -> batchMean("addBatch"),
      "streaming.query_planning_ms" -> batchMean("queryPlanning"),
      "streaming.get_batch_ms" -> batchMean("getBatch"),
      "streaming.commit_ms" -> batchMean("commitOffsets"),
      "streaming.rows_per_batch" ->
        (if (progress.isEmpty) 0.0 else progress.map(_._2).sum.toDouble / progress.size),
      "streaming.batches" -> progress.size.toDouble,
      "planner.analysis_ms" -> phaseMs("analysis").toDouble,
      "planner.optimization_ms" -> phaseMs("optimization").toDouble,
      "planner.planning_ms" -> phaseMs("planning").toDouble,
      "planner.executions" -> executions.toDouble,
      "codegen.compiles" -> (compileCountSeen - compiles0).toDouble,
      "codegen.compile_ms" -> compileMs,
      "functions.finite_axpb_ms" -> spanMs("finite_axpb"),
      "functions.h_index_ms" -> spanMs("h_index"),
      "streaming.drain_ms" -> spanMs("drain"),
      "streaming.compact_ms" -> spanMs("compact"))
    selfMs.foreach { case (l, v) => m(s"$l.self_ms") = v }
    counts.foreach { case (k, v) => m(k) = v }
    m.toMap
  }
}

object Tracer {
  private val Frame = """graft\.(algorithms|pregel|functions|graph|streaming|sources|operators|text|multimodal)\..*""".r
}
