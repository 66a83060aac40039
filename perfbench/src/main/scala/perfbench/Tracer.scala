package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer, inside the op `op` (-1: set-up). */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one job group. */
final class GroupAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var waitMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  val stageSkews = ArrayBuffer[Double]()
}

/** What one query execution reported: Catalyst phase times and the
  * metrics of its DSv2 scans. */
final case class QeInfo(analysisMs: Double, optimizationMs: Double, planningMs: Double,
    v2Scans: Seq[Map[String, Long]])

/** Everything the traced run saw of one op. */
final case class OpTrace(seq: Int, startMs: Long, endMs: Long,
    groups: Map[String, GroupAgg], qes: Seq[QeInfo],
    progress: Seq[(Map[String, Long], Long)], gcMs: Double, jitMs: Double,
    codegenCompiles: Long) {
  def all: Seq[GroupAgg] = groups.values.toSeq
  /** Op wall time that no running job covered. */
  def driverOnlyMs: Double = {
    val iv = all.flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (endMs - startMs) - covered).toDouble
  }
}

/** The traced run's instruments. Listeners, job groups and spans are all
  * the benchmark's own: the program under test is observed from outside.
  * A traced run traces every op; when `enabled` is false nothing is
  * registered, `span` is a plain call and the op hooks do nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-op-"

  val spans = ArrayBuffer[Span]()
  val traces = ArrayBuffer[OpTrace]()
  private var nextSpan = 0
  private var stack = List.empty[Int]
  /** The op running now (-1: none); read by the listener thread. */
  @volatile private var curOp = -1
  private var opStartMs = 0L
  private var gc0 = 0.0
  private var jit0 = 0.0
  private var cg0 = 0L
  private var traceKey = ""
  private var rootSpan = -1

  private val groups = mutable.Map[String, GroupAgg]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageTaskMs = mutable.Map[Int, ArrayBuffer[Long]]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val qeQueue = new ConcurrentLinkedQueue[QeInfo]()
  private val progressQueue = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()

  private object ExecListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
      // every job that starts while an op runs is that op's work: the one
      // client waits for each op to return. A job outside the op's groups
      // (a stream's micro-batch runs on the stream's own thread) counts as
      // its phase `background`.
      val op = curOp
      val g = if (op < 0) None else Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(s"$GroupPrefix$op-"))
        .orElse(Some(s"$GroupPrefix$op-background"))
      g.foreach { g =>
        groups.getOrElseUpdate(g, new GroupAgg).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
        jobStart(e.jobId) = (g, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = groups.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) =>
        groups(g).jobIntervals += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = groups.synchronized {
      val id = e.stageInfo.stageId
      stageGroup.get(id).foreach { g =>
        val agg = groups(g)
        agg.stages += 1
        stageTaskMs.remove(id).filter(_.size >= 2).foreach { ts =>
          val med = Stats.median(ts.map(_.toDouble))
          if (med > 0) agg.stageSkews += ts.max / med
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = groups.synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val agg = groups(g)
        val info = e.taskInfo
        agg.tasks += 1
        if (e.reason != TaskSuccess) agg.failedTasks += 1
        stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer()) += info.duration
        Option(e.taskMetrics).foreach { m =>
          agg.runMs += m.executorRunTime
          agg.cpuMs += m.executorCpuTime / 1e6
          // scheduler delay, as the Spark UI defines it
          agg.waitMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          agg.peakMem = math.max(agg.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qeQueue.add(Tracer.qeInfo(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qeQueue.add(Tracer.qeInfo(qe))
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progressQueue.add((e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        e.progress.numInputRows))
  }

  if (enabled) {
    sc.addSparkListener(ExecListener)
    spark.listenerManager.register(QeListener)
    spark.streams.addListener(StreamListener)
  }

  /** Time a call into `layer` (op -1: set-up). */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, layer, name, t0, System.nanoTime())
      }
    }

  /** Tag the jobs that follow with this op's job group for `phase`. */
  def phase(name: String): Unit =
    if (enabled && curOp >= 0)
      sc.setJobGroup(s"$GroupPrefix$curOp-$name", s"perfbench op $curOp $name", interruptOnCancel = false)

  def beginOp(seq: Int, key: String): Unit = if (enabled) {
    BusAccess.drain(sc)
    qeQueue.clear()
    progressQueue.clear()
    curOp = seq
    gc0 = Tracer.gcMs
    jit0 = Tracer.jitMs
    cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    opStartMs = System.currentTimeMillis()
    phase("op")
    traceKey = key
    rootSpan = nextSpan
    nextSpan += 1
    stack = rootSpan :: stack
  }

  def endOp(seq: Int, t0: Long, t1: Long): Unit = if (enabled) {
    val endMs = System.currentTimeMillis()
    val gc = Tracer.gcMs - gc0
    val jit = Tracer.jitMs - jit0
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    sc.clearJobGroup()
    stack = stack.tail
    spans += Span(rootSpan, -1, curOp, "op", traceKey, t0, t1)
    BusAccess.drain(sc)
    val mine = groups.synchronized {
      val ks = groups.keys.filter(_.startsWith(s"$GroupPrefix$curOp-")).toSeq
      val m = ks.map(k => k.stripPrefix(s"$GroupPrefix$curOp-") -> groups(k)).toMap
      ks.foreach(groups.remove)
      m
    }
    traces += OpTrace(seq, opStartMs, endMs, mine, qeQueue.asScala.toSeq,
      progressQueue.asScala.toSeq, gc, jit, cg)
    curOp = -1
  }

  /** Self time of each layer: span time not covered by its child spans. */
  def selfTimeByLayer: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  /** The successful ops that match `p`, with what their DSv2 scans
    * reported. */
  private def v2Ops(client: Client, p: Op => Boolean): Seq[(Op, OpTrace)] = {
    val ok = client.okOps.filter(p).map(o => o.seq -> o).toMap
    traces.toSeq.filter(t => ok.contains(t.seq) && t.qes.exists(_.v2Scans.nonEmpty)).map(t => ok(t.seq) -> t)
  }
  private def v2Sum(t: OpTrace, k: String): Double =
    t.qes.flatMap(_.v2Scans).map(_.getOrElse(k, 0L)).sum.toDouble
  private def medOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** sources.* read-side metrics over the DSv2 reads that match `p`, from
    * the scan's driver metrics (`resultDataFiles`, `skippedDataFiles`,
    * `totalFileSize`) and its output rows. */
  def sourceMetrics(client: Client, p: Op => Boolean): Map[String, Double] = {
    val v2 = v2Ops(client, p)
    val cand = v2.map { case (_, t) => v2Sum(t, "resultDataFiles") + v2Sum(t, "skippedDataFiles") }
    val skipped = v2.map { case (_, t) => v2Sum(t, "skippedDataFiles") }.sum
    val scanRows = v2.map { case (_, t) => v2Sum(t, "numOutputRows") }.sum
    val rowsOut = v2.map(_._1.rows.toDouble).sum
    Map(
      "sources.files_candidate" -> medOf(cand),
      "sources.files_scanned" -> medOf(v2.map { case (_, t) => v2Sum(t, "resultDataFiles") }),
      "sources.skip_ratio" -> (if (cand.sum > 0) skipped / cand.sum else 0.0),
      "sources.bytes_scanned" -> medOf(v2.map { case (_, t) => v2Sum(t, "totalFileSize") }),
      "sources.useful_row_ratio" -> (if (scanRows > 0) rowsOut / scanRows else 0.0))
  }

  /** Median delete files a DSv2 read matching `p` applied (`resultDeleteFiles`). */
  def deleteFilesApplied(client: Client, p: Op => Boolean): Double =
    medOf(v2Ops(client, p).map { case (_, t) => v2Sum(t, "resultDeleteFiles") })

  /** The per-layer metrics every workload shares: plans, exec, jvm and
    * streaming. Metrics of a layer that a workload never calls are 0 (no
    * call, no time).
    */
  def commonLayerMetrics: Map[String, Double] = {
    val n = traces.size.max(1).toDouble
    def perOp(f: OpTrace => Double): Double = traces.map(f).sum / n
    val stageSkews = traces.flatMap(_.all.flatMap(_.stageSkews))
    val progress = traces.flatMap(_.progress).filter(_._2 > 0)
    Map(
      "plans.analysis_ms" -> medOf(traces.map(_.qes.map(_.analysisMs).sum).toSeq),
      "plans.optimization_ms" -> medOf(traces.map(_.qes.map(_.optimizationMs).sum).toSeq),
      "plans.planning_ms" -> medOf(traces.map(_.qes.map(_.planningMs).sum).toSeq),
      "streaming.epoch_ms" -> medOf(progress.map(_._1.getOrElse("triggerExecution", 0L).toDouble).toSeq),
      "streaming.add_batch_ms" -> medOf(progress.map(_._1.getOrElse("addBatch", 0L).toDouble).toSeq),
      "exec.jobs" -> perOp(_.all.map(_.jobs).sum.toDouble),
      "exec.stages" -> perOp(_.all.map(_.stages).sum.toDouble),
      "exec.tasks" -> perOp(_.all.map(_.tasks).sum.toDouble),
      "exec.task_run_ms" -> perOp(_.all.map(_.runMs).sum),
      "exec.task_cpu_ms" -> perOp(_.all.map(_.cpuMs).sum),
      "exec.task_wait_ms" -> perOp(_.all.map(_.waitMs).sum),
      "exec.task_skew" -> medOf(stageSkews.toSeq),
      "exec.shuffle_read_bytes" -> perOp(_.all.map(_.shuffleRead).sum.toDouble),
      "exec.shuffle_write_bytes" -> perOp(_.all.map(_.shuffleWrite).sum.toDouble),
      "exec.spill_bytes" -> perOp(_.all.map(_.spill).sum.toDouble),
      "exec.peak_exec_mem_bytes" -> traces.flatMap(_.all.map(_.peakMem.toDouble)).maxOption.getOrElse(0.0),
      "exec.failed_tasks" -> traces.map(_.all.map(_.failedTasks).sum.toDouble).sum,
      "exec.driver_only_ms" -> perOp(_.driverOnlyMs),
      "exec.codegen_compiles" -> perOp(_.codegenCompiles.toDouble),
      "jvm.gc_ms" -> perOp(_.gcMs),
      "jvm.jit_ms" -> perOp(_.jitMs))
  }
}

object Tracer {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def qeInfo(qe: QueryExecution): QeInfo = {
    val ph = qe.tracker.phases
    def phMs(k: String): Double = ph.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val plan = try nodes(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => Nil }
    def vals(p: SparkPlan): Map[String, Long] = p.metrics.map { case (k, m) => k -> m.value }
    QeInfo(phMs("analysis"), phMs("optimization"), phMs("planning"),
      plan.collect { case b: BatchScanExec => vals(b) })
  }
}
