package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of the jobs run under one job group. */
final class JobStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var result = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall covered by the union of the jobs' [start, end] intervals. */
  def jobSpanMs: Long = {
    var covered = 0L; var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }

  def add(o: JobStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; result += o.result
    intervals ++= o.intervals
  }
}

/** What one traced call cost, measured from outside the engine. */
final case class CallTrace(label: String, wallS: Double, constructS: Double,
                           execS: Double, construct: JobStats, exec: JobStats,
                           constructQes: Seq[QueryExecution], execQes: Seq[QueryExecution],
                           builtQe: Option[QueryExecution] = None) {
  private def phase(qes: Seq[QueryExecution], name: String): Double =
    qes.map(q => q.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)).sum / 1e3
  // the returned DataFrame was analyzed while it was built, so its
  // analysis counts once, inside construction
  private def others(qes: Seq[QueryExecution]) = qes.filterNot(q => builtQe.exists(_ eq q))
  def analysisS: Double = phase(builtQe.toSeq ++ others(constructQes ++ execQes), "analysis")
  def optimizationS: Double = phase(constructQes ++ execQes, "optimization")
  def planningS: Double = phase(constructQes ++ execQes, "planning")
  /** Catalyst time spent inside the execution window. */
  def execCatalystS: Double =
    phase(execQes, "optimization") + phase(execQes, "planning") + phase(others(execQes), "analysis")
  /** Share of the call's wall NOT covered by construction + Catalyst +
    * Spark jobs: driver-side scheduling and result handling. */
  def gapShare: Double =
    math.abs(wallS - (constructS + execCatalystS + exec.jobSpanMs / 1e3)) / wallS
  def all: JobStats = { val s = new JobStats; s.add(construct); s.add(exec); s }
  def qes: Seq[QueryExecution] = constructQes ++ execQes
}

/** Listeners for the traced run: a SparkListener keyed by job group
  * (fenced with a marker job, the way TestSession.countJobs fences the
  * listener bus), a QueryExecutionListener for Catalyst phases and
  * executed-plan SQLMetrics, and a StreamingQueryListener for
  * micro-batch phases. Nothing here runs in untraced runs. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val prefix = "perfbench-" + java.util.UUID.randomUUID().toString.take(8) + "-"
  private val seq = new AtomicLong(0)
  private val byGroup = new ConcurrentHashMap[String, JobStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  @volatile private var marker: String = null
  @volatile private var markerSeen = new CountDownLatch(1)
  /** Driver time the tracer itself spends fencing and walking plans. */
  val ownNs = new AtomicLong(0)
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def stats(g: String): JobStats = byGroup.computeIfAbsent(g, _ => new JobStats)

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(prefix)) {
        val s = stats(g)
        s.synchronized {
          s.jobs += 1
          s.stages += js.stageInfos.size
        }
        js.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
        jobGroup.put(js.jobId, (g, js.time))
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobGroup.remove(je.jobId)).foreach { case (g, t0) =>
        val s = stats(g)
        s.synchronized(s.intervals += ((t0, je.time)))
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(te.stageId)
      val m = te.taskMetrics
      if (g != null && m != null) {
        val s = stats(g)
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.result += m.resultSize
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val m = marker
      if (m != null && qe.logical.toString.contains(m)) markerSeen.countDown()
      else qes.add(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Block until every listener event posted so far has been handled. */
  def fence(): Unit = {
    val t0 = System.nanoTime()
    val m = "fence_" + java.util.UUID.randomUUID().toString.replace("-", "")
    markerSeen = new CountDownLatch(1)
    marker = m
    sc.setJobGroup(prefix + "fence", "fence")
    try spark.range(1).selectExpr(s"'$m' AS marker").collect()
    finally sc.clearJobGroup()
    require(markerSeen.await(60, TimeUnit.SECONDS), "listener bus never delivered the fence")
    marker = null
    byGroup.remove(prefix + "fence")
    ownNs.addAndGet(System.nanoTime() - t0)
  }

  private def drainQes(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer.empty[QueryExecution]
    var q = qes.poll()
    while (q != null) { out += q; q = qes.poll() }
    out.toSeq
  }

  /** Time `construct` (DataFrame building, with any eager driver jobs)
    * and `exec` (the action) separately, each under its own job group,
    * and collect the jobs and query executions each one caused. */
  def call[T, R](label: String)(construct: => T)(exec: T => R): (R, CallTrace) = {
    fence()
    drainQes()
    val id = seq.incrementAndGet()
    val (gc, ge) = (s"${prefix}c$id", s"${prefix}e$id")
    val t0 = System.nanoTime()
    sc.setJobGroup(gc, label)
    val built = try construct finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    fence()
    val cq = drainQes()
    val t2 = System.nanoTime()
    sc.setJobGroup(ge, label)
    val out = try exec(built) finally sc.clearJobGroup()
    val t3 = System.nanoTime()
    fence()
    val eq = drainQes()
    val cs = Option(byGroup.remove(gc)).getOrElse(new JobStats)
    val es = Option(byGroup.remove(ge)).getOrElse(new JobStats)
    val builtQe = built match {
      case d: org.apache.spark.sql.Dataset[_] => Some(d.queryExecution)
      case _ => None
    }
    (out, CallTrace(label, (t1 - t0 + t3 - t2) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9,
      cs, es, cq, eq, builtQe))
  }

  /** Every physical node of an executed query, through AQE stages. */
  def nodes(qe: QueryExecution): Seq[SparkPlan] = {
    val t0 = System.nanoTime()
    val out = collect(qe.executedPlan) { case p => p }
    ownNs.addAndGet(System.nanoTime() - t0)
    out
  }

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def filesRead(qes: Seq[QueryExecution]): Long =
    qes.flatMap(nodes).collect { case s: FileSourceScanExec => metric(s, "numFiles") }.sum
}

/** Small statistics helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) return 0.0
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it,
    * floored at the median when there are too few samples; returns
    * (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val pct = if (n <= 20) 50.0 else math.floor(100.0 * (n - 10) / n)
    (pct, quantile(xs, pct / 100.0))
  }
}
