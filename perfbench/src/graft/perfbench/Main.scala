package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --spec <spec.json> --bench <BENCHMARK.json>
  * }}}
  *
  * Prints one `info` JSON line (input parameters, run stamps) and, as
  * the last line, the result object. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val spec = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(opts("spec"))))
    val wspec = spec.get("workloads").get(name)
    require(wspec != null, s"no spec for workload $name")
    val load0 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val t0 = System.nanoTime()
    val spark = SessionStart.start(work)
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val workload = Workload(name)
      val ctx = new Ctx(spark, seed, seconds, work, wspec.get("params"), None)
      val g0 = System.nanoTime()
      workload.prepare(ctx)
      val genS = (System.nanoTime() - g0) / 1e9
      val setupReps = (1 to Workload.SetupReps).map { r =>
        val s0 = System.nanoTime()
        workload.setupRep(ctx, r)
        (System.nanoTime() - s0) / 1e9
      }

      val tracer = if (traced) Some(new Tracer(spark)) else None
      val runCtx = new Ctx(spark, seed, seconds, work, wspec.get("params"), tracer)
      runCtx.info ++= ctx.info
      val heap = new HeapPeak
      heap.start()
      try workload.run(runCtx) finally { heap.stop(); tracer.foreach(_.close()) }

      runCtx.e2e("setup_s") = sessionS + Stats.median(setupReps)
      runCtx.e2e("peak_heap_mb") = heap.peakMb
      val bench = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(opts("bench"))))
      val metricSpec = bench.get(if (traced) "per_layer" else "end_to_end")
      val units = metricSpec.elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
      val produced = if (traced) runCtx.layers else runCtx.e2e
      val unknown = produced.keySet -- units.map(_._1)
      require(unknown.isEmpty, s"metrics missing from the spec: ${unknown.mkString(", ")}")
      val metrics = units.map { case (n, u) => n -> Map("value" -> produced.getOrElse(n, 0.0), "unit" -> u) }

      val rt = Runtime.getRuntime
      val info = runCtx.info ++ Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "nproc" -> rt.availableProcessors(), "spark_cores" -> runCtx.cores,
        "load_avg_start" -> load0,
        "load_avg_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
        "driver_heap_max_mb" -> rt.maxMemory() / 1048576.0,
        "session_start_s" -> sessionS, "setup_reps_s" -> setupReps, "input_gen_s" -> genS,
        "fail_share" -> runCtx.failed.toDouble / math.max(1L, runCtx.attempted),
        "failures" -> runCtx.failures)
      println(Json.write(Map("info" -> info)))
      println(Json.write(Map(
        "correct" -> (runCtx.failed == 0),
        "attempted" -> runCtx.attempted,
        "failed" -> runCtx.failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
      System.out.flush()
    } finally spark.stop()
  }
}

/** The session every run starts: the engine's pinned configuration,
  * every directory inside the run's work dir. As a main, it starts and
  * stops one session — the build runs it to record which classes a
  * session start loads (the class-data-sharing archive). */
object SessionStart {
  def start(work: java.nio.file.Path): org.apache.spark.sql.SparkSession = {
    val spark = graft.GraftSession.builder("perfbench")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.storeRoot", work.resolve("stores/main").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    spark
  }

  def main(args: Array[String]): Unit =
    start(Paths.get(System.getProperty("java.io.tmpdir")).getParent).stop()
}

/** Peak driver heap in use right after a garbage collection: the
  * retained heap, which repeats from run to run where the peak of the
  * raw in-use figure follows the collector's timing. */
final class HeapPeak {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  def peakMb: Double = synchronized {
    // no collection during the loop: the heap in use now is the bound
    if (peak == 0) peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak / 1048576.0
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + write(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
