package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** One run: its session, parameters and everything it reports. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val work: Path, val params: JsonNode, val tracer: Option[Tracer]) {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  private val messages = mutable.ArrayBuffer.empty[String]

  def cores: Int = spark.sparkContext.defaultParallelism

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  def int(k: String): Int = params.get(k).asInt()
  def dbl(k: String): Double = params.get(k).asDouble()
  def ints(k: String): Seq[Int] = {
    val a = params.get(k); (0 until a.size).map(a.get(_).asInt())
  }

  /** Count `n` attempted operations, `bad` of which failed `what`. */
  def check(n: Long, bad: Long, what: => String): Unit = {
    attempted += n
    failed += bad
    if (bad > 0 && messages.size < 20) {
      messages += s"$bad/$n failed: $what"
      System.err.println(s"[perfbench] CHECK FAILED ($bad/$n): $what")
    }
  }
  def failures: Seq[String] = messages.toSeq

  /** Fill the layer metrics every traced workload reports from its
    * traced calls: DataFrame construction, Catalyst phases, Spark
    * execution counters and the wall-time reconciliation. `ops` is the
    * number of workload operations the calls served. */
  def callLayers(calls: Seq[CallTrace], ops: Int, wallS: Double): Unit = {
    val n = math.max(1, calls.size).toDouble
    val perOp = math.max(1, ops).toDouble
    layers("construct_s") = calls.map(_.constructS).sum / n
    layers("construct_jobs") = calls.map(_.construct.jobs.toDouble).sum / n
    layers("catalyst.analysis_s") = calls.map(_.analysisS).sum / perOp
    layers("catalyst.optimization_s") = calls.map(_.optimizationS).sum / perOp
    layers("catalyst.planning_s") = calls.map(_.planningS).sum / perOp
    val all = new JobStats
    calls.foreach(c => all.add(c.all))
    val mb = 1024.0 * 1024.0
    layers("spark.jobs") = all.jobs / perOp
    layers("spark.stages") = all.stages / perOp
    layers("spark.tasks") = all.tasks / perOp
    layers("spark.executor_run_s") = all.runMs / 1e3 / perOp
    layers("spark.executor_cpu_s") = all.cpuNs / 1e9 / perOp
    layers("spark.core_util") = if (wallS > 0) all.runMs / 1e3 / (wallS * cores) else 0.0
    layers("spark.shuffle_write_mb") = all.shuffleWrite / mb / perOp
    layers("spark.shuffle_read_mb") = all.shuffleRead / mb / perOp
    layers("spark.spill_mb") = all.spill / mb / perOp
    layers("spark.result_mb") = all.result / mb / perOp
    layers("spark.gc_s") = all.gcMs / 1e3 / perOp
    if (calls.nonEmpty) {
      val gap = Stats.median(calls.map(_.gapShare))
      layers("reconcile.call_gap_share") = gap
      check(1, if (gap > Workload.MaxCallGap) 1 else 0,
        f"construction + Catalyst + jobs cover the call wall within ${Workload.MaxCallGap} (gap $gap%.3f)")
    }
  }
}
