package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's pinned configuration.
  *
  * Designed for a multi-executor cluster; tested on local[N]. All settings
  * here are scale posture, not fixture tuning: AQE handles runtime skew /
  * partition coalescing, shuffle partitions default to the local core count
  * (on a real cluster this would be ~2-3x total cores), and the session
  * timezone is pinned UTC so timestamp semantics match the oracle.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // events fixture stores TIMESTAMP(NANOS); read as long + convert
      // in Tables.load (Spark has no native nanos timestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native graft expressions (cosine_sim, ...) in the SQL surface
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
