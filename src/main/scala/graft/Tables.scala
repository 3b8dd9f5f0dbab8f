package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (see TESTDATA.md / FIXTURES.md).
  *
  * All tables are plain Parquet directories/files named `<table>.parquet`
  * under a scale-factor dir. Reading through this helper keeps the scan
  * declarative so Catalyst can push filters/projections into the Parquet
  * reader (verify with `.explain`: PushedFilters / ReadSchema).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a fixture table, normalizing event-time columns (below). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTimestamps(spark.read.parquet(s"$dir/$name.parquet"))

  /** Fixture generations differ in how they store event time: earlier
    * sets wrote TIMESTAMP(NANOS) — which Spark's vectorized reader only
    * accepts as an epoch-nanos LongType under
    * `spark.sql.legacy.parquet.nanosAsLong` (set in GraftSession) — the
    * current set writes TIMESTAMP(MICROS) without timezone, which reads
    * as TIMESTAMP_NTZ. Both shapes are folded to TimestampType here (the
    * session runs UTC, so the NTZ cast is a value identity, and the
    * nanos→µs conversion uses exact integer division — a double division
    * would lose precision at 1e18) so every downstream operator
    * (`unix_micros`, watermarks, `window()`) sees ONE timestamp type. */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          d.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  /** Approximate scan partitions of `path` from file sizes only (one
    * driver-side summary call, no job — df.rdd.getNumPartitions would
    * convert the plan to an RDD at build time for every query), or None
    * when the file system cannot summarize the path; callers then fall
    * back to a choice that needs no size. */
  private[graft] def scanParts(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    try {
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Some(math.max(1L, fs.getContentSummary(p).getLength / maxSplit + 1))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Load for compute-heavy per-row operators: when the scan yields far
    * fewer partitions than the cluster has cores (tiny fixture files at
    * test scale: one file = one partition = one busy core out of 32),
    * redistribute up front. At production scale (files >> cores) the
    * guard makes this a no-op — the scan's natural parallelism wins and
    * no shuffle is added; so does an unknown size. */
  def loadWide(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    scanParts(spark, s"$dir/$name.parquet") match {
      case Some(parts) if parts * 2 < target => df.repartition(target)
      case _ => df
    }
  }

  /** [[loadWide]]'s spread in a RANGE layout, globally sorted on `key`
    * — the sort-the-base device (r13): downstream order-preserving
    * chains emit key-ordered output with no trailing global sort (whose
    * RangePartitioning would re-run the whole chain in its sampling
    * job). Two properties matter:
    *  - an EXPLICIT numPartitions (REPARTITION_BY_NUM) is never
    *    AQE-coalesced, so the heavy chain above keeps the full spread
    *    (a plain orderBy's exchange coalesced the 1.5 MB fixture base
    *    to ~2 partitions and serialized the regex work — measured);
    *  - the range exchange REPLACES loadWide's round-robin exchange
    *    rather than stacking on it.
    * Same scale guard as loadWide: at production scale the scan's own
    * parallelism wins the max() and the range shuffle spreads to it;
    * an unknown size spreads to defaultParallelism. */
  def loadWideSorted(spark: SparkSession, dir: String, name: String,
                     key: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val target = spark.sparkContext.defaultParallelism
    val n = scanParts(spark, s"$dir/$name.parquet")
      .fold(target)(parts => math.max(target.toLong, parts).min(Int.MaxValue).toInt)
    load(spark, dir, name).repartitionByRange(n, col(key))
      .sortWithinPartitions(col(key))
  }

  /** Register every fixture table as a temp view (SQL surface for free). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
