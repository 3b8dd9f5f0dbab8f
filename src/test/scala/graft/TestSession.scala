package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole forked test JVM. Its
  * store root is a fresh per-JVM scratch dir: a persistent root would
  * serve stores an older build wrote, so a changed store builder would
  * never run under the specs. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4, 2]") // 2 task attempts: lets specs exercise task retry
      .config("spark.graft.storeRoot", Scratch.dir("stores").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Replace `dir`'s `<table>.parquet` (in a fixture copy made with
    * [[StoreCatalog.linkTree]]) by the fixture rows passing `keep`,
    * written as ONE parquet file and moved into place. The copy's files
    * may be hardlinks into the fixture, so nothing may be written
    * through them: read-only permissions do not stop a root-run JVM. */
  def replaceTableByMove(dir: java.nio.file.Path, table: String,
                         keep: org.apache.spark.sql.Column): Unit = {
    val tmp = Scratch.dir(s"replace_$table")
    spark.read.parquet(s"$sfDir/$table.parquet").filter(keep)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dir.resolve(s"$table.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve the store a query just served: `resolve` must hit the
    * catalog (no build), or the query and the spec disagree on which
    * store that is. */
  def servedStore[T](resolve: => T): T = {
    val b0 = StoreCatalog.buildCount.get()
    val r = resolve
    assert(StoreCatalog.buildCount.get() == b0,
      "the resolver built a store the query had not served")
    r
  }

  /** Count the Spark jobs `body` submits — the shared helper for the
    * "marginal driver cost per superstep/round" specs. Counting is a
    * SparkListener keyed on a unique job group; a MARKER job in a
    * second group fences the (FIFO) listener bus, so when the marker's
    * start event arrives every counted job's event has already been
    * processed — no sleep-polling of the lagging statusTracker. */
  def countJobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "jobcount-" + java.util.UUID.randomUUID()
    val marker = group + "-marker"
    val count = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) count.incrementAndGet()
        else if (g == marker) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the fence job")
      count.get()
    } finally sc.removeSparkListener(listener)
  }
}
