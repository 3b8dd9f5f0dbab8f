package graft

import org.apache.hadoop.fs.{ContentSummary, Path, RawLocalFileSystem}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under a `nosummary:` scheme whose content
  * summary always fails: every read works, only the loaders' size
  * probe sees an error. */
class NoSummaryFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nosummary:///")
  override def getScheme: String = "nosummary"
  override def getContentSummary(f: Path): ContentSummary =
    throw new java.io.IOException(s"no content summary for $f")
}

/** Tables' shared scan-size probe and the loaders' fallbacks when it
  * cannot size a table. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir
  /** `dir` read through [[NoSummaryFileSystem]]. */
  private lazy val unsized = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nosummary.impl", classOf[NoSummaryFileSystem].getName)
    s"nosummary:$dir"
  }

  test("scanParts: sizes a readable table; None when the summary throws") {
    assert(Tables.scanParts(spark, s"$dir/documents.parquet").contains(1L))
    assert(Tables.scanParts(spark, s"$unsized/documents.parquet").isEmpty)
    assert(Tables.scanParts(spark, s"$dir/no_such_table.parquet").isEmpty)
  }

  test("an unsizable table: loadWide leaves the scan as it is, loadWideSorted " +
    "range-partitions into defaultParallelism") {
    val target = spark.sparkContext.defaultParallelism
    val base = Tables.load(spark, dir, "documents")

    // the sized fixture is spread; the unsized one is not
    def spreads(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case r: Repartition => r.numPartitions }
    assert(spreads(Tables.loadWide(spark, dir, "documents")) == Seq(target))
    val wide = Tables.loadWide(spark, unsized, "documents")
    assert(spreads(wide).isEmpty)
    assert(wide.count() == base.count())

    val sorted = Tables.loadWideSorted(spark, unsized, "documents", "doc_id")
    val ranges = sorted.queryExecution.logical.collect {
      case r: RepartitionByExpression => r.optNumPartitions
    }
    assert(ranges == Seq(Some(target)))
    val ids = sorted.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(ids == base.select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted)
  }
}
