package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, DriverCap, Similarity, TextAnalytics}

/** The one driver-or-distributed probe: one job whatever the partition
  * count, `df.collect()`'s rows and order under the cap, None above
  * it — and every operator built on it returns the same rows on both
  * sides of its cap, and on empty input. */
class DriverCapSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => (f.name, f.dataType.simpleString))

  /** The fallbacks of mmr, CC, BPE and the trigram profile all
    * checkpoint their working set; the driver paths build their result
    * from local rows. */
  private def fellBack(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  /** 1280 rows over 64 partitions. The generator hides the row count
    * from the optimizer, as an operator's real input does, so a
    * limit-take cannot be folded away. */
  private def spread = spark.range(0, 640, 1, 64)
    .select(explode(array(col("id"), col("id") * 7919 % 641)).as("v"))

  test("DriverCap.collect over 64 partitions under the cap is ONE job " +
    "and returns df.collect()'s rows in order") {
    val df = spread
    assert(df.rdd.getNumPartitions == 64)
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    val jobs = TestSession.countJobs { got = DriverCap.collect(df, 2000) }
    assert(jobs == 1)
    assert(got.map(_.toSeq) == Some(df.collect().toSeq))
  }

  test("DriverCap.collect at cap = n returns every row, at n - 1 None, " +
    "each in one job") {
    val df = spread
    val n = 1280
    var at: Option[Array[org.apache.spark.sql.Row]] = None
    var below: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    assert(TestSession.countJobs { at = DriverCap.collect(df, n) } == 1)
    assert(TestSession.countJobs { below = DriverCap.collect(df, n - 1) } == 1)
    assert(at.map(_.toSeq) == Some(df.collect().toSeq))
    assert(below.isEmpty)
    assert(DriverCap.collect(df, 0).isEmpty)
  }

  test("DriverCap.collect on empty input returns Some(empty) in at most " +
    "one job") {
    import spark.implicits._
    for (df <- Seq(spark.range(0, 0, 1, 8).toDF("id"),
                   spark.range(0, 100, 1, 8).toDF("id").filter(col("id") < 0),
                   Seq.empty[Long].toDF("id"))) {
      var got: Option[Array[org.apache.spark.sql.Row]] = None
      assert(TestSession.countJobs { got = DriverCap.collect(df, 0) } <= 1)
      assert(got.map(_.length) == Some(0))
    }
  }

  // --- each driver-or-distributed operator at its cap and on empty input

  /** A copy of the fixture whose `table` holds no rows. */
  private def emptyDir(table: String): String = {
    val d = Scratch.dir(s"empty_$table")
    Tables.load(spark, dir, table).filter(lit(false))
      .write.parquet(s"$d/$table.parquet")
    d.toString
  }

  test("mmrRerank: pool cap = n walks on the driver, n - 1 falls back " +
    "with equal rows; empty input agrees on both paths") {
    val n = 8 * 20 // nQueries × poolSize: every fixture vector scores
    val at = Similarity.mmrRerank(spark, dir, poolCap = n)
    val below = Similarity.mmrRerank(spark, dir, poolCap = n - 1)
    assert(!fellBack(at) && fellBack(below))
    assert(rows(at).nonEmpty && rows(at) == rows(below))
    val e = emptyDir("embeddings")
    val (d, f) = (Similarity.mmrRerank(spark, e), Similarity.mmrRerank(spark, e, poolCap = 0))
    assert(rows(d).isEmpty && rows(f).isEmpty && shape(d) == shape(f))
  }

  test("connectedComponents: edge cap = n runs the union-find, n - 1 the " +
    "star contraction with equal rows; no edges agree on both paths") {
    import spark.implicits._
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 20L), (3L, 2L)).toDF("u", "v")
    val n = 6 // canonical (min, max) edges
    val at = Dedup.connectedComponents(pairs, driverEdgeCap = n)
    val below = Dedup.connectedComponents(pairs, driverEdgeCap = n - 1)
    assert(!fellBack(at) && fellBack(below))
    assert(sortedRows(at).size == 8 && sortedRows(at) == sortedRows(below))
    val none = Seq.empty[(Long, Long)].toDF("u", "v")
    val (d, f) = (Dedup.connectedComponents(none),
      Dedup.connectedComponents(none, driverEdgeCap = 0))
    assert(rows(d).isEmpty && rows(f).isEmpty && shape(d) == shape(f))
  }

  test("bpeTrain: vocab cap = n merges on the driver, n - 1 in the " +
    "distributed loop with equal merges and vocab; empty input agrees") {
    import graft.functions.TextFunctions.words
    val wf = Tables.loadWide(spark, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val n = wf.count().toInt
    def train(w: DataFrame, cap: Int) =
      TextAnalytics.bpeTrain(spark, dir, 6, batch = 2, wfOpt = Some(w),
        driverVocabCap = cap)
    val (mAt, vAt, rAt) = train(wf, n)
    val (mBelow, vBelow, rBelow) = train(wf, n - 1)
    assert(!fellBack(vAt) && fellBack(vBelow))
    assert(mAt.nonEmpty && mAt == mBelow && rAt == rBelow)
    assert(sortedRows(vAt) == sortedRows(vBelow))
    val none = wf.filter(lit(false))
    val (mD, vD, rD) = train(none, n)
    val (mF, vF, rF) = train(none, 0)
    assert(mD.isEmpty && mD == mF && rD == rF)
    assert(rows(vD).isEmpty && rows(vF).isEmpty && shape(vD) == shape(vF))
  }

  /** The perceptron's distinct (y, x1, x2) histogram size: y is a
    * function of (x1, x2). */
  private def perceptronHist(d: String): Int = {
    import graft.functions.TextFunctions.words
    Tables.load(spark, d, "documents")
      .select(words(col("text")).as("ws0"))
      .select(expr("filter(ws0, w -> w <> '')").as("ws"))
      .select(size(col("ws")).as("x1"), size(array_distinct(col("ws"))).as("x2"))
      .distinct().count().toInt
  }

  test("perceptronScoredFeats: histogram cap = n trains on the driver, " +
    "n - 1 per epoch with equal rows; empty input agrees") {
    val n = perceptronHist(dir)
    val epochs = 16
    var at: DataFrame = null
    var below: DataFrame = null
    val atJobs = TestSession.countJobs {
      at = TextAnalytics.perceptronScoredFeats(spark, dir, epochs, histCap = n)
    }
    val belowJobs = TestSession.countJobs {
      below = TextAnalytics.perceptronScoredFeats(spark, dir, epochs, histCap = n - 1)
    }
    // the fallback pays one aggregate per epoch on top of the probe
    assert(belowJobs >= atJobs + epochs, s"at=$atJobs below=$belowJobs")
    assert(rows(at).nonEmpty && sortedRows(at) == sortedRows(below))
    val e = emptyDir("documents")
    val (d, f) = (TextAnalytics.perceptronScoredFeats(spark, e),
      TextAnalytics.perceptronScoredFeats(spark, e, histCap = 0))
    assert(rows(d).isEmpty && rows(f).isEmpty && shape(d) == shape(f))
  }

  test("langTrigramClassify: profile cap = n collects the profile, " +
    "n - 1 takes the checkpointed fallback with equal rows; empty input " +
    "agrees") {
    import graft.functions.NativeFunctions.charTrigrams
    val k = 40
    val n = Tables.load(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("lang"), explode(charTrigrams(col("text"))).as("tg"))
      .distinct().groupBy(col("lang")).count()
      .collect().map(r => math.min(k.toLong, r.getLong(1))).sum.toInt
    val at = TextAnalytics.langTrigramClassify(spark, dir, k, profCap = n)
    val below = TextAnalytics.langTrigramClassify(spark, dir, k, profCap = n - 1)
    assert(!fellBack(at) && fellBack(below))
    assert(rows(at).nonEmpty && rows(at) == rows(below))
    val e = emptyDir("documents")
    val (d, f) = (TextAnalytics.langTrigramClassify(spark, e),
      TextAnalytics.langTrigramClassify(spark, e, profCap = 0))
    assert(rows(d).isEmpty && rows(f).isEmpty && shape(d) == shape(f))
  }
}
