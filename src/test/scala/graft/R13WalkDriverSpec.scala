package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, WalkDriver}

/** r13: the bounded driver walk must be indistinguishable from the
  * distributed superstep loop it replaces — same rows, same order,
  * bit-identical doubles — and the probe must refuse anything over its
  * cap (the fallback gate). */
class R13WalkDriverSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("driver cosine reproduces the CosineSimilarity expression " +
    "bit-for-bit on fixture embeddings") {
    val emb = Tables.loadWide(spark, dir, "embeddings")
      .filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val pairs = for (a <- emb.keys.toSeq; b <- emb.keys.toSeq if a < b)
      yield (a, b)
    val sparkScores = {
      import spark.implicits._
      val df = pairs.toDF("a", "b")
      val e = Tables.loadWide(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      df.join(e.withColumnRenamed("vec_id", "a").withColumnRenamed("embedding", "ea"), "a")
        .join(e.withColumnRenamed("vec_id", "b").withColumnRenamed("embedding", "eb"), "b")
        .select(col("a"), col("b"),
          graft.functions.VectorFunctions.cosine(col("ea"), col("eb")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    assert(sparkScores.nonEmpty)
    pairs.foreach { case (a, b) =>
      val d = WalkDriver.cosine(emb(a), emb(b))
      assert(!d.isNaN, s"driver cosine NaN for ($a,$b)")
      // == on doubles: bit-identical is the contract
      assert(d == sparkScores((a, b)), s"cosine drift at ($a,$b)")
    }
  }

  test("graphBeamSearch: driver walk == distributed superstep loop") {
    assert(rows(Similarity.graphBeamSearch(spark, dir)) ==
      rows(Similarity.graphBeamSearchDistributed(spark, dir)))
  }

  test("graphGreedySearch: driver walk == distributed superstep loop") {
    assert(rows(Similarity.graphGreedySearch(spark, dir)) ==
      rows(Similarity.graphGreedySearchDistributed(spark, dir)))
  }

  test("hnswSearch: driver walk == distributed superstep loop") {
    assert(rows(Similarity.hnswSearch(spark, dir)) ==
      rows(Similarity.hnswSearchDistributed(spark, dir)))
  }

  test("graphBeamServeFrom: driver walk == bucket-pruned distributed serve") {
    val store = Similarity.buildGraphStore(spark, dir, 8)
    assert(rows(Similarity.graphBeamServeFrom(spark, dir, store,
        Similarity.GraphStoreBuckets)) ==
      rows(Similarity.graphBeamServeFromDistributed(spark, dir, store,
        Similarity.GraphStoreBuckets)))
  }

  test("hnswServeFromStore: driver walk == pruned distributed serve") {
    val (store, maxl) = Similarity.buildHnswStore(spark, dir, 8)
    assert(rows(Similarity.hnswServeFromStore(spark, dir, store, maxl)) ==
      rows(Similarity.hnswServeFromStoreDistributed(spark, dir, store, maxl)))
  }

  test("pageRankLoop: driver rounds == iterate-by-join rounds, uniform " +
    "and seed-gated") {
    val emb = Tables.loadWide(spark, dir, "embeddings")
    val bits = Similarity.adaptiveBits(emb.count())
    val edges = Similarity.knnGraphFrom(emb, 8, bits)
      .select(col("src"), col("dst"))
    val (nodes, e) = Similarity.pageRankPrep(emb, edges)
    val scale = 1000000000000L
    val tele = scale * 15 / 100
    assert(rows(Similarity.pageRankLoop(nodes, e, lit(scale), lit(tele), 4, 20)) ==
      rows(Similarity.pageRankLoopDistributed(nodes, e, lit(scale), lit(tele), 4, 20)))
    // seed-gated (personalized) form: init/restart evaluate inside the
    // probe's collect, so the gate needs no driver re-derivation
    val nodesL = emb.select(col("vec_id").as("id"), col("label"))
      .localCheckpoint(true)
    def gate(full: Long) =
      when(col("label") === 3, lit(full)).otherwise(lit(0L))
    assert(rows(Similarity.pageRankLoop(nodesL, e, gate(scale), gate(tele), 4, 20)) ==
      rows(Similarity.pageRankLoopDistributed(nodesL, e, gate(scale), gate(tele), 4, 20)))
  }

  test("mmr_rerank: driver greedy selection == in-plan fallback loop " +
    "(cap guard, VERDICT item 6)") {
    assert(rows(Similarity.mmrRerank(spark, dir)) ==
      rows(Similarity.mmrRerank(spark, dir, poolCap = 0)))
  }

  test("lang_trigram_id: driver-collected profile == checkpointed " +
    "two-consumer fallback") {
    import graft.operators.TextAnalytics
    assert(rows(TextAnalytics.langTrigramClassify(spark, dir)) ==
      rows(TextAnalytics.langTrigramClassify(spark, dir, profCap = 0)))
  }

  test("the probe refuses inputs over its cap (fallback gate)") {
    val emb = Tables.loadWide(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    assert(WalkDriver.collectEmb(emb, cap = 3).isEmpty)
    assert(WalkDriver.collectEmb(emb).isDefined)
    val pairs = emb.select(col("vec_id").as("src"),
      (col("vec_id") + 1).as("dst"))
    assert(WalkDriver.collectAdj(pairs, cap = 3).isEmpty)
    assert(WalkDriver.collectAdj(pairs).isDefined)
  }

  test("a NULL embedding: collectEmb skips its row but counts it, and " +
    "every driver walk still equals its distributed fallback") {
    val src = Tables.load(spark, dir, "embeddings")
    val n = src.count()
    // an entry node of the spread (i = 1): the entry ids are a function
    // of the distributed loop's emb.count(), NULL row included
    val nullId = 10 + (n - 10) / 8
    val nullDir = java.nio.file.Files.createTempDirectory("emb_null").toString
    src.withColumn("embedding",
        when(col("vec_id") === nullId, lit(null)).otherwise(col("embedding")))
      .write.parquet(s"$nullDir/embeddings.parquet")
    val (embMap, count) = WalkDriver.collectEmb(
      Tables.load(spark, nullDir, "embeddings")
        .select(col("vec_id"), col("embedding"))).get
    assert(count == n && embMap.size == n - 1 && !embMap.contains(nullId))
    assert(rows(Similarity.graphBeamSearch(spark, nullDir)) ==
      rows(Similarity.graphBeamSearchDistributed(spark, nullDir)))
    assert(rows(Similarity.graphGreedySearch(spark, nullDir)) ==
      rows(Similarity.graphGreedySearchDistributed(spark, nullDir)))
    assert(rows(Similarity.hnswSearch(spark, nullDir)) ==
      rows(Similarity.hnswSearchDistributed(spark, nullDir)))
  }

  test("the driver walk removes the per-superstep jobs: beam store " +
    "serve submits fewer jobs than the distributed serve") {
    val store = Similarity.buildGraphStore(spark, dir, 8)
    def run(df: => DataFrame): Int =
      TestSession.countJobs {
        df.write.format("noop").mode("overwrite").save()
      }
    val driverJobs = run(Similarity.graphBeamServeFrom(spark, dir, store,
      Similarity.GraphStoreBuckets))
    val distJobs = run(Similarity.graphBeamServeFromDistributed(spark, dir,
      store, Similarity.GraphStoreBuckets))
    // distributed: one action per superstep (8) + entry/final; driver:
    // corpus probe + edge collect + the result write (each bounded
    // collect is an incremental executeTake, so 1-3 jobs apiece)
    assert(driverJobs + 3 <= distJobs,
      s"driver=$driverJobs dist=$distJobs")
  }
}
