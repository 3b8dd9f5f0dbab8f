package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import graft.operators.{BeamDescent, Similarity, WalkDriver}
import graft.streaming.StreamOps

/** r13: the bounded driver walk must be indistinguishable from the
  * distributed superstep loop it replaces — same rows, same order,
  * bit-identical doubles — and the probe must refuse anything over its
  * cap (the fallback gate). */
class R13WalkDriverSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Every beam descent over the corpus in `d`: name -> (its entry
    * point, its descent). */
  private def descents(d: String): Map[String, (() => DataFrame, () => BeamDescent.Descent)] = {
    lazy val store = Similarity.buildGraphStore(spark, d, 8)
    lazy val (hStore, maxl) = Similarity.buildHnswStore(spark, d, 8)
    val nb = Similarity.GraphStoreBuckets
    Map(
      "graph_beam_search" -> (() => Similarity.graphBeamSearch(spark, d),
        () => Similarity.graphBeamDescent(spark, d)),
      "graph_beam_store" -> (() => Similarity.graphBeamServeFrom(spark, d, store, nb),
        () => Similarity.graphBeamServeDescent(spark, d, store, nb)),
      "graph_hnsw_search" -> (() => Similarity.hnswSearch(spark, d),
        () => Similarity.hnswDescent(spark, d)),
      "graph_hnsw_store" -> (() => Similarity.hnswServeFromStore(spark, d, hStore, maxl),
        () => Similarity.hnswStoreDescent(spark, d, hStore, maxl)),
      "stream_hnsw_search" -> (() => StreamOps.streamHnswSearchQuery(spark, d),
        () => StreamOps.streamHnswDescent(spark, d)),
      "stream_graph_beam" -> (() => StreamOps.streamGraphBeamQuery(spark, d),
        () => StreamOps.streamGraphBeamDescent(spark, d)))
  }

  /** The entry point takes the driver walk (fixture scale fits every
    * cap) and returns exactly what the distributed executor returns. */
  private def assertDriverEqualsDistributed(d: String, name: String): Unit = {
    val (entry, descent) = descents(d)(name)
    val dsc = descent()
    assert(BeamDescent.collect(dsc).isDefined, s"$name: driver path refused")
    val driver = rows(entry())
    assert(driver.nonEmpty && driver == rows(BeamDescent.distributed(spark, dsc)), name)
  }

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
    assertDriverEqualsDistributed(dir, "graph_beam_search")
  }

  test("graphGreedySearch: driver walk == distributed superstep loop") {
    assert(rows(Similarity.graphGreedySearch(spark, dir)) ==
      rows(Similarity.graphGreedySearchDistributed(spark, dir)))
  }

  test("hnswSearch: driver walk == distributed superstep loop") {
    assertDriverEqualsDistributed(dir, "graph_hnsw_search")
  }

  test("graphBeamServeFrom: driver walk == bucket-pruned distributed serve") {
    assertDriverEqualsDistributed(dir, "graph_beam_store")
  }

  test("hnswServeFromStore: driver walk == pruned distributed serve") {
    assertDriverEqualsDistributed(dir, "graph_hnsw_store")
  }

  test("streamHnswSearchQuery: driver walk == per-layer pruned distributed serve") {
    assertDriverEqualsDistributed(dir, "stream_hnsw_search")
  }

  test("streamGraphBeamQuery: driver walk == bucket-pruned distributed serve") {
    assertDriverEqualsDistributed(dir, "stream_graph_beam")
  }

  test("beam descent at the caps: n nodes at nodeCap = n walk on the driver, " +
    "nodeCap = n - 1 falls back with equal rows; the edge budget is the sum " +
    "over every phase") {
    val d = Similarity.graphBeamDescent(spark, dir)
    val n = Tables.load(spark, dir, "embeddings").count().toInt
    assert(BeamDescent.collect(d, nodeCap = n).isDefined)
    assert(BeamDescent.collect(d, nodeCap = n - 1).isEmpty)
    val atCap = rows(BeamDescent.run(spark, d, nodeCap = n))
    assert(atCap.nonEmpty && atCap == rows(BeamDescent.run(spark, d, nodeCap = n - 1)))
    val h = Similarity.hnswDescent(spark, dir)
    val perPhase = h.phases.map(_.edges).collect {
      case BeamDescent.Graph(g) => g.count().toInt
    }
    assert(perPhase.size == h.phases.size && perPhase.count(_ > 0) >= 2, perPhase)
    val total = perPhase.sum
    assert(BeamDescent.collect(h, edgeCap = total).isDefined)
    // every layer fits the cap alone; only their sum is over it
    assert(perPhase.max < total - 1)
    assert(BeamDescent.collect(h, edgeCap = total - 1).isEmpty)
  }

  test("nQueries = 0: both executors return an empty frame of the " +
    "(qid, rn, node, score) schema") {
    val schema = Seq("qid" -> LongType, "rn" -> IntegerType,
      "node" -> LongType, "score" -> DoubleType)
    val (hStore, maxl) = Similarity.buildHnswStore(spark, dir, 8)
    for (d <- Seq(Similarity.graphBeamDescent(spark, dir, nQueries = 0),
                  Similarity.hnswStoreDescent(spark, dir, hStore, maxl, nQueries = 0))) {
      assert(BeamDescent.collect(d).isDefined)
      for (f <- Seq(BeamDescent.run(spark, d), BeamDescent.distributed(spark, d))) {
        assert(f.collect().isEmpty)
        assert(f.schema.map(c => c.name -> c.dataType) == schema)
      }
    }
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
    val d = BeamDescent.Descent(emb, 10, BeamDescent.Spread(8),
      Seq(BeamDescent.Phase(BeamDescent.Graph(pairs), 8, 8)), 3)
    assert(BeamDescent.collect(d, edgeCap = 3).isEmpty)
    assert(BeamDescent.collect(d).isDefined)
  }

  test("a NULL embedding: collectEmb skips its row but counts it, and " +
    "every driver walk still equals its distributed fallback") {
    val src = Tables.load(spark, dir, "embeddings")
    val n = src.count()
    // an entry node of the spread (i = 1): the entry ids are a function
    // of the distributed loop's emb.count(), NULL row included
    val nullId = 10 + (n - 10) / 8
    val nullDir = Scratch.dir("emb_null").toString
    src.withColumn("embedding",
        when(col("vec_id") === nullId, lit(null)).otherwise(col("embedding")))
      .write.parquet(s"$nullDir/embeddings.parquet")
    val (embMap, count) = WalkDriver.collectEmb(
      Tables.load(spark, nullDir, "embeddings")
        .select(col("vec_id"), col("embedding"))).get
    assert(count == n && embMap.size == n - 1 && !embMap.contains(nullId))
    descents(nullDir).keys.toSeq.sorted
      .foreach(assertDriverEqualsDistributed(nullDir, _))
    assert(rows(Similarity.graphGreedySearch(spark, nullDir)) ==
      rows(Similarity.graphGreedySearchDistributed(spark, nullDir)))
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
    val distJobs = run(BeamDescent.distributed(spark,
      Similarity.graphBeamServeDescent(spark, dir, store,
        Similarity.GraphStoreBuckets)))
    // distributed: one action per superstep (8) + entry/final; driver:
    // corpus probe + edge collect (one DriverCap job apiece) + the
    // result write
    assert(driverJobs + 3 <= distJobs,
      s"driver=$driverJobs dist=$distJobs")
  }

  test("driver-path Spark jobs per walk, stores prebuilt, stay at or " +
    "below their pinned counts") {
    // one DriverCap job per probe; the edge probe reads knnGraph's
    // unsorted build, so no range-partitioning pass
    val pinned = Seq("graph_beam_search" -> 11, "graph_beam_store" -> 7,
      "graph_hnsw_search" -> 16, "graph_hnsw_store" -> 10,
      "stream_hnsw_search" -> 11, "stream_graph_beam" -> 7,
      "graph_greedy_search" -> 11)
    val counts = pinned.map { case (name, cap) =>
      def run(): Unit = SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      run() // builds the stores
      (name, TestSession.countJobs(run()), cap)
    }
    assert(counts.forall(c => c._2 <= c._3),
      counts.map(c => s"${c._1}: ${c._2} (pinned ${c._3})").mkString("; "))
  }
}
