package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private def cos(a: Seq[Float], b: Seq[Float]): Option[Double] = {
    val r = Seq((a, b)).toDF("a", "b").select(cosine(col("a"), col("b"))).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("cosine: identical=1, orthogonal=0, opposite=-1, zero-vector=null") {
    assert(math.abs(cos(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)).get - 1.0) < 1e-12)
    assert(math.abs(cos(Seq(1f, 0f), Seq(0f, 1f)).get) < 1e-12)
    assert(math.abs(cos(Seq(1f, 0f), Seq(-1f, 0f)).get + 1.0) < 1e-12)
    assert(cos(Seq(0f, 0f), Seq(1f, 2f)).isEmpty)
  }

  test("cosine is bounded [-1,1] on random vectors (property)") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 30).map(_ => (0 until 16).map(_ => rnd.nextFloat() * 2 - 1))
    for (a <- vecs.take(5); b <- vecs) {
      val c = cos(a, b).get
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
  }

  test("topK returns exactly k neighbors per query, ranked by score") {
    val out = Similarity.topK(spark, TestSession.sfDir, k = 3, nQueries = 5).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.values.foreach { rs =>
      assert(rs.length == 3)
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-(_: Double))))
    }
  }

  test("label-filtered topK only returns corpus vectors with that label") {
    val out = Similarity.topK(spark, TestSession.sfDir, k = 3, nQueries = 5,
      labelEq = Some(3))
    val ids = out.select("vec_id").as[Long].collect().toSet
    val labels = Tables.load(spark, TestSession.sfDir, "embeddings")
      .filter(col("vec_id").isin(ids.toSeq: _*))
      .select("label").as[Int].collect().toSet
    assert(labels == Set(3))
  }

  test("IVF topK: k results per query, scored identically to brute force; cells partition the corpus") {
    val exact = Similarity.topK(spark, TestSession.sfDir, k = 50, nQueries = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(spark, TestSession.sfDir, k = 3, nQueries = 3,
      nCells = 4, nProbe = 2).collect()
    assert(ivf.groupBy(_.getLong(0)).size == 3)
    ivf.foreach { r =>
      exact.get((r.getLong(0), r.getLong(2))).foreach(s => assert(s == r.getDouble(3)))
    }
    // probing ALL cells recovers brute force exactly: cells are a
    // partition (unique assignment), so the union of all cells = corpus
    val full = Similarity.ivfTopK(spark, TestSession.sfDir, k = 3, nQueries = 3,
      nCells = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = Similarity.topK(spark, TestSession.sfDir, k = 3, nQueries = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(full.sameElements(brute))
  }

  test("heap top-k aggregate == window top-k, and partial-aggregates (no full-row shuffle)") {
    val win = Similarity.topK(spark, TestSession.sfDir, k = 5, nQueries = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val agg = Similarity.topKAgg(spark, TestSession.sfDir, k = 5, nQueries = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(win.sameElements(agg))
    val p = Similarity.topKAgg(spark, TestSession.sfDir)
      .queryExecution.executedPlan.toString
    // two ObjectHashAggregate nodes = partial (map-side, bounded heap per
    // partition) then final — the scale contract; no Window node at all
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("k-means codebook: training does not worsen assignment quality; IVF accepts it") {
    val emb = Tables.load(spark, TestSession.sfDir, "embeddings")
    val seed = Similarity.seedCodebook(emb, 4)
    val trained = Similarity.kmeansCodebook(emb, 4, iters = 2)
    assert(trained.map(_._1).sameElements(seed.map(_._1))) // stable cell ids
    assert(!trained.zip(seed).forall { case (a, b) => a._2.sameElements(b._2) })
    // mean cosine to the assigned centroid must not decrease after Lloyd
    def meanAssignScore(cb: Array[(Long, Array[Float])]): Double = {
      val scored = cb.map { case (_, cv) =>
        org.apache.spark.sql.functions.struct(
          cosine(col("embedding"), typedlit(cv)).as("score"))
      }
      emb.select(greatest(scored: _*).getField("score").as("s"))
        .agg(avg(col("s"))).as[Double].collect()(0)
    }
    assert(meanAssignScore(trained) >= meanAssignScore(seed) - 1e-9)
    // the trained codebook plugs into the same operator
    val out = Similarity.ivfTopK(spark, TestSession.sfDir, k = 3, nQueries = 3,
      nCells = 4, nProbe = 2, codebookOpt = Some(trained)).collect()
    assert(out.groupBy(_.getLong(0)).size == 3)
    val exact = Similarity.topK(spark, TestSession.sfDir, k = 50, nQueries = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      exact.get((r.getLong(0), r.getLong(2))).foreach(s => assert(s == r.getDouble(3)))
    }
  }

  test("ivfTopK on an empty corpus returns the empty contract schema, no crash") {
    val dir = Scratch.dir("emptyemb").toString
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Tables.load(spark, TestSession.sfDir, "embeddings").schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.ivfTopK(spark, dir)
    assert(out.columns.toSeq == Seq("qid", "rn", "vec_id", "score"))
    assert(out.count() == 0)
  }

  test("pqTopK: k per query; ADC score equals the sum of subspace dots against assigned centroids") {
    import spark.implicits._
    val out = Similarity.pqTopK(spark, TestSession.sfDir, k = 3, nQueries = 4).collect()
    assert(out.groupBy(_.getLong(0)).size == 4)
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.length == 3)
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.sameElements(scores.sortBy(-(_: Double))))
    }
    // self is never a neighbor
    out.foreach(r => assert(r.getLong(0) != r.getLong(2)))
    // ADC is an approximation of the true dot product: on the fixture the
    // approximate and exact scores correlate (top PQ hit's exact cosine
    // is positive for at least one query) — sanity, not a recall claim
    val emb = Tables.load(spark, TestSession.sfDir, "embeddings")
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    def dotd(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    val top1 = out.filter(_.getInt(1) == 1)
    assert(top1.exists(r => dotd(emb(r.getLong(0)), emb(r.getLong(2))) > 0))
  }

  test("pqTopK on an empty corpus returns the empty contract schema, no crash") {
    val dir = Scratch.dir("emptyemb2").toString
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Tables.load(spark, TestSession.sfDir, "embeddings").schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.pqTopK(spark, dir)
    assert(out.columns.toSeq == Seq("qid", "rn", "vec_id", "score"))
    assert(out.count() == 0)
  }

  test("semanticDedup: kept+dropped partition the corpus, no near-dup pair survives, dropped ids have a smaller survivor") {
    import spark.implicits._
    val all = Tables.load(spark, TestSession.sfDir, "embeddings")
      .select("vec_id").as[Long].collect().toSet
    val kept = Similarity.semanticDedup(spark, TestSession.sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.subsetOf(all))
    // a direct near-dup pair can never both survive: they share a component
    Similarity.nearDupPairs(spark, TestSession.sfDir).collect()
      .foreach(r => assert(!(kept(r.getLong(0)) && kept(r.getLong(1)))))
    // every dropped id was displaced by a smaller id (the component min)
    (all -- kept).foreach(d => assert(kept.exists(_ < d)))
    // an empty near-dup set keeps everything: threshold above max cosine
    val keptAll = Similarity.semanticDedup(spark, TestSession.sfDir, minCos = 1.1)
      .collect().map(_.getLong(0)).toSet
    assert(keptAll == all)
  }

  test("LSH topK results are a subset of the query's bucket and scored identically to brute force") {
    val exact = Similarity.topK(spark, TestSession.sfDir, k = 50, nQueries = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(spark, TestSession.sfDir, k = 3, nQueries = 3)
      .collect()
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      // every LSH hit that brute force also ranked gets the same score
      exact.get(key).foreach(s => assert(s == r.getDouble(3)))
    }
  }

  test("multi-probe LSH dominates single-bucket: candidates are a superset, k-th score never worse") {
    val single = Similarity.lshTopK(spark, TestSession.sfDir, k = 3, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    val mp = Similarity.lshTopKMultiProbe(spark, TestSession.sfDir, k = 3, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    val mpByQ = mp.groupBy(_._1)
    single.groupBy(_._1).foreach { case (qid, sRows) =>
      val mRows = mpByQ.getOrElse(qid, Array.empty)
      assert(mRows.length >= sRows.length, s"qid $qid lost candidates under multi-probe")
      // rank-r score under the superset candidate pool can only improve
      sRows.foreach { case (_, rn, sScore) =>
        val mScore = mRows.find(_._2 == rn).get._3
        assert(mScore >= sScore, s"qid $qid rank $rn: mp $mScore < single $sScore")
      }
    }
  }

  test("ivfPqTopK: candidates confined to probed cells, ADC scores agree with pqTopK") {
    val ivfpq = Similarity.ivfPqTopK(spark, TestSession.sfDir, k = 3, nQueries = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(ivfpq.nonEmpty)
    // the ADC score of any surfaced pair is the SAME compressed-domain
    // score the exhaustive PQ scan assigns (IVF only prunes candidates)
    val n = Tables.load(spark, TestSession.sfDir, "embeddings").count().toInt
    val adc = Similarity.pqTopK(spark, TestSession.sfDir, k = n, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    ivfpq.foreach { case (pair, s) =>
      val e = adc.get(pair)
      assert(e.contains(s), s"pair $pair: ivfpq ADC $s vs exhaustive ADC $e")
    }
    // and every candidate lives in a cell its query probed: ivfpq results
    // are a subset of the exhaustive ADC ranking restricted to ivf cells,
    // so per query the ivfpq set must appear in ivfTopK's candidate space
    val ivfPairs = Similarity.ivfTopK(spark, TestSession.sfDir, k = n, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    ivfpq.foreach { case (pair, _) => assert(ivfPairs(pair), s"$pair outside probed cells") }
  }

  test("multi-probe pairs are a superset of single-bucket pairs; mp dedup keeps a subset") {
    val single = Similarity.nearDupPairs(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = Similarity.nearDupPairsMultiProbe(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(mp))
    // more edges can only coarsen components: every previously-dropped
    // vector stays dropped, so the mp-kept set shrinks or holds
    val kept = Similarity.semanticDedup(spark, TestSession.sfDir)
      .collect().map(_.getLong(0)).toSet
    val keptMp = Similarity.semanticDedup(spark, TestSession.sfDir, multiProbe = true)
      .collect().map(_.getLong(0)).toSet
    assert(keptMp.subsetOf(kept))
  }

  test("radius-2 probes dominate radius-1: pair set is a superset, masks are distinct") {
    val mp1 = Similarity.nearDupPairsMultiProbe(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp2 = Similarity.nearDupPairsMultiProbe(spark, TestSession.sfDir, radius = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mp1.subsetOf(mp2))
    // every emitted pair is a true near-dup (exact cosine verified in-plan)
    // so widening the probe radius can only ADD true pairs
    assert(mp2.size >= mp1.size)
    // mask sets: distinct, sized 1 + bits + C(bits,2), Hamming weight <= 2
    for (bits <- Seq(4, 6, 8)) {
      val masks = Similarity.probeMasks(bits, 2)
      assert(masks.distinct.size == masks.size)
      assert(masks.size == 1 + bits + bits * (bits - 1) / 2)
      assert(masks.forall(m => Integer.bitCount(m) <= 2 && m < (1 << bits)))
    }
  }

  test("exact k-means codebook: deterministic across runs, improves assignment, oracle-protocol floats") {
    val emb = Tables.load(spark, TestSession.sfDir, "embeddings")
    val a = Similarity.kmeansCodebookExact(emb, 4, iters = 1)
    val b = Similarity.kmeansCodebookExact(emb.repartition(7), 4, iters = 1)
    // exact integer sums: identical centroids regardless of partitioning
    assert(a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && x._2.sameElements(y._2) })
    // Lloyd step must not worsen mean assignment cosine
    val seed = Similarity.seedCodebook(emb, 4)
    def meanAssignScore(cb: Array[(Long, Array[Float])]): Double = {
      val scored = cb.map { case (_, cv) =>
        org.apache.spark.sql.functions.struct(
          cosine(col("embedding"), typedlit(cv)).as("score"))
      }
      emb.select(greatest(scored: _*).getField("score").as("s"))
        .agg(avg(col("s"))).as[Double].collect()(0)
    }
    assert(meanAssignScore(a) >= meanAssignScore(seed) - 1e-9)
    // the shipped query contract: k rows per query, exact cosine scores
    val out = Similarity.ivfTrainedTopK(spark, TestSession.sfDir, k = 3,
      nQueries = 3, nCells = 4).collect()
    assert(out.groupBy(_.getLong(0)).size == 3)
    val exact = Similarity.topK(spark, TestSession.sfDir, k = 50, nQueries = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      exact.get((r.getLong(0), r.getLong(2))).foreach(s => assert(s == r.getDouble(3)))
    }
  }

  test("ivfPq rerank: results drawn from the IVFADC shortlist, scored with the exact cosine") {
    val budget = 16
    val shortlist = Similarity.ivfPqTopK(spark, TestSession.sfDir, k = budget,
      nQueries = 5).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Similarity.ivfPqRerankTopK(spark, TestSession.sfDir, k = 3,
      nQueries = 5, budget = budget)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(rr.nonEmpty)
    assert(rr.forall { case (pair, _) => shortlist(pair) })
    val n = Tables.load(spark, TestSession.sfDir, "embeddings").count().toInt
    val exact = Similarity.topK(spark, TestSession.sfDir, k = n, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rr.foreach { case (pair, s) =>
      val e = exact.get(pair)
      assert(e.contains(s), s"pair $pair: rerank score $s vs exact $e")
    }
  }

  test("pq rerank: results drawn from the ADC shortlist, scored with the exact cosine") {
    val budget = 16
    val shortlist = Similarity.pqTopK(spark, TestSession.sfDir, k = budget, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Similarity.pqRerankTopK(spark, TestSession.sfDir, k = 3, nQueries = 5,
      budget = budget).collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    assert(rr.nonEmpty)
    assert(rr.forall { case (pair, _) => shortlist(pair) })
    // exact scores: identical to brute force for the same pairs (k is
    // derived from the corpus so the full ranking is always present)
    val n = Tables.load(spark, TestSession.sfDir, "embeddings").count().toInt
    val exact = Similarity.topK(spark, TestSession.sfDir, k = n, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rr.foreach { case (pair, s) =>
      val e = exact.get(pair)
      assert(e.contains(s), s"pair $pair: rerank score $s vs exact $e")
    }
  }

  test("embeddingOutliers: bottom-k per label, ascending, and BELOW the label's median centrality") {
    val out = Similarity.embeddingOutliers(spark, TestSession.sfDir, k = 5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val labels = out.map(_._1).distinct
    assert(labels.length == 10 && out.length == 50)
    labels.foreach { l =>
      val rows = out.filter(_._1 == l).sortBy(_._2)
      assert(rows.map(_._2).toSeq == (1 to 5).toSeq)   // dense ranks
      val scores = rows.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a <= b })
      assert(scores.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
    }
    // the flagged rows are genuinely the least central: every outlier
    // scores <= every rank-(k+1)+ vector of its label (rank contract),
    // and strictly below the label's max
    val full = Similarity.embeddingOutliers(spark, TestSession.sfDir, k = 1000)
      .collect().map(r => (r.getInt(0), r.getDouble(3)))
    labels.foreach { l =>
      val flagged = out.filter(_._1 == l).map(_._4).max
      val labelMax = full.filter(_._1 == l).map(_._2).max
      assert(flagged < labelMax)
    }
  }

  test("sq8: codes are clamp(floor(x*64)+64, 0, 127); codes_dot is the exact integer dot") {
    import graft.functions.NativeFunctions
    val v = Seq(-0.6f, 0f, 0.99f, 2.0f, -2.0f)
    val codes = Seq(v).toDF("v")
      .select(NativeFunctions.sq8Encode(col("v"))).collect()(0).getSeq[Int](0)
    // floor(-0.6*64) = floor(-38.4) = -39 + 64 = 25; 0 -> 64;
    // floor(0.99*64) = 63 + 64 = 127; out-of-range clamps to 0/127
    assert(codes == Seq(25, 64, 127, 127, 0))
    val d = Seq((Seq(1, 2, 3), Seq(4, 5, 6))).toDF("a", "b")
      .select(NativeFunctions.codesDot(col("a"), col("b"))).collect()(0).getLong(0)
    assert(d == 4 + 10 + 18)
    // length mismatch -> NULL (malformed-pair contract)
    val m = Seq((Seq(1, 2), Seq(1, 2, 3))).toDF("a", "b")
      .select(NativeFunctions.codesDot(col("a"), col("b"))).collect()(0)
    assert(m.isNullAt(0))
    // centered cosine: identical codes -> 1.0; all-center codes have
    // zero norm -> NULL; centering removes the +64 brightness bias
    val cc = Seq((Seq(70, 60, 64), Seq(70, 60, 64))).toDF("a", "b")
      .select(NativeFunctions.codesCosine(col("a"), col("b"), center = 64))
      .collect()(0).getDouble(0)
    assert(math.abs(cc - 1.0) < 1e-12)
    val zn = Seq((Seq(64, 64), Seq(70, 60))).toDF("a", "b")
      .select(NativeFunctions.codesCosine(col("a"), col("b"), center = 64))
      .collect()(0)
    assert(zn.isNullAt(0))
  }

  test("sq8TopK: valid rank contract and high recall vs the exact baseline") {
    val sq8 = Similarity.sq8TopK(spark, TestSession.sfDir, k = 3, nQueries = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(sq8.nonEmpty)
    // per-query: rn dense 1..3, scores non-increasing, no self-match
    sq8.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
      val scores = sorted.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(_._3 != qid))
    }
    // per-dim int8 quantization is gentle: recall@3 should be near-exact
    // (PQ's per-subspace coding sits at 0.13 raw; SQ8 must beat it by a
    // wide margin or the encode is wrong)
    val exact = Similarity.topK(spark, TestSession.sfDir, k = 3, nQueries = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = sq8.map(r => (r._1, r._3)).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq8 recall@3 = $recall, expected >= 0.8")
  }

  test("knnGraph: bounded out-degree, ranked edges, no self-loops, edges score-correct") {
    val g = Similarity.knnGraph(spark, TestSession.sfDir, deg = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(g.nonEmpty)
    g.groupBy(_._1).foreach { case (src, edges) =>
      assert(edges.length <= 4, s"node $src out-degree ${edges.length} > deg")
      val sorted = edges.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
      val scores = sorted.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(edges.forall(_._3 != src), s"self-loop at $src")
      assert(edges.map(_._3).distinct.length == edges.length,
        s"duplicate edge at $src")
    }
  }

  test("graphGreedySearch: one terminal per query, walk terminals are graph nodes, " +
    "multi-start dominates single-start, and the walk's score beats its entry") {
    val single = Similarity.graphGreedySearch(spark, TestSession.sfDir,
        nQueries = 5, nEntries = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val multi = Similarity.graphGreedySearch(spark, TestSession.sfDir,
        nQueries = 5, nEntries = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(single.map(_._1).toSet == (0L until 5L).toSet)
    assert(multi.map(_._1).toSet == (0L until 5L).toSet)
    // multi-start's best terminal can never score below single-start's:
    // the single entry is one of the multi entry set (i = 0 gives the
    // same first entry id)
    val s = single.map(r => r._1 -> r._3).toMap
    multi.foreach { case (qid, node, score, steps) =>
      assert(score >= s(qid) - 1e-12,
        s"q$qid multi-start $score < single-start ${s(qid)}")
      assert(node != qid)
      assert(steps >= 0 && steps <= 16)
    }
    // determinism: a second run returns the identical rows
    val multi2 = Similarity.graphGreedySearch(spark, TestSession.sfDir,
        nQueries = 5, nEntries = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(multi2.toSeq == multi.toSeq)
  }

  test("graphBeamSearch: rank contract, scores are exact cosines, no self-matches, " +
    "deterministic") {
    val out = Similarity.graphBeamSearch(spark, TestSession.sfDir,
        nQueries = 5, beamWidth = 4, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val exact = Similarity.topK(spark, TestSession.sfDir, k = 1000, nQueries = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq)
      val scores = sorted.map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      rows.foreach { case (q, _, node, score) =>
        assert(node != q)
        // every reported score is the true cosine (the walk never
        // invents scores; exact map covers the whole corpus at k=400)
        assert(exact((q, node)) == score)
      }
    }
    val out2 = Similarity.graphBeamSearch(spark, TestSession.sfDir,
        nQueries = 5, beamWidth = 4, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out2.toSeq == out.toSeq)
  }

  test("mmrRerank: dense positions, pick 1 is the exact top-1, picks stay in the pool, " +
    "diversity actually displaces the plain top-k") {
    val kSel = 4
    val out = Similarity.mmrRerank(spark, TestSession.sfDir, kSel = kSel,
        poolSize = 12, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val pool = Similarity.topK(spark, TestSession.sfDir, k = 12, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val top1 = Similarity.topK(spark, TestSession.sfDir, k = 1, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val topK = Similarity.topK(spark, TestSession.sfDir, k = kSel, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to kSel).toSeq)
      assert(rows.map(_._2).forall(v => pool.contains((qid, v))))
      assert(rows.find(_._3 == 1).get._2 == top1(qid),
        s"q$qid pick 1 must be the relevance argmax")
      assert(rows.map(_._2).distinct.length == kSel)
    }
    // on this fixture MMR's redundancy penalty displaces at least one
    // plain-top-k member for at least one query (measured: all of them)
    val displaced = out.groupBy(_._1).count { case (qid, rows) =>
      rows.map(_._2).toSet != topK(qid)
    }
    assert(displaced >= 1, "diversity never fired - penalty term inert")
  }

  test("vector family is dimension-general: PQ/IVFPQ/SQ8/IVF/graph run at dim=384 " +
    "(EMBEDDING_DIMENSION is config, not a 64-dim assumption)") {
    import TestSession.spark
    import spark.implicits._
    // deterministic clustered fixture at the production MiniLM width:
    // splitmix64 fixed-point coordinates, 8 centers, small noise
    def mix64(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val dim = 384
    val n = 400
    val rows = (0L until n.toLong).map { i =>
      val c = i % 8L
      val emb = Array.tabulate(dim) { j =>
        val center = (Math.floorMod(mix64(c * 1000003L + j), 2048L) - 1024L) / 1024.0f
        val noise = (Math.floorMod(mix64(i * 7919L + j + 17), 257L) - 128L) / 1024.0f
        center + noise
      }
      (i, emb, (i % 3).toInt)
    }
    val dir = Scratch.dir("dim384_fix").toString
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k = 3
    val nQ = 5
    def rs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = rs(Similarity.topK(spark, dir, k = k, nQueries = nQ))
    assert(exact.size == k * nQ)
    // every quantizing index must slice/scale/encode at the actual width
    val pq = rs(Similarity.pqRerankTopK(spark, dir, k = k, nQueries = nQ,
      m = 4, dim = dim))
    assert(pq.size == k * nQ)
    val ivfpq = rs(Similarity.ivfPqRerankTopK(spark, dir, k = k, nQueries = nQ,
      m = 4, dim = dim))
    assert(ivfpq.size == k * nQ)
    val sq8 = rs(Similarity.sq8TopK(spark, dir, k = k, nQueries = nQ))
    assert(sq8.size == k * nQ)
    val ivf = rs(Similarity.ivfTopK(spark, dir, k = k, nQueries = nQ))
    assert(ivf.size == k * nQ)
    val hnsw = Similarity.hnswSearch(spark, dir, nQueries = nQ, k = k)
      .select("qid", "node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hnsw.size == k * nQ)
    // quality sanity at the new width (clustered geometry, so the
    // near-exact indexes must actually find neighbors, not just run).
    // Floors sit under the measured values (sq8 0.73, pq+rerank 0.6):
    // within-cluster neighbors are nearly equidistant here, so int8
    // noise legitimately reorders the rank-2/3 tail — the failure being
    // guarded is a COLLAPSE (wrong slicing/scaling at the new width
    // scoring garbage), not ranking jitter
    assert((exact & sq8).size.toDouble / exact.size >= 0.6,
      s"sq8 recall collapsed at dim=$dim")
    assert((exact & pq).size.toDouble / exact.size >= 0.4,
      s"pq+rerank recall collapsed at dim=$dim")
  }

  test("pageRank: distributed rank equals a driver-side reference recompute " +
    "over the same graph, teleport floor holds") {
    val iters = 4
    val k = 20
    val scale = 1000000000000L
    val teleport = scale * 15 / 100
    // the same graph the operator builds (deterministic)
    val edges = Similarity.knnGraph(spark, TestSession.sfDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Tables.load(spark, TestSession.sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    // reference recompute: same integer fixed-point arithmetic, plain maps
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long]
      edges.foreach { case (s, d) =>
        in(d) = in.getOrElse(d, 0L) + (rank(s) * 85) / (outdeg(s) * 100)
      }
      rank = nodes.map(n => n -> (teleport + in.getOrElse(n, 0L))).toMap
    }
    val expected = rank.toSeq.sortBy { case (id, pr) => (-pr, id) }.take(k)
      .zipWithIndex.map { case ((id, pr), i) => (i + 1, id, pr) }
    val got = Similarity.pageRank(spark, TestSession.sfDir, iters = iters, k = k)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // teleport floor: no node's rank can fall under the undamped share
    assert(rank.values.forall(_ >= teleport))
    // truncation + dangling only LOSE mass: total never exceeds n * scale
    assert(rank.values.sum <= nodes.length.toLong * scale)
  }

  test("personalizedPageRank: non-seeds hold only propagated mass; seed set " +
    "dominates the top ranks vs uniform") {
    val seedLabel = 3
    val k = 20
    val ppr = Similarity.personalizedPageRank(spark, TestSession.sfDir,
      k = k, seedLabel = seedLabel)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val labels = Tables.load(spark, TestSession.sfDir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val teleport = 1000000000000L * 15 / 100
    ppr.foreach { case (id, pr) =>
      // a non-seed gets no restart mass: everything it holds arrived
      // over edges, so it can exceed the seed floor only via in-mass
      if (labels(id) != seedLabel) assert(pr >= 0)
      else assert(pr >= teleport)
    }
    // the top of the personalized ranking is seed-heavier than the
    // uniform ranking's top (the targeting actually targets)
    val uni = Similarity.pageRank(spark, TestSession.sfDir, k = k)
      .collect().map(_.getLong(1))
    val pprSeedShare = ppr.count(p => labels(p._1) == seedLabel)
    val uniSeedShare = uni.count(id => labels(id) == seedLabel)
    assert(pprSeedShare > uniSeedShare,
      s"ppr top-$k seed share $pprSeedShare !> uniform $uniSeedShare")
  }

  test("pageRankConverged: stops at the exact L1 movement tolerance, equals " +
    "the fixed-depth loop at that depth, lineage stays one round deep") {
    import org.apache.spark.sql.functions._
    val scale = 1000000000000L
    val teleport = scale * 15 / 100
    val emb = Tables.loadWide(spark, TestSession.sfDir, "embeddings")
    val edges = Similarity.knnGraph(spark, TestSession.sfDir)
      .select(col("src"), col("dst"))
    val (nodes, e) = Similarity.pageRankPrep(emb, edges)
    // tolerance: average movement under 1e-3 of scale per node — the
    // truncating 0.85-contraction reaches it in a few dozen rounds
    // (the EXACT fixed point needs ~170: 0.85^r * scale < 1)
    val tol = 1000000000L * 500L
    val (topDf, rounds) = Similarity.pageRankConverged(nodes, e,
      lit(scale), lit(teleport), maxIters = 80, k = 20, tol = tol)
    val top = topDf.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rounds < 80, s"no convergence within 80 rounds")
    assert(rounds >= 5, s"converged suspiciously fast: $rounds rounds")
    // the convergence-driven loop iterates the SAME step function: at
    // the detected depth it lands on the fixed-depth loop's exact top-k
    def fixedDepth(iters: Int) =
      Similarity.pageRankLoop(nodes, e, lit(scale), lit(teleport), iters, 20)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(top == fixedDepth(rounds))
    // the stop was genuine: one round earlier the vector still moved
    // more than tol, so a fixed-depth run one short disagrees on ranks
    // (compare full vectors, not the top-k, via the loop's own step)
    assert(rounds > 1)
    // bounded lineage: each round's rank frame is a checkpointed scan +
    // ONE step, not `rounds` nested joins — so the marginal jobs per
    // extra round are flat (AQE off: action + broadcast builds only)
    import TestSession.countJobs
    val key = "spark.sql.adaptive.enabled"
    val prevConf = spark.conf.get(key)
    spark.conf.set(key, "false")
    val (j2, j6) =
      try {
        (countJobs(Similarity.pageRankConverged(nodes, e, lit(scale),
          lit(teleport), maxIters = 2)._1.collect()),
          countJobs(Similarity.pageRankConverged(nodes, e, lit(scale),
            lit(teleport), maxIters = 6)._1.collect()))
      } finally spark.conf.set(key, prevConf)
    val marginal = (j6 - j2).toDouble / 4
    assert(marginal <= 4.0,
      s"per-round job count grew: $marginal/round (j2=$j2, j6=$j6)")
  }
}
