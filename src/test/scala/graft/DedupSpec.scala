package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  // synthetic corpus with a known dup structure, written once as parquet
  // so the operators' Tables.load path is exercised end-to-end
  private lazy val corpusDir: String = {
    val dir = Scratch.dir("dedup").toString
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s1", 43L), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat", "en", "s2", 43L), // near dup of 0
      (3L, "completely different words entirely unrelated text", "en", "s3", 50L),
      (4L, "", "en", "s4", 0L)) // empty
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exactDedup(spark, corpusDir).collect()
    val byKeeper = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byKeeper(0L) == 2) // docs 0 and 1
    assert(byKeeper(2L) == 1)
    assert(byKeeper(3L) == 1)
  }

  test("jaccard pairs: exact dup has j=1.0, near dup above 0.5, unrelated absent") {
    val out = Dedup.jaccardPairs(spark, corpusDir, minJ = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 1.0))
    assert(out.exists(p => p._1 == 0 && p._2 == 2 && p._3 > 0.5 && p._3 < 1.0))
    assert(!out.exists(p => p._2 == 3 || p._1 == 3))
  }

  test("minhash: identical docs have identical signatures; empty doc gets sentinel") {
    val sigs = Dedup.minhashSignatures(spark, corpusDir).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(3L))
    assert(sigs(4L).forall(_ == Dedup.P))
  }

  test("LSH pairs find the exact and near dup") {
    val out = Dedup.lshPairs(spark, corpusDir, minJ = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.contains((0L, 1L)))
    // near-dup (0,2) has j≈0.56; LSH may or may not band-collide it, but
    // the exact dup must always collide (identical signatures)
  }

  // Zipf-shaped corpus for the PPJoin prefix path: shingles are
  // near-unique per doc (like real text), with planted near-dup pairs —
  // including one at EXACTLY J = 0.9 (subset pair, 9 shared of 10), the
  // case an fp-overshooting ceil would silently prune.
  private lazy val zipfDocs = {
    def words(ids: Seq[Int]) = ids.map(i => s"w$i").mkString(" ")
    val base = (0 until 11).map(_ + 100) // 11 distinct words -> 10 bigrams
    Seq(
      (0L, words(base)),                   // 10 bigrams
      (1L, words(base.take(10))),          // 9 bigrams, subset of 0 -> J = 0.9
      (2L, words(base.map(_ + 50))),       // disjoint vocabulary
      (3L, words(base)),                   // exact dup of 0 -> J = 1.0
      (4L, words(Seq(100, 101) ++ (300 to 306)))) // shares 1 bigram with 0: J << 0.9
      .toDF("doc_id", "text")
  }

  test("prefix-Jaccard (PPJoin path, forced): equals the count-join shape, keeps the exactly-at-threshold pair") {
    val viaPrefix = Dedup.jaccardPrefixPairsOn(zipfDocs, 0.9,
        quadBudget = 0.0, minPruneFactor = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaCount = Dedup.jaccardPairsOn(zipfDocs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaPrefix == viaCount)
    assert(viaPrefix.contains((0L, 1L, 0.9)))  // fp-slack: ceil(0.9*10) must be 9, not 10
    assert(viaPrefix.contains((0L, 3L, 1.0)))
    assert(!viaPrefix.exists(p => p._1 == 2L || p._2 == 2L || p._1 == 4L || p._2 == 4L))
  }

  test("prefix-Jaccard == count-join on randomized corpora (property, seeded)") {
    // mixed df profiles: a Zipf-ish unique tail + planted hot words +
    // planted near-dup clusters at varying overlap, across 3 seeds
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 60).map { i =>
        val base =
          if (i % 5 == 4) {
            // near-dup of the previous doc: copy + perturb tail words
            val prev = 1 + rnd.nextInt(20)
            (0 until 12).map(w => s"s${seed}_d${i - 1}_$w").take(12 - prev % 4) ++
              (0 until prev % 4).map(w => s"mut${i}_$w")
          } else {
            val hot = if (rnd.nextBoolean()) Seq("the", "of") else Seq.empty
            hot ++ (0 until 10 + rnd.nextInt(6)).map(w => s"s${seed}_d${i}_$w")
          }
        (i.toLong, rnd.shuffle(base).mkString(" "))
      }.toDF("doc_id", "text")
      val prefix = Dedup.jaccardPrefixPairsOn(docs, 0.5,
          quadBudget = 0.0, minPruneFactor = 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val count = Dedup.jaccardPairsOn(docs, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix == count, s"seed $seed: prefix path dropped or invented pairs")
    }
  }

  test("prefix-Jaccard dispatch: both fallback gates yield the count-join result") {
    val direct = Dedup.jaccardPairsOn(zipfDocs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // gate 1: the default quadBudget rejects this tiny corpus (candFull
    // far below 256x the index rows) before any prefix index is built
    val viaGate1 = Dedup.jaccardPrefixPairsOn(zipfDocs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // gate 2: force past gate 1, then demand infinite pruning
    val viaGate2 = Dedup.jaccardPrefixPairsOn(zipfDocs, 0.9,
        quadBudget = 0.0, minPruneFactor = Double.PositiveInfinity)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaGate1 == direct && viaGate2 == direct && direct.nonEmpty)
  }

  test("LSH pairs are SOUND on randomized corpora: every reported pair has true J >= minJ (property, seeded)") {
    // LSH is allowed to miss pairs (recall < 1 by banding) but must never
    // report a pair whose verified Jaccard is below the threshold, and
    // every reported score must equal the exact count-join score
    val rnd = new scala.util.Random(23)
    val docs = (0 until 50).map { i =>
      val words =
        if (i % 4 == 3) (0 until 12).map(w => s"d${i - 1}_$w") // exact dup of i-1
        else (0 until 12).map(w => s"d${i}_$w")
      (i.toLong, words.mkString(" "))
    }
    val dir = Scratch.dir("lshprop").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = Dedup.jaccardPairs(spark, dir, minJ = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.lshPairs(spark, dir, minJ = 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(lsh.nonEmpty) // the planted exact dups must band-collide
    lsh.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"$pair reported by LSH but below threshold exactly")
      assert(exact(pair) == j, s"$pair score mismatch")
    }
    // exact dups (J=1.0) are guaranteed to collide in every band
    docs.indices.filter(_ % 4 == 3).foreach { i =>
      assert(lsh.exists(_._1 == ((i - 1).toLong, i.toLong)), s"missed exact dup ($i)")
    }
  }

  test("spanDedup: shared 5-word spans surface with occurrence and doc counts; short/empty docs ignored") {
    val out = Dedup.spanDedup(spark, corpusDir, w = 5, minOcc = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // docs 0, 1 (exact dups) and 2 (same first 8 words) share every
    // 5-span of "the quick brown fox jumps over the lazy"; first_doc = 0
    val hot = out.find(_._1 == "the quick brown fox jumps")
    assert(hot.contains(("the quick brown fox jumps", 3L, 3L, 0L)))
    // the dup-pair-only tail span appears twice in two docs
    assert(out.find(_._1 == "jumps over the lazy dog").contains(("jumps over the lazy dog", 2L, 2L, 0L)))
    // doc 3's unique spans and doc 4 (empty) contribute nothing
    assert(!out.exists(_._1.contains("completely")))
  }

  test("maximalSpans: consecutive duplicated windows chain into one maximal island") {
    val out = Dedup.maximalSpans(spark, corpusDir, w = 5, minOcc = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // docs 0/1: all 5 windows duplicated -> one island covering all 9 words;
    // doc 2: windows 1-4 duplicated (window 5 'jumps over the lazy cat' is
    // unique) -> island of 8 words; docs 3/4 contribute nothing
    assert(out == Seq((0L, 1L, 5L, 9L), (1L, 1L, 5L, 9L), (2L, 1L, 4L, 8L)))
  }

  test("maximalSpans: non-adjacent duplicated regions stay separate islands") {
    import spark.implicits._
    val dir = Scratch.dir("maxspan").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon u1 u2 u3 zeta eta theta iota kappa", "en", "s0", 65L),
      (1L, "alpha beta gamma delta epsilon v1 v2 v3 zeta eta theta iota kappa", "en", "s1", 65L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.maximalSpans(spark, dir, w = 5, minOcc = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // shared prefix (window at pos 1) and shared suffix (pos 9) repeat;
    // the u/v middle keeps windows 2-8 unique -> two 1-window islands per doc
    assert(out == Seq((0L, 1L, 1L, 5L), (0L, 9L, 1L, 5L),
      (1L, 1L, 1L, 5L), (1L, 9L, 1L, 5L)))
  }

  test("spanMask: first occurrence keeps its text, later occurrences mask the shared tokens") {
    val out = Dedup.spanMask(spark, corpusDir, w = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      .sortBy(_._1)
    // doc 0 is the global first occurrence of every duplicated window:
    // fully kept. doc 1 (exact dup) masks all 9 tokens. doc 2 shares
    // windows 1-4 with doc 0 -> tokens 1-8 masked, 'cat' survives.
    assert(out(0) == ((0L, 9L, 0L, "the quick brown fox jumps over the lazy dog")))
    assert(out(1) == ((1L, 9L, 9L, "")))
    assert(out(2) == ((2L, 9L, 8L, "cat")))
    // unique doc untouched; empty doc is 0/0/''
    assert(out(3)._3 == 0L && out(3)._4.nonEmpty)
    assert(out(4) == ((4L, 0L, 0L, "")))
    // masking never removes tokens from a doc with no duplicated window
    assert(out.forall { case (_, n, m, _) => m <= n })
  }

  test("editDistVerify: exact dup at dist 0, near dup within 25%, unrelated absent") {
    val out = Dedup.editDistVerify(spark, corpusDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out((0L, 1L)) == 0L)                  // exact duplicate
    assert(out.get((0L, 2L)).exists(d => d > 0 && d <= 10)) // dog->cat edit
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc must not pair")
  }

  test("decontaminate: train docs sharing w-spans with the benchmark set are flagged with distinct-span counts") {
    // bench = docs 0,1 (identical texts); doc 2 shares five distinct
    // 4-word spans with them, docs 3/4 share none
    val out = Dedup.decontaminate(spark, corpusDir, w = 4, benchBelow = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((2L, 5L)))
  }

  test("bloomDecontaminate: exact decontamination result, even under heavy false positives") {
    val exact = Dedup.decontaminate(spark, corpusDir, w = 4, benchBelow = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // generous filter: fp-rate near zero, pruning does the work
    val big = Dedup.bloomDecontaminate(spark, corpusDir, w = 4, benchBelow = 2,
      mBits = 1 << 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(big == exact)
    // pathological filter: 64 bits for every bench span — most probes
    // are false positives, and every one must die in the exact verify
    val tiny = Dedup.bloomDecontaminate(spark, corpusDir, w = 4, benchBelow = 2,
      mBits = 64, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(tiny == exact)
    // the SQL registry surface: bloom_agg bits round-trip through
    // bloom_contains with no false negatives
    graft.plans.GraftExtensions.registerAll(spark)
    val hit = spark.sql(
      """SELECT bloom_contains(bits, 42L, 3) AS h1,
                bloom_contains(bits, 43L, 3) AS h2
         FROM (SELECT bloom_agg(x, 1024, 3) AS bits
               FROM VALUES (42L), (7L) AS t(x))""").head()
    assert(hit.getBoolean(0))
  }

  test("seqPacking: offsets are exact prefix sums within a shard; chunk boundaries flagged") {
    val out = graft.operators.TextAnalytics.seqPacking(spark, corpusDir,
      cap = 10, shardSize = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // one shard; token counts are 9, 9, 9, 6, 0 -> offsets 0, 9, 18, 27, 33
    assert(out.map(_._3).toSeq == Seq(0L, 9L, 18L, 27L, 33L))
    assert(out.map(_._4).toSeq == Seq(0L, 0L, 1L, 2L, 3L)) // chunk = offset div 10
    // doc 0 spans tokens [0,9): crosses nothing; doc 1 spans [9,18): crosses the 10 boundary
    assert(!out(0)._5 && out(1)._5)
    // cap=33 puts the EMPTY doc's offset (33) exactly on a chunk
    // boundary: a zero-token doc occupies nothing and must not cross
    val edge = graft.operators.TextAnalytics.seqPacking(spark, corpusDir,
      cap = 33, shardSize = 1000).collect()
    assert(!edge.last.getBoolean(4) && edge.last.getLong(3) == 1L)
  }

  test("stratifiedSample: k per lang, fingerprint-minimal, replay-stable") {
    import graft.operators.TextAnalytics
    import graft.functions.TextFunctions.fingerprint
    val out = TextAnalytics.stratifiedSample(spark, TestSession.sfDir, k = 20)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byLang = out.groupBy(_._1)
    byLang.foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq)
      assert(rows.length <= 20)
    }
    // the picks are exactly the k fingerprint-smallest docs of each lang
    val fps = Tables.load(spark, TestSession.sfDir, "documents")
      .select(col("lang"), col("doc_id"), fingerprint(col("text")).as("fp"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    byLang.foreach { case (lang, rows) =>
      val expect = fps.filter(_._1 == lang).sortBy(t => (t._3, t._2))
        .take(rows.length).map(_._2).toSet
      assert(rows.map(_._3).toSet == expect, s"lang $lang picks diverge")
    }
    // replay-stable
    val again = TextAnalytics.stratifiedSample(spark, TestSession.sfDir, k = 20)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("domainCap: at most k docs per source, and it actually caps the fixture") {
    import graft.operators.TextAnalytics
    val k = 15
    val out = TextAnalytics.domainCap(spark, TestSession.sfDir, k = k)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val bySource = out.groupBy(_._1)
    bySource.foreach { case (_, rows) =>
      assert(rows.length <= k)
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // every fixture source holds > k docs, so the cap must bind everywhere
    val total = Tables.load(spark, TestSession.sfDir, "documents").count()
    assert(out.length < total, "cap did not drop anything — fixture too small for k")
    // kept ids are unique (a doc belongs to one domain slot)
    assert(out.map(_._3).distinct.length == out.length)
  }

  test("inferenceBatches: bounded batches, dense slots, in-batch length spread < bucket width") {
    import graft.operators.TextAnalytics
    val out = TextAnalytics.inferenceBatches(spark, TestSession.sfDir,
      bucketWidth = 16, batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.get(4).asInstanceOf[Number].longValue()))
    // every doc appears exactly once
    assert(out.map(_._1).distinct.length == out.length)
    out.groupBy(t => (t._3, t._4)).foreach { case ((bucket, _), rows) =>
      assert(rows.length <= 8)
      assert(rows.map(_._5).sorted.toSeq == (0L until rows.length).toSeq)
      val toks = rows.map(_._2)
      assert(toks.max - toks.min < 16, s"bucket $bucket spread ${toks.max - toks.min}")
      assert(toks.forall(t => t / 16 == bucket))
    }
  }

  test("docRepetition: exact dup/top-bigram fractions; empty and short docs get 0") {
    val out = graft.operators.TextAnalytics.docRepetition(spark, corpusDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 0: 9 tokens, 8 distinct ("the" twice); every bigram unique (8 slots)
    assert(out(0L) == ((9L, 8L, 1.0 / 9.0, 1.0 / 8.0)))
    // doc 3: 6 tokens all distinct
    assert(out(3L) == ((6L, 6L, 0.0, 1.0 / 5.0)))
    // doc 4: empty -> zeros, not NULLs or division errors
    assert(out(4L) == ((0L, 0L, 0.0, 0.0)))
    // whitespace-edged text: trim() strips spaces only, so "\ta b" splits
    // to ["", "a", "b"] — the phantom '' must not create a phantom bigram
    // (the oracle filters before forming bigrams; so must the engine)
    val dir = Scratch.dir("wsedge").toString
    Seq((0L, "\ta b", "en", "s", 4L)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val edge = graft.operators.TextAnalytics.docRepetition(spark, dir).collect()(0)
    assert(edge.getLong(1) == 2L && edge.getDouble(4) == 1.0)
  }

  test("docChunks: overlapping windows cover every token; short docs get one chunk; empty docs none") {
    // doc 0 has 9 tokens; size=4, stride=3 -> K = ceil(5/3) = 2 -> starts 1, 4, 7
    val out = graft.operators.TextAnalytics.docChunks(spark, corpusDir, size = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d0 = out.filter(_._1 == 0L)
    assert(d0.map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0L, 1L, "the quick brown fox"),
      (1L, 4L, "fox jumps over the"),
      (2L, 7L, "the lazy dog")))       // tail chunk short, still covers token 9
    // doc 3: 6 tokens -> K = ceil(2/3) = 1 -> 2 chunks
    assert(out.count(_._1 == 3L) == 2)
    // doc 4 is empty: no chunks at all
    assert(!out.exists(_._1 == 4L))
  }

  test("tfidfKeywords: rare terms outrank common ones; ties break alphabetically") {
    val out = graft.operators.TextAnalytics.tfidfKeywords(spark, corpusDir, k = 2)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getString(2))).toMap
    // doc 0: "the" (tf=2, df=3) scores 2*(5-3+0.5)/3.5 = 1.428.. just above
    // "dog" (tf=1, df=2) at (5-2+0.5)/2.5 = 1.4 — the tf factor matters
    assert(out((0L, 1)) == "the" && out((0L, 2)) == "dog")
    // doc 3: all-unique words tie (tf=1, df=1) -> alphabetical order
    assert(out((3L, 1)) == "completely" && out((3L, 2)) == "different")
  }

  test("bm25Search: rare term outranks common, ties break by doc_id, no-hit docs absent") {
    import graft.operators.TextAnalytics
    val out = TextAnalytics.bm25Search(spark, corpusDir,
        terms = Seq("dog", "cat", "absent"), k = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // corpus: docs 0,1 have 'dog' (df=2), doc 2 has 'cat' (df=1), doc 3
    // matches nothing, doc 4 is empty. N=5 docs, dl=9,9,9,6, avgdl=33/5.
    assert(out.map(_._2).toSeq == Seq(2L, 0L, 1L))
    // scores strictly ranked; docs 0 and 1 are identical texts -> equal
    // scores, tie broken by doc_id
    assert(out(1)._3 == out(2)._3 && out(0)._3 > out(1)._3)
    // hand-computed BM25 for doc 0 / 'dog': idf=(5-2+0.5)/(2+0.5),
    // tfpart=(1*2.2)/(1+1.2*(0.25+0.75*(9/6.6)))
    val expected = (3.5 / 2.5) * (2.2 / (1.0 + 1.2 * (0.25 + 0.75 * (9.0 / (33.0 / 5)))))
    assert(math.abs(out(1)._3 - expected) < 1e-12)
  }

  test("hybridSearch: RRF fuses the two legs exactly; rational score columns consistent") {
    import graft.operators.{TextAnalytics, SchemaRetrieval}
    val terms = Seq("dog", "cat", "absent")
    // k=3 on a 5-doc corpus: the legs only partially overlap, so the
    // fusion sees both lexical-only and vector-only docs
    val out = TextAnalytics.hybridSearch(spark, corpusDir, terms,
        k = 3, kRrf = 60, kOut = 10).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]),
        Option(r.get(3)).map(_.asInstanceOf[Int]),
        r.getLong(4), r.getLong(5)))
    assert(out.map(_._1).toSeq == (1 to out.length)) // contiguous ranks

    // independent recompute: lexical ranks from bm25Search, semantic
    // ranks from a local pseudo-embed + cosine over the corpus
    val lex = TextAnalytics.bm25Search(spark, corpusDir, terms, k = 3)
      .collect().map(r => r.getLong(1) -> r.getInt(0)).toMap
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, na, nb), (x, y)) =>
          (d + x.toDouble * y.toDouble, na + x.toDouble * x.toDouble, nb + y.toDouble * y.toDouble)
      }
      if (na == 0.0 || nb == 0.0) None else Some(d / (math.sqrt(na) * math.sqrt(nb)))
    }
    val q = SchemaRetrieval.pseudoEmbedLocal(terms.mkString(" "), 64)
    val vec = docs.flatMap { case (id, t) =>
        cos(q, SchemaRetrieval.pseudoEmbedLocal(t, 64)).map(id -> _) }
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }
      .filter(_._2 <= 3).toMap
    val fusedIds = (lex.keySet ++ vec.keySet).toSeq
    val expect = fusedIds.map { id =>
        val (l, v) = (lex.get(id), vec.get(id))
        val (num, den) = (l, v) match {
          case (Some(a), Some(b)) => ((a + b + 120).toLong, ((a + 60).toLong * (b + 60)))
          case _                  => (1L, (l.orElse(v).get + 60).toLong)
        }
        (id, l, v, num, den)
      }.sortBy { case (id, _, _, num, den) => (-num.toDouble / den, id) }
    assert(out.toSeq == expect.take(out.length).zipWithIndex.map {
      case ((id, l, v, num, den), i) => (i + 1, id, l, v, num, den) })
    // both legs contribute: the corpus has lexical-only and vector-only docs
    assert(out.exists(_._3.isEmpty) && out.exists(_._4.isEmpty))
  }

  test("qualityFilter: rule reasons accumulate in order; clean doc keeps") {
    import graft.operators.TextAnalytics
    // corpus docs: 0-2 have 9 tokens, 8 distinct ('the' twice in 0-1,
    // dup_frac 1/9; doc 2 likewise), doc 3 has 6 unique tokens (mean
    // word len 45/6 = 7.5), doc 4 empty
    val out = TextAnalytics.qualityFilter(spark, corpusDir,
        minWords = 7, maxWords = 8, maxDupFrac = 0.1).collect()
      .map(r => r.getLong(0) -> ((r.getString(5), r.getBoolean(6)))).toMap
    // docs 0-2: 9 tokens > maxWords AND dup_frac 1/9 > 0.1 — both fire, in order
    assert(out(0L) == (("too_many_words,dup_tokens", false)))
    assert(out(2L) == (("too_many_words,dup_tokens", false)))
    // doc 3: 6 tokens < 7 -> too_few_words only (all words unique)
    assert(out(3L) == (("too_few_words", false)))
    // doc 4: empty -> too_few_words, word_len gated off by n_tokens=0
    assert(out(4L) == (("too_few_words", false)))
    // defaults: doc 3 passes every rule
    val keep = TextAnalytics.qualityFilter(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(keep(3L))
  }

  test("round-4 operators survive an EMPTY corpus (no div-by-zero, no planner errors)") {
    val dir = Scratch.dir("empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    import graft.operators.TextAnalytics
    assert(Dedup.spanDedup(spark, dir).count() == 0)
    assert(Dedup.decontaminate(spark, dir).count() == 0)
    assert(TextAnalytics.tfidfKeywords(spark, dir).count() == 0)
    assert(TextAnalytics.langTopWords(spark, dir).count() == 0)
    assert(TextAnalytics.docRepetition(spark, dir).count() == 0)
    assert(TextAnalytics.seqPacking(spark, dir).count() == 0)
    assert(TextAnalytics.piiScrub(spark, dir).count() == 0)
    assert(TextAnalytics.docSplits(spark, dir).count() == 0)
    assert(TextAnalytics.docChunks(spark, dir).count() == 0)
    assert(TextAnalytics.bm25Search(spark, dir).count() == 0)
    // round-5 additions over documents
    assert(TextAnalytics.stratifiedSample(spark, dir).count() == 0)
    assert(TextAnalytics.inferenceBatches(spark, dir).count() == 0)
    assert(Dedup.dupClusters(spark, dir).count() == 0)
    assert(Dedup.dedupKeep(spark, dir).count() == 0)
    assert(graft.operators.Multimodal.audioStatsQuery(spark, dir).count() == 0)
    // ... and over an empty embeddings table (centroids divide by counts;
    // the KMV pair join needs both sketch rows)
    Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(graft.operators.Similarity.embeddingOutliers(spark, dir).count() == 0)
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.operators.Sketches.kmvSetOps(spark, dir).count() == 0)
    // round-6 additions: trained models over nothing, empty event log
    assert(TextAnalytics.lmFluency(spark, dir).count() == 0)
    assert(TextAnalytics.langTrigramClassify(spark, dir).count() == 0)
    assert(TextAnalytics.textNormalize(spark, dir).count() == 0)
    assert(Dedup.cdcDedup(spark, dir).count() == 0)
    assert(graft.operators.Events.funnel(spark, dir)
      .collect().forall(_.getLong(2) == 0L)) // three stage rows, all zero
    assert(graft.operators.Events.retention(spark, dir).count() == 0)
    assert(graft.operators.Events.anomalies(spark, dir).count() == 0)
    Seq.empty[(Long, java.sql.Timestamp, Long, Double, String, String, Long)]
      .toDF("o_orderkey", "o_orderdate", "o_custkey", "o_totalprice",
        "o_orderpriority", "o_comment", "o_shippriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(graft.operators.Sketches.orderQuantilesSketch(spark, dir).count() == 0)
  }

  test("docNovelty: unique-shingle rate and mean df, hand-computed") {
    import graft.operators.TextAnalytics
    val out = TextAnalytics.docNovelty(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // docs 0,1 identical (8 bigrams: 7 shared with doc 2 at df=3, 'lazy
    // dog' at df=2); doc 2 swaps dog->cat (1 unique bigram); doc 3 all
    // unique; doc 4 empty -> absent
    assert(out(0L) == ((8L, 0L, 0.0, 23.0 / 8)))
    assert(out(1L) == out(0L))
    assert(out(2L) == ((8L, 1L, 1.0 / 8, 22.0 / 8)))
    assert(out(3L) == ((5L, 5L, 1.0, 1.0)))
    assert(!out.contains(4L))
  }

  test("bpe merges: greedy frequency-weighted pair induction, exhausted rounds vanish") {
    import graft.operators.TextAnalytics
    val dir = Scratch.dir("bpe").toString
    // wf: "ab" x3, "abc" x1 -> pairs round 1: (a b)=4, (b c)=1 -> merge
    // "a b"(4); round 2: (ab c)=1 -> merge "ab c"(1); rounds 3..8 have no
    // pairs left and must emit nothing (engine skips; oracle's empty
    // LIMIT-1 CTEs propagate NULL through the rewrites and stay empty)
    Seq((0L, "ab ab abc", "en", "s0", 9L), (1L, "ab", "en", "s1", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalytics.bpeMerges(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "a b", 4L), (2, "ab c", 1L)), out)
  }

  test("bpeMergesBatched: batch=1 IS the exact trainer; batch=B cuts driver " +
    "rounds B-fold with per-round symbol-disjoint picks at true counts") {
    import graft.operators.TextAnalytics
    val sfDir = TestSession.sfDir
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val exact = rows(TextAnalytics.bpeMerges(spark, sfDir))
    assert(rows(TextAnalytics.bpeMergesBatched(spark, sfDir, 8, 1)) == exact)
    val (m4, _, rounds4) = TextAnalytics.bpeTrain(spark, sfDir, 8, 4)
    assert(rounds4 == 2, s"8 merges at batch=4 must pay 2 rounds, paid $rounds4")
    // the first pick of round 1 is the exact trainer's argmax
    assert((m4.head._2, m4.head._3) == (exact.head._2, exact.head._3))
    // within a round: picks are symbol-disjoint against every earlier
    // pick's left/right/merged symbol (the count-invariance guard), and
    // counts are non-increasing (greedy order)
    m4.grouped(4).foreach { round =>
      val used = scala.collection.mutable.Set.empty[String]
      var prev = Long.MaxValue
      round.foreach { case (_, p, c) =>
        val ab = p.split(" ")
        assert(ab.forall(!used(_)), s"pick $p reuses a symbol from $used")
        used ++= ab; used += ab.mkString("")
        assert(c <= prev, s"counts not non-increasing within a round: $round")
        prev = c
      }
    }
    // every exact merge whose symbols survive batching appears somewhere
    // in the batched table too at a consistent count (ordering, not
    // content, is the approximation)
    assert(m4.map(_._2).toSet.intersect(exact.map(_._2).toSet).nonEmpty)
  }

  test("connected components: chain, triangle, pair, and isolated-from-edges node") {
    // chain 10-11-12-13 (diameter 3), triangle 20-21-22, pair (30, 5),
    // self-loop (40,40) must vanish, duplicate edge must not double rows
    val edges = Seq((11L, 10L), (11L, 12L), (13L, 12L), (20L, 21L),
        (21L, 22L), (22L, 20L), (30L, 5L), (40L, 40L), (10L, 11L))
      .toDF("u", "v")
    val cc = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 5L -> 5L, 30L -> 5L))
  }

  test("connected components: checksum fixed-point spends fewer jobs than count+except per round") {
    import TestSession.countJobs
    // a 9-node chain: diameter forces several contraction rounds
    val chain = (0L until 9L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("u", "v")
    chain.localCheckpoint(true) // warm up, outside both counted runs
    val newJobs = countJobs {
      Dedup.connectedComponents(chain).collect()
    }
    // per-round action cost alone: the new loop pays 1 aggregate where
    // the old paid count + except (2 actions, one an anti-join shuffle)
    val perRoundOld = countJobs {
      val e = chain.localCheckpoint(true)
      e.count(); e.except(chain).isEmpty
    }
    val perRoundNew = countJobs {
      val e = chain.localCheckpoint(true)
      e.agg(count(lit(1)), sum(xxhash64(col("u"), col("v"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
    }
    assert(perRoundNew < perRoundOld,
      s"checksum action ($perRoundNew jobs) should undercut count+except ($perRoundOld jobs)")
    assert(newJobs > 0)
  }

  test("connected components == local union-find on random graphs (property, seeded)") {
    for (seed <- Seq(3, 19, 71)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      // sparse random graph: ~1.1 edges/node leaves many components and
      // (whp) at least one long path — the star-contraction stress case
      val es = (0 until (n * 11 / 10)).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // local union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = es.flatMap(e => Seq(e._1, e._2)).filter(i => es.exists(e =>
        (e._1 == i || e._2 == i) && e._1 != e._2)).distinct
      val expected = touched.map(i => i -> find(i.toInt).toLong).toMap
      val got = Dedup.connectedComponents(es.toDF("u", "v")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: component labels diverge from union-find")
    }
  }

  test("dedupKeep partitions the corpus: kept + dropped cluster members = all docs") {
    val kept = Dedup.dedupKeep(spark, corpusDir).collect().map(_.getLong(0)).toSet
    val clusters = Dedup.dupClusters(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val dropped = clusters.filter(p => p._1 != p._2).map(_._1).toSet
    val all = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.intersect(dropped).isEmpty)
    assert(kept.union(dropped) == all)
    // every cluster representative survives
    assert(clusters.map(_._2).toSet.subsetOf(kept))
  }

  test("simhash: identical texts -> hamming 0; banded pairs find them") {
    val sigs = Dedup.simhashSignatures(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    val pairs = Dedup.simhashPairs(spark, corpusDir, maxHamming = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 0 && p._2 == 1 && p._3 == 0))
  }

  test("blocklistFilter: token-level hits counted; keep iff zero hits") {
    import graft.operators.TextAnalytics
    val out = TextAnalytics.blocklistFilter(spark, TestSession.sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val texts = spark.read.parquet(s"${TestSession.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) =>
      val expected = t.trim.toLowerCase.split("\\s+")
        .count(w => w == "vector" || w == "stream")
      assert(out(id)._1 == expected, s"doc $id: blocked-count mismatch")
      assert(out(id)._2 == (expected == 0))
    }
    // the filter must actually discriminate on this corpus
    val kept = out.values.count(_._2)
    assert(kept > 0 && kept < out.size, s"degenerate filter: $kept/${out.size} kept")
  }

  test("paragraphDedup: boilerplate survives only in its first carrier; own text always kept") {
    val out = Dedup.paragraphDedup(spark, TestSession.sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val boiler1 = "subscribe to our newsletter for updates and follow the project"
    // first doc carries the shared paragraph; everyone else loses it
    assert(out(0L)._3.contains(boiler1))
    assert(out.filter(_._1 > 0).forall(!_._2._3.contains(boiler1)),
      "boilerplate leaked past its first occurrence")
    // every document keeps its own (unique) first paragraph
    val texts = spark.read.parquet(s"${TestSession.sfDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (nParas, nKept, deduped)) =>
      assert(nKept >= 1 && nKept <= nParas)
      if (texts(id) != null) assert(deduped.startsWith(texts(id).split("\n")(0)))
    }
  }

  test("lmFluency: Laplace bigram scores match a local recompute; dup docs outscore unique; empty doc = 0") {
    import graft.operators.TextAnalytics
    val out = TextAnalytics.lmFluency(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val texts = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent local recompute of the smoothed bigram model
    val toks = texts.view.mapValues(
      _.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)).toMap
    val slots = toks.view.mapValues(
      _.sliding(2).filter(_.length == 2).map(a => a(0) + " " + a(1)).toSeq).toMap
    val c12 = slots.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1.split(" ")(0)).view.mapValues(_.values.sum).toMap
    val v = toks.values.flatten.toSet.size.toLong
    def sc(bg: String): Long = (1000000L * (c12(bg) + 1)) / (c1(bg.split(" ")(0)) + v)
    texts.keys.foreach { id =>
      val ss = slots(id)
      val expected = if (ss.isEmpty) 0.0 else ss.map(sc).sum.toDouble / ss.size
      assert(out(id)._1 == ss.size.toLong, s"doc $id: bigram count")
      assert(out(id)._2 == expected, s"doc $id: lm_score")
    }
    // identical docs score identically; the corpus-repeated text is more
    // "fluent" under the corpus-trained model than the one-off doc 3
    assert(out(0L)._2 == out(1L)._2)
    assert(out(0L)._2 > out(3L)._2)
    assert(out(4L) == (0L, 0.0))
  }

  test("perceptronQuality: the trained linear model separates the quality " +
    "rule (both classes present, accuracy above the constant predictors)") {
    import graft.operators.TextAnalytics
    val out = TextAnalytics.perceptronQuality(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    val n = out.length
    val pos = out.count(_._1 == 1L)
    assert(pos > 0 && pos < n, s"degenerate label split: $pos/$n")
    val correct = out.count(r => r._3.toLong == r._1)
    // strictly better than always-+1 and always--1 — the model genuinely
    // learned the rule, not a constant
    assert(correct > math.max(pos, n - pos),
      s"accuracy $correct/$n vs majority ${math.max(pos, n - pos)}")
    // margin sign agrees with pred everywhere (ties predict -1)
    out.foreach { case (_, m, p) => assert((m > 0) == (p == 1)) }
  }

  test("langTrigramClassify: trained profiles discriminate scripts; short/null text -> und") {
    import graft.operators.TextAnalytics
    val dir = Scratch.dir("langid").toString
    val en = Seq("the quick brown fox jumps over the lazy dog and runs through the green fields",
      "she sells sea shells by the sea shore while the sun shines over the water")
    val de = Seq("der schnelle braune fuchs springt über den faulen hund und läuft durch die wiese",
      "sie verkauft muscheln am meeresufer während die sonne über dem wasser scheint")
    val zh = Seq("敏捷的棕色狐狸跳过懒狗然后跑过绿色的田野", "她在海边卖贝壳阳光照在水面上")
    val docs = (en.map(("en", _)) ++ de.map(("de", _)) ++ zh.map(("zh", _)))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l, s"s$i", t.length.toLong) } ++
      Seq((90L, "ab", "en", "s90", 2L), (91L, null: String, "en", "s91", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalytics.langTrigramClassify(spark, dir, k = 60).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    // every full-length doc classifies to its own language's profile
    (0L to 5L).foreach { id =>
      assert(out(id)._1 == out(id)._3, s"doc $id: ${out(id)}")
      assert(out(id)._2 > 0)
    }
    // 'ab' has no trigram slot at all -> und with score 0; null -> und
    assert(out(90L) == ("und", 0L, "en"))
    assert(out(91L) == ("und", 0L, "en"))
  }

  test("cdcChunks: lossless reassembly; boundaries re-align after an insertion") {
    import graft.plans.CdcChunks
    def chunksOf(s: String): Seq[String] = {
      val arr = CdcChunks.chunks(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    val rnd = new scala.util.Random(3)
    val base = (0 until 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val cs = chunksOf(base)
    assert(cs.mkString == base)            // lossless
    assert(cs.length > 10)                  // mask 64 -> ~31 chunks expected
    // prepend an edit: fixed-offset chunking would shift EVERY boundary;
    // CDC must re-synchronize and share the vast majority of chunks
    val edited = "INSERTED PREFIX " + base
    val cs2 = chunksOf(edited)
    assert(cs2.mkString == edited)
    val shared = cs.toSet.intersect(cs2.toSet).size
    assert(shared >= cs.length - 2, s"only $shared of ${cs.length} chunks survived the edit")
    // edges: empty -> none; shorter than the window -> one whole-text chunk
    assert(chunksOf("").isEmpty)
    assert(chunksOf("short") == Seq("short"))
  }

  test("collocations: an always-together pair outranks frequent generic neighbors") {
    import graft.operators.TextAnalytics
    val dir = Scratch.dir("colloc").toString
    // 'san francisco' co-occur exclusively; 'the data' co-occur often but
    // both words roam: lift must rank the exclusive pair first
    val docs = (0 until 10).map { i =>
      (i.toLong,
        "san francisco the data the word the data more word data things " +
          "the data san francisco more things",
        "en", s"s$i", 100L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalytics.collocations(spark, dir, k = 5, minCount = 5).collect()
    assert(out.head.getString(1) == "san francisco")
    // ranks are 1..k, descending lift
    assert(out.map(_.getInt(0)).toSeq == (1 to out.length))
    val lifts = out.map(_.getLong(3))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
  }

  test("cdcDedup: exact duplicate docs share every chunk; accounting is consistent") {
    val out = Dedup.cdcDedup(spark, corpusDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 is an exact dup of doc 0: every chunk already seen
    assert(out(1L)._1 > 0 && out(1L)._2 == 0 && out(1L)._3 == out(1L)._1)
    // doc 0 carries the first occurrences of its own chunks
    assert(out(0L)._2 == out(0L)._1)
    // empty doc: zero chunks
    assert(out(4L) == (0L, 0L, 0L))
    out.values.foreach { case (n, k, d) => assert(k + d == n && k >= 0 && d >= 0) }
  }

  test("store-served BM25 and store-legged hybrid equal their in-plan twins") {
    import graft.operators.TextAnalytics
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val bmStore = rows(TextAnalytics.bm25SearchFromStore(spark, TestSession.sfDir))
    val bmPlan = rows(TextAnalytics.bm25Search(spark, TestSession.sfDir))
    assert(bmStore == bmPlan && bmStore.nonEmpty)
    val hyStore = rows(TextAnalytics.hybridSearchFromStore(spark, TestSession.sfDir))
    val hyPlan = rows(TextAnalytics.hybridSearch(spark, TestSession.sfDir))
    assert(hyStore == hyPlan && hyStore.nonEmpty)
  }

  test("phraseSearch: hand-computed consecutive matches (overlaps count per " +
    "start, order matters); positional store serve equals in-plan") {
    import graft.operators.TextAnalytics
    val dir = Scratch.dir("phrase").toString
    Seq(
      (0L, "a b a b a", "en", "s0", 9L), // "a b" at 1,3; "b a" at 2,4
      (1L, "b a  b", "en", "s1", 6L), // "a b" once (positions over REAL words)
      (2L, "a a a", "en", "s2", 5L), // "a a" twice (overlapping starts)
      (3L, "b b a", "en", "s3", 5L)) // "a b" never (order matters)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def got(phrase: Seq[String]) =
      TextAnalytics.phraseSearch(spark, dir, phrase, k = 10).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(Seq("a", "b")) == Seq((1, 0L, 2L), (2, 1L, 1L)))
    assert(got(Seq("a", "a")) == Seq((1, 2L, 2L)))
    assert(got(Seq("a", "b", "a")) == Seq((1, 0L, 2L))) // 3-gram, overlapping
    assert(got(Seq("b", "b", "b")) == Seq.empty)
    // the store serve is byte-identical on the fixture corpus, and the
    // postings read prunes to the phrase terms' bucket partitions
    val store = TextAnalytics.phraseSearchFromStore(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val inPlan = TextAnalytics.phraseSearch(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(store == inPlan && store.nonEmpty)
  }

  test("corpusCuration: every pick survives each stage; the draw is the " +
    "weighted-sample formula over exactly the survivor set") {
    import graft.operators.TextAnalytics
    val dir = TestSession.sfDir
    val picks = TextAnalytics.corpusCuration(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(picks.nonEmpty)
    val keepers = Dedup.exactDedup(spark, dir).collect()
      .map(_.getLong(1)).toSet
    val quality = TextAnalytics.qualityFilter(spark, dir)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    val contaminated = Dedup.decontaminate(spark, dir).collect()
      .map(_.getLong(0)).toSet
    picks.foreach { case (_, id, _, _) =>
      assert(keepers(id) && quality(id) && !contaminated(id) && id >= 10)
    }
    // the draw: recompute survivor priorities and take the same top-n
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = keepers.intersect(quality).filter(_ >= 10) -- contaminated
    val expected = survivors.toSeq.map { id =>
      val u = ((2654435761L * (id % 1000000007L)) % 1000000007L + 40503L) %
        1000000007L
      (id, docs(id), u * 100000L / (docs(id) + 1L))
    }.sortBy { case (id, _, p) => (p, id) }.take(100)
      .zipWithIndex.map { case ((id, nc, p), i) => (i + 1, id, nc, p) }
    assert(picks.toSeq == expected)
  }

  test("bpeCompression: per-lang totals reconcile with bpeTokenize; every " +
    "subword carries at least one char") {
    import graft.operators.TextAnalytics
    val byLang = TextAnalytics.bpeCompression(spark, TestSession.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(byLang.nonEmpty)
    byLang.foreach { case (_, nw, nc, ns, rate) =>
      assert(ns >= nw && nc >= ns) // a word is >= 1 subword; a subword >= 1 char
      assert(rate == nc.toDouble / ns.toDouble && rate >= 1.0)
    }
    // cross-op reconciliation: summed per-lang words/subwords equal the
    // per-doc tokenizer totals
    val tok = TextAnalytics.bpeTokenize(spark, TestSession.sfDir).collect()
    assert(byLang.map(_._2).sum == tok.map(_.getLong(1)).sum)
    assert(byLang.map(_._4).sum == tok.map(_.getLong(2)).sum)
  }

  test("corpusStats: Heaps checkpoints hand-computed; types charge their first bucket") {
    import graft.operators.TextAnalytics
    val dir = Scratch.dir("heaps").toString
    // max id 2, nBuckets 20 -> width (2 div 20)+1 = 1: one bucket per doc.
    // doc 0 "a b": 2 new types; doc 1 "a c": 1 new; doc 2 "b c": 0 new
    Seq((0L, "a b", "en", "s0", 3L), (1L, "a c", "en", "s1", 3L),
        (2L, "b c", "en", "s2", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalytics.corpusStats(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0, 2L, 2L), (1, 4L, 3L), (2, 6L, 3L)), out)
    // fixture corpus: the curve is monotone and ends at the exact totals
    val fix = TextAnalytics.corpusStats(spark, TestSession.sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(fix.sliding(2).forall(p => p.length < 2 ||
      (p(0)._1 <= p(1)._1 && p(0)._2 <= p(1)._2)))
    val docs = graft.Tables.load(spark, TestSession.sfDir, "documents")
    val toks = docs.select(explode(
        graft.functions.TextFunctions.words(col("text"))).as("w"))
      .filter(col("w") =!= "")
    assert(fix.last._1 == toks.count())
    assert(fix.last._2 == toks.distinct().count())
  }

  test("weightedSample: exact priority-sampling order, replayed bit-identically") {
    import graft.operators.TextAnalytics
    val dir = Scratch.dir("wsample").toString
    val docs = Seq((0L, "x", "en", "s0", 10L), (1L, "x", "en", "s1", 10000L),
      (2L, "x", "en", "s2", 3L), (3L, "x", "en", "s3", 500L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reference recompute with the same affine hash and fixed-point u/w
    val expected = docs.map { case (id, _, _, _, nc) =>
      val u = ((2654435761L * (id % 1000000007L)) % 1000000007L + 40503L) %
        1000000007L
      (id, nc, u * 100000L / (nc + 1L))
    }.sortBy { case (id, _, p) => (p, id) }
      .zipWithIndex.map { case ((id, nc, p), i) => (i + 1, id, nc, p) }
    val got = TextAnalytics.weightedSample(spark, dir, n = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected, got)
    // determinism: a second run picks the identical sample
    val again = TextAnalytics.weightedSample(spark, dir, n = 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(again == got)
    // weight monotonicity under a SHARED draw: same-u docs rank by weight
    // (heavier first). Construct ids with equal hash? Not available —
    // instead assert the scale-free property directly: doubling every
    // weight halves every priority ratio-preservingly, so the selection
    // order is scale-invariant.
    val dir2 = Scratch.dir("wsample2").toString
    docs.map { case (id, t, l, s, nc) => (id, t, l, s, 2 * nc + 1) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val scaled = TextAnalytics.weightedSample(spark, dir2, n = 4).collect()
      .map(r => r.getLong(1)).toSeq
    assert(scaled == got.map(_._2))
  }
}
