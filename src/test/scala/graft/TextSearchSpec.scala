package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextSearch

/** Substring / regex / prefix search: hand-computed semantics on a
  * fixture corpus, store-vs-in-plan equality on the sf corpus, the
  * required-literal regex extractor's soundness cases, and the plan
  * shapes that matter at 100 TB (trigram-bucket and doc-bucket
  * partition pruning; prefix StartsWith pushdown on the range
  * layout). */
class TextSearchSpec extends AnyFunSuite {
  import TestSession.{spark, sfDir}
  import spark.implicits._

  private lazy val corpusDir: String = {
    val dir = Scratch.dir("textsearch").toString
    Seq(
      (0L, "zab cdz ab cd", "en", "s0", 13L), // "ab cd" twice
      (1L, "ab cx", "en", "s1", 5L), // no " cd" trigram: never a candidate
      (2L, "ababa", "en", "s2", 5L), // "aba": non-overlapping count = 1
      (3L, "zab cz cdz", "en", "s3", 10L), // all trigrams of "ab cd", no match
      (4L, "", "en", "s4", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  test("substrSearch: cross-word-boundary matches, non-overlapping counts, " +
    "candidate-but-no-match docs die at the store's verification") {
    // "ab cd" spans a word boundary — no word-granular index can see it
    assert(rows(TextSearch.substrSearch(spark, corpusDir, "ab cd", k = 10)) ==
      Seq((1, 0L, 2L)))
    // the store path must agree: doc 3 contains every trigram of
    // "ab cd" but not the substring — a CANDIDATE the trigram
    // intersection admits and the contains verification must kill
    assert(rows(TextSearch.substrSearchFromStore(spark, corpusDir, "ab cd",
      k = 10)) == Seq((1, 0L, 2L)))
    assert(rows(TextSearch.substrSearch(spark, corpusDir, "aba", k = 10)) ==
      Seq((1, 2L, 1L))) // "ababa": left-to-right non-overlap = 1
    assert(rows(TextSearch.substrSearch(spark, corpusDir, "zzz", k = 10)).isEmpty)
    assert(rows(TextSearch.substrSearchFromStore(spark, corpusDir, "zzz",
      k = 10)).isEmpty)
    intercept[IllegalArgumentException] {
      TextSearch.substrSearch(spark, corpusDir, "ab", k = 10)
    }
  }

  test("regexSearch: literal-prefiltered matches; no-literal patterns fall " +
    "back to full verification with identical results") {
    assert(rows(TextSearch.regexSearch(spark, corpusDir, "ab (cd|ce)", k = 10)) ==
      Seq((1, 0L, 2L)))
    assert(rows(TextSearch.regexSearchFromStore(spark, corpusDir, "ab (cd|ce)",
      k = 10)) == Seq((1, 0L, 2L)))
    // top-level alternation: no mandatory literal, full-verify fallback
    // on BOTH paths (the store reads its stored-fields part in full)
    assert(rows(TextSearch.regexSearch(spark, corpusDir, "cdz|ababa", k = 10)) ==
      Seq((1, 0L, 1L), (2, 2L, 1L), (3, 3L, 1L)))
    assert(rows(TextSearch.regexSearchFromStore(spark, corpusDir, "cdz|ababa",
      k = 10)) == Seq((1, 0L, 1L), (2, 2L, 1L), (3, 3L, 1L)))
  }

  test("prefixSearch: word-prefix occurrence totals, full words only") {
    assert(rows(TextSearch.prefixSearch(spark, corpusDir, "cd", k = 10)) ==
      Seq((1, 0L, 2L), (2, 3L, 1L))) // doc0: cdz+cd; doc3: cdz
    // 'zab' does NOT match prefix 'ab' (prefix, not substring)
    assert(rows(TextSearch.prefixSearch(spark, corpusDir, "ab", k = 10)) ==
      Seq((1, 0L, 1L), (2, 1L, 1L), (3, 2L, 1L)))
    assert(rows(TextSearch.prefixSearch(spark, corpusDir, "q", k = 10)).isEmpty)
  }

  test("requiredLiterals: sound extraction — groups, classes, escapes, and " +
    "quantified chars surrender; top-level alternation yields nothing") {
    import TextSearch.requiredLiterals
    assert(requiredLiterals("fast (table|merge)") == Seq("fast "))
    assert(requiredLiterals("slow+ fast") == Seq("slow", " fast"))
    assert(requiredLiterals("a|b") == Seq.empty)
    assert(requiredLiterals("colou?r") == Seq("colo", "r"))
    assert(requiredLiterals("ab{2,3}c") == Seq("a", "c"))
    assert(requiredLiterals("x[abc]y") == Seq("x", "y"))
    assert(requiredLiterals("foo\\d+bar") == Seq("foo", "bar"))
    assert(requiredLiterals("a.c") == Seq("a", "c"))
    assert(requiredLiterals("^start end$") == Seq("start end"))
  }

  test("queryTrigrams matches the native char_trigrams expression, distinct") {
    import graft.functions.NativeFunctions.charTrigrams
    for (s <- Seq("le par", "aaaa", "ab", "", "fast (x)")) {
      val native = spark.range(1).select(charTrigrams(lit(s)))
        .collect()(0).getSeq[String](0).distinct
      assert(TextSearch.queryTrigrams(s) == native, s"for '$s'")
    }
  }

  test("store serves equal their in-plan twins on the sf corpus") {
    def all(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val su = all(TextSearch.substrSearch(spark, sfDir))
    assert(su == all(TextSearch.substrSearchFromStore(spark, sfDir)) &&
      su.nonEmpty)
    val re = all(TextSearch.regexSearch(spark, sfDir))
    assert(re == all(TextSearch.regexSearchFromStore(spark, sfDir)) &&
      re.nonEmpty)
    val pre = all(TextSearch.prefixSearch(spark, sfDir))
    assert(pre == all(TextSearch.prefixSearchFromStore(spark, sfDir)) &&
      pre.nonEmpty)
  }

  test("wildcardRegex: * and ? compile, regex metachars are escaped") {
    import TextSearch.wildcardRegex
    assert(wildcardRegex("fa?t mer*e") == "fa.t mer.*e")
    assert(wildcardRegex("a+b(c)|d.e") == "a\\+b\\(c\\)\\|d\\.e")
    assert(wildcardRegex("**") == ".*.*")
  }

  test("wildcardSearch: ? is one char, * spans any run including spaces") {
    // "zab c?" -> matches "zab cd" (doc0), "zab cz" (doc3)
    assert(rows(TextSearch.wildcardSearch(spark, corpusDir, "zab c?", k = 10)) ==
      Seq((1, 0L, 1L), (2, 3L, 1L)))
    // the * crosses a word boundary: "ab*dz" spans "ab cdz"
    assert(rows(TextSearch.wildcardSearch(spark, corpusDir, "ab*dz", k = 10)) ==
      Seq((1, 0L, 1L), (2, 3L, 1L)))
  }

  test("delKeys: the word plus each single-deletion variant, distinct") {
    assert(TextSearch.delKeys("sow") == Seq("sow", "ow", "sw", "so"))
    assert(TextSearch.delKeys("aa") == Seq("aa", "a"))
    // the SymSpell property on the fixture pair: lev(sow, slow) = 1 and
    // their neighborhoods intersect
    assert(TextSearch.delKeys("sow").toSet
      .intersect(TextSearch.delKeys("slow").toSet).nonEmpty)
  }

  test("fuzzySearch: multi-word single-edit matches, hand-computed") {
    val dir = Scratch.dir("fuzzy").toString
    Seq(
      (0L, "slow row slow", "en", "s0", 13L), // 3 matches of {slow, row}
      (1L, "sort sow", "en", "s1", 8L), // sow exact (dist 0); sort is dist 2
      (2L, "grow crow", "en", "s2", 9L), // dist 2: no matches
      (3L, "sows", "en", "s3", 4L)) // one insertion: dist 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(rows(TextSearch.fuzzySearch(spark, dir, "sow", k = 10)) ==
      Seq((1, 0L, 3L), (2, 1L, 1L), (3, 3L, 1L)))
  }

  test("fuzzy and wildcard store serves equal their in-plan twins") {
    def all(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val fz = all(TextSearch.fuzzySearch(spark, sfDir))
    assert(fz == all(TextSearch.fuzzySearchFromStore(spark, sfDir)) &&
      fz.nonEmpty)
    val wc = all(TextSearch.wildcardSearch(spark, sfDir))
    assert(wc == all(TextSearch.wildcardSearchFromStore(spark, sfDir)) &&
      wc.nonEmpty)
    // a term with no vocabulary neighbor serves an empty result, not a crash
    assert(all(TextSearch.fuzzySearchFromStore(spark, sfDir, "xyzzy")).isEmpty)
  }

  test("fuzzy delkeys serve prunes to the query keys' bucket partitions") {
    val (kd, _) = TextSearch.buildFuzzyStore(spark, sfDir)
    val pf = partitionFilters(
      TextSearch.prunedDelKeys(spark, kd, TextSearch.delKeys("sow")))
    assert(pf.contains("kbucket") &&
      !pf.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), pf)
  }

  test("phraseFuzzySearch: multi-expansion slots, hand-computed; store " +
    "composition equals in-plan") {
    val dir = Scratch.dir("pfuzzy").toString
    Seq(
      (0L, "slow table row table", "en", "s0", 20L), // both expansions hit
      (1L, "row cable", "en", "s1", 9L), // second slot dist 1: cable? lev(cable,table)=1
      (2L, "slow sable slow", "en", "s2", 15L), // sable: dist 1 of table
      (3L, "table slow", "en", "s3", 10L)) // wrong order: no match
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // slots: "sow" -> {slow, row, sows?...}; "table" -> {table, cable, sable}
    val got = rows(TextSearch.phraseFuzzySearch(spark, dir,
      Seq("sow", "table"), k = 10))
    assert(got == Seq((1, 0L, 2L), (2, 1L, 1L), (3, 2L, 1L)))
    val store = rows(TextSearch.phraseFuzzyFromStore(spark, dir,
      Seq("sow", "table"), k = 10))
    assert(store == got)
    // a slot with no expansion matches nothing
    assert(rows(TextSearch.phraseFuzzySearch(spark, dir,
      Seq("sow", "qqqqqq"), k = 10)).isEmpty)
  }

  test("termComplete: prefix-ranked vocabulary with cf and df; store serve " +
    "equals in-plan on the sf corpus") {
    val got = TextSearch.termComplete(spark, corpusDir, "cd", k = 10)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    // corpus: doc0 has cdz, cd; doc3 has cdz -> cdz cf=2 df=2; cd cf=1 df=1
    assert(got == Seq((1, "cdz", 2L, 2L), (2, "cd", 1L, 1L)))
    def all(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val inPlan = all(TextSearch.termComplete(spark, sfDir))
    assert(inPlan == all(TextSearch.termCompleteFromStore(spark, sfDir)) &&
      inPlan.nonEmpty)
  }

  test("stream-accreted trigram store serve equals the batch substring search") {
    val batch = TextSearch.substrSearch(spark, sfDir).collect().map(_.toSeq).toSeq
    val stream = graft.streaming.StreamOps.streamSubstrStoreQuery(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stream == batch && stream.nonEmpty)
  }

  test("stream trigram store: a crash-replayed (duplicate-appended) batch " +
    "changes nothing served") {
    import graft.streaming.StreamOps
    val before = StreamOps.streamSubstrStoreQuery(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val (pd, dd) = TestSession.servedStore(StreamOps.trigramStreamStore(spark, sfDir))
    // re-append the ENTIRE store to itself — a strictly worse duplication
    // than any real epoch replay (which re-appends one batch)
    val posts = spark.read.parquet(pd).localCheckpoint(true)
    posts.write.mode("append").partitionBy("tgbucket").parquet(pd)
    val docs = spark.read.parquet(dd).localCheckpoint(true)
    docs.write.mode("append").partitionBy("dbucket").parquet(dd)
    val after = StreamOps.streamSubstrStoreQuery(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(after == before && after.nonEmpty)
  }

  private def partitionFilters(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PartitionFilters:")).mkString("\n")

  test("trigram store serve prunes postings to the query trigrams' buckets " +
    "and stored fields to the candidates' doc buckets") {
    val (pd, dd) = TextSearch.buildTrigramStore(spark, sfDir)
    val grams = TextSearch.queryTrigrams("le par")
    val pf = partitionFilters(TextSearch.prunedTrigramPostings(spark, pd, grams))
    assert(pf.contains("tgbucket") &&
      !pf.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), pf)
    val cands = Seq(3L, 67L).toDF("doc_id")
    val df = TextSearch.prunedDocText(spark, dd, cands)
    val dpf = partitionFilters(df)
    assert(dpf.contains("dbucket") &&
      !dpf.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), dpf)
    // buckets 3 and 67%64=3 collapse to ONE directory
    assert(df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      .subsetOf((0L until 10000L).filter(_ % 64 == 3).toSet))
  }

  test("trigram store re-bucketing: the widened layout serves identical " +
    "results with the prune set derived at its own width") {
    val pat = "le par"
    val grams = TextSearch.queryTrigrams(pat)
    val base = TextSearch.substrSearchFromStore(spark, sfDir, pat)
      .collect().map(_.toSeq).toSeq
    val (pd, dd) = TextSearch.rebucketTrigramStore(spark, sfDir, 256)
    val posts = TextSearch.prunedTrigramPostings(spark, pd, grams, buckets = 256)
    val pf = partitionFilters(posts)
    assert(pf.contains("tgbucket") &&
      !pf.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), pf)
    val cands = TextSearch.candidateDocs(posts, grams).localCheckpoint(true)
    val served = TextSearch.verifyRank(
      TextSearch.prunedDocText(spark, dd, cands), cands,
      col("text").contains(pat), TextSearch.substrHits(pat), 20)
      .collect().map(_.toSeq).toSeq
    assert(served == base && served.nonEmpty)
  }

  test("prefix store serve prunes to one first-char partition and pushes " +
    "the StartsWith into the scan") {
    val pd = TextSearch.buildPrefixStore(spark, sfDir)
    val served = TextSearch.prunedPrefixPostings(spark, pd, "s")
    val pf = partitionFilters(served)
    assert(pf.contains("w0") &&
      !pf.matches("(?s).*PartitionFilters: \\[\\s*\\].*"), pf)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("StringStartsWith(word,s"), p.take(2000))
  }
}
