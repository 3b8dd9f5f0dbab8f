package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Tables
import graft.functions.NativeFunctions.charTrigrams
import graft.functions.TextFunctions.words

/** Substring, regex, and prefix search served from CHARACTER-level
  * index layouts — the retrieval shapes the word-granular postings
  * stores (BM25/phrase, [[TextAnalytics]]) cannot express:
  *
  *  - `substrSearch` — documents containing an arbitrary byte-level
  *    substring (`"le par"` crosses a word boundary mid-token; no
  *    tokenizer sees it). Index = the character-trigram inverted index
  *    (the pg_trgm / Google-Code-Search design): a doc is a candidate
  *    iff it contains EVERY trigram of the query, so candidates are
  *    bounded by the rarest query trigram's df and only candidates are
  *    ever verified with a real `contains`.
  *  - `regexSearch` — regex matching with the same index: a
  *    conservative required-literal extraction ([[requiredLiterals]])
  *    turns the pattern's mandatory literal runs into trigram
  *    prefilters; the regex itself runs only on the surviving docs.
  *  - `prefixSearch` — word-prefix matching (`s*`) served from a
  *    RANGE-partitioned term layout: the hash-bucketed BM25 postings
  *    cannot prune a prefix (hashing destroys order), so this store
  *    partitions by the word's first character and sorts words within
  *    each partition — the query reads one directory and a contiguous
  *    word range (StartsWith lands in PushedFilters for row-group
  *    skipping). One logical inverted index, two layouts, because the
  *    two query classes prune on different algebra.
  *
  * Reference behavior: the reference's retrieval surface is semantic
  * top-k only (`/root/reference/src/pinecone_utils.py:64-75`); these
  * are the exact-match retrieval family a corpus engine needs beside
  * it (the Lucene `WildcardQuery`/`RegexpQuery`/`PrefixQuery` class).
  *
  * Scale: the trigram store is partitioned by trigram hash bucket
  * (queries list only their trigrams' directories), the stored-fields
  * part by doc-id bucket (verification reads only candidate buckets —
  * the driver holds a bucket SET, ≤ [[DocBuckets]] ints, never ids).
  * All candidate movement stays in-plan; the only collect is that
  * bounded bucket set. At 100 TB the index is built once per corpus
  * lifetime into the [[graft.StoreCatalog]] and every query reads
  * O(query trigrams + candidate buckets), never the corpus.
  */
object TextSearch {

  /** Trigram-hash partition count of the postings part. Same
    * deploy-time-config posture as [[TextAnalytics.PostingsBuckets]]:
    * raising it with the corpus is a catalog store rewrite. */
  private[graft] val TrigramBuckets = 64

  /** Doc-id-hash partition count of the stored-fields (text) part —
    * the verification read prunes to candidate buckets, so this bounds
    * BOTH the prune-set control state and the verify read's share of
    * the corpus (≈ nCandidateBuckets/DocBuckets of the text). */
  private[graft] val DocBuckets = 64

  /** Driver-side query trigrams — must stay semantics-identical to
    * [[graft.plans.CharTrigrams]] (code-point windows), then distinct:
    * the candidate test is set containment, multiplicity is
    * irrelevant. */
  private[graft] def queryTrigrams(s: String): Seq[String] = {
    val n = s.codePointCount(0, s.length)
    if (n < 3) Seq.empty
    else (0 until n - 2).map { k =>
      val i0 = s.offsetByCodePoints(0, k)
      s.substring(i0, s.offsetByCodePoints(i0, 3))
    }.distinct
  }

  /** Distinct character trigrams per document, exploded —
    * `array_distinct` BEFORE the explode keeps the dedup inside the
    * scan's codegen stage (no (doc, tg) shuffle at build time). */
  private[graft] def trigramPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(charTrigrams(col("text")))).as("tg"))

  /** Conservative required-literal extraction from a regex: maximal
    * top-level literal runs that every match must contain. Anything
    * uncertain surrenders: group bodies (`(a|b)` — alternation),
    * char classes, escapes, and `.` `^` `$` break the run; `?` `*`
    * `{m,n}` additionally drop the (optional/repeated) char before
    * them; a TOP-LEVEL `|` makes nothing mandatory → no literals.
    * `+` keeps its char (one-or-more is mandatory) but breaks the run
    * (repetition breaks contiguity beyond it). Sound by construction:
    * it only ever claims a literal that provably occurs in every
    * match, so the trigram prefilter never drops a true match — a
    * pattern with no extractable literal just degrades to
    * verify-everything (documented fallback), never to a wrong
    * answer. */
  private[graft] def requiredLiterals(rx: String): Seq[String] = {
    val runs = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var inClass = false
    var topAlt = false
    var i = 0
    def flush(): Unit = { if (cur.nonEmpty) { runs += cur.toString; cur.clear() } }
    while (i < rx.length) {
      val c = rx.charAt(i)
      if (inClass) {
        if (c == '\\') i += 1
        else if (c == ']') inClass = false
      } else c match {
        case '\\' => flush(); i += 1
        case '[' => flush(); inClass = true
        case '(' => flush(); depth += 1
        case ')' => flush(); depth -= 1
        case '|' => flush(); if (depth == 0) topAlt = true
        case '?' | '*' =>
          if (cur.nonEmpty) cur.setLength(cur.length - 1)
          flush()
        case '{' =>
          if (cur.nonEmpty) cur.setLength(cur.length - 1)
          flush()
          while (i < rx.length && rx.charAt(i) != '}') i += 1
        case '+' => flush()
        case '.' | '^' | '$' => flush()
        case ch => if (depth == 0) cur += ch else ()
      }
      i += 1
    }
    flush()
    if (topAlt) Seq.empty else runs.distinct.toSeq
  }

  /** The trigram ingest kernel: append `docs`' (doc_id, text) to a
    * trigram index — postings = (tg, doc_id) in trigram-hash bucket
    * partitions, sorted (tg, doc_id) within each, so a query trigram's
    * rows are one directory listing plus a tg-range row-group read;
    * stored fields = (doc_id, text) in doc-id-hash bucket partitions
    * sorted by doc_id, so verification reads only candidate buckets.
    * The batch build and the stream store both write through it. */
  private[graft] def appendTrigrams(docs: DataFrame, postingsDir: String,
                                    docsDir: String): Unit = {
    Sinks.writeClustered(trigramPostings(docs).withColumn("tgbucket",
        TextAnalytics.termBucketCol(col("tg"), TrigramBuckets)),
      postingsDir, "tgbucket", Seq("tg", "doc_id"))
    Sinks.writeClustered(docs.select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(DocBuckets.toLong)).cast(IntegerType)
          .as("dbucket")),
      docsDir, "dbucket", Seq("doc_id"))
  }

  /** Build (once per corpus lifetime, catalog-persisted) the trigram
    * index through [[appendTrigrams]]. The text is duplicated into the
    * store deliberately (Lucene stored-fields posture): verification
    * must NOT re-read the source table, whose layout owes this query
    * class nothing. */
  private[graft] def buildTrigramStore(spark: SparkSession,
                                       dir: String): (String, String) = {
    val h = graft.StoreCatalog.getOrBuild(spark, "trigram_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> TrigramBuckets.toString,
        "docbuckets" -> DocBuckets.toString),
      Seq("postings", "docs")) { parts =>
      appendTrigrams(Tables.loadWide(spark, dir, "documents"),
        parts("postings"), parts("docs"))
      Map.empty
    }
    (h.parts("postings"), h.parts("docs"))
  }

  /** CATALOG-MANAGED RE-BUCKETING of the trigram index — the
    * store-growth knob for THIS family: the trigram vocabulary is
    * alphabet-bounded, so each of the 64 hash-bucket partitions grows
    * linearly with the corpus; widening the bucket count re-flattens
    * the per-partition read. The widened layout rewrites from the
    * store's own at-rest rows (`tgbucket` is a pure function of the
    * trigram — the corpus is never re-scanned), publishes under the
    * NEW config key via the catalog's staging + atomic rename, and
    * the stored-fields part (bucket-independent) HARDLINKS across.
    * Same contract as [[TextAnalytics.rebucketBm25Store]] /
    * `Similarity.rebucketGraphStore`. */
  def rebucketTrigramStore(spark: SparkSession, dir: String,
                           newBuckets: Int = 256): (String, String) = {
    val (pd, dd) = buildTrigramStore(spark, dir)
    val h = graft.StoreCatalog.getOrBuild(spark, "trigram_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> newBuckets.toString,
        "docbuckets" -> DocBuckets.toString),
      Seq("postings", "docs")) { parts =>
      Sinks.rebucketPartitioned(spark, pd, parts("postings"), "tgbucket",
        TextAnalytics.termBucketCol(col("tg"), newBuckets), Seq("tg", "doc_id"))
      graft.StoreCatalog.linkTree(java.nio.file.Paths.get(dd),
        java.nio.file.Paths.get(parts("docs")))
      Map.empty
    }
    (h.parts("postings"), h.parts("docs"))
  }

  /** The pruned postings read: `tgbucket` is the partition column so
    * the isin lists only the query trigrams' directories; the tg isin
    * then lands in PushedFilters for row-group skipping within them.
    * `buckets` must be the STORE's own width (a re-bucketed layout
    * derives its prune set at its width). Exposed for the plan spec. */
  private[graft] def prunedTrigramPostings(spark: SparkSession,
                                           postingsDir: String,
                                           grams: Seq[String],
                                           buckets: Int = TrigramBuckets): DataFrame =
    spark.read.parquet(postingsDir)
      .where(col("tgbucket").isin(
        grams.map(TextAnalytics.termBucket(_, buckets)).distinct: _*) &&
        col("tg").isin(grams: _*))

  /** Candidate docs = those containing EVERY query trigram. `posts`
    * carries one row per (doc, tg) (distinct by construction in both
    * the in-plan and stored forms), so containment is a count. */
  private[graft] def candidateDocs(posts: DataFrame, grams: Seq[String]): DataFrame =
    posts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ng"))
      .where(col("ng") === grams.size)
      .select(col("doc_id"))

  /** Shared rank tail: (doc_id, n_hits) → top-k by (hits DESC, doc_id)
    * with a row number — the phrase family's result contract. */
  private[graft] def rankHits(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n_hits").desc, col("doc_id"))
    hits.orderBy(col("n_hits").desc, col("doc_id")).limit(k)
      .withColumn("rn", row_number().over(w).cast(IntegerType))
      .select(col("rn"), col("doc_id"), col("n_hits"))
      .orderBy(col("rn"))
  }

  /** Occurrence count of literal `pat` in `text` (non-overlapping,
    * left-to-right — `replace` semantics, identical on both engines). */
  private[graft] def substrHits(pat: String): Column =
    ((length(col("text")) - length(replace(col("text"), lit(pat), lit(""))))
      / lit(pat.length)).cast(LongType)

  /** Verify candidates against their text and rank: only candidate
    * rows ever reach `verdict` — the predicate runs on an
    * index-bounded set, never the corpus. `cands` is
    * broadcast (it is bounded by the rarest prefilter gram's df; a
    * corpus whose commonest trigram is query-frequent wants the hint
    * dropped — documented knob, not a code path). */
  private[graft] def verifyRank(docs: DataFrame, cands: DataFrame,
                         verdict: Column, hits: Column, k: Int): DataFrame =
    rankHits(
      docs.join(broadcast(cands), Seq("doc_id"))
        .where(verdict)
        .select(col("doc_id"), hits.as("n_hits")),
      k)

  /** SUBSTRING SEARCH, in-plan form: a direct codegen'd `contains`
    * scan (the grep shape). Without an index, ONE substring query's
    * best plan at any scale IS the narrow scan — a per-query trigram
    * extraction would cost more than the `contains` it prefilters;
    * the trigram algebra earns its keep only at rest, amortized over
    * every future query ([[substrSearchFromStore]]). Requires
    * |pat| ≥ 3 to stay contract-equal with the store form.
    * Oracle: [[substrSearchSql]]. */
  def substrSearch(spark: SparkSession, dir: String,
                   pat: String = "le par", k: Int = 20): DataFrame = {
    require(queryTrigrams(pat).nonEmpty, "substring query needs >= 3 chars")
    rankHits(
      Tables.loadWide(spark, dir, "documents")
        .where(col("text").contains(pat))
        .select(col("doc_id"), substrHits(pat).as("n_hits")),
      k)
  }

  /** [[substrSearch]] SERVED from the catalog-persisted trigram index:
    * postings pruned to the query trigrams' bucket partitions →
    * candidate intersection → stored-fields read pruned to the
    * candidates' doc buckets (ONE bounded driver collect: the bucket
    * set, ≤ [[DocBuckets]] ints) → contains verify on candidates only.
    * Results are byte-identical to the in-plan form; same oracle. */
  def substrSearchFromStore(spark: SparkSession, dir: String,
                            pat: String = "le par", k: Int = 20): DataFrame = {
    val grams = queryTrigrams(pat)
    require(grams.nonEmpty, "substring query needs >= 3 chars")
    val (pd, dd) = buildTrigramStore(spark, dir)
    val cands = candidateDocs(
      prunedTrigramPostings(spark, pd, grams), grams)
      .localCheckpoint(true)
    verifyRank(prunedDocText(spark, dd, cands), cands,
      col("text").contains(pat), substrHits(pat), k)
  }

  /** Stored-fields read pruned to the candidates' doc-id buckets. The
    * collect is the BUCKET set (≤ [[DocBuckets]] ints of control
    * state), never doc ids; the id-level join stays in-plan. */
  private[graft] def prunedDocText(spark: SparkSession, docsDir: String,
                                   cands: DataFrame): DataFrame = {
    val buckets = cands
      .select(pmod(col("doc_id"), lit(DocBuckets.toLong))
        .cast(IntegerType).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    spark.read.parquet(docsDir)
      .where(col("dbucket").isin(buckets: _*))
      .select(col("doc_id"), col("text"))
  }

  /** Regex match count (non-overlapping, left-to-right — identical
    * semantics in Spark's Java regex and DuckDB's RE2 for the
    * lookaround-free dialect this operator documents). */
  private def regexHits(rx: String): Column =
    size(regexp_extract_all(col("text"), lit(rx), lit(0))).cast(LongType)

  /** REGEX SEARCH, in-plan form: [[requiredLiterals]] become cheap
    * codegen'd `contains` prefilters ahead of the regex (the classic
    * grep literal-prescan — `&&` short-circuits, so most rows never
    * reach the automaton), all inside one narrow scan. A pattern with
    * no extractable literal (top-level alternation, all-optional) runs
    * the regex on every row — correct, just unprefiltered, and the
    * degradation is the documented contract, not a surprise. Dialect:
    * the lookaround-free common subset of Java regex and RE2.
    * Oracle: [[regexSearchSql]]. */
  def regexSearch(spark: SparkSession, dir: String,
                  rx: String = "fast (table|merge)", k: Int = 20): DataFrame = {
    val lits = requiredLiterals(rx)
    val pre = lits.map(l => col("text").contains(l))
      .foldLeft(lit(true))(_ && _)
    rankHits(
      Tables.loadWide(spark, dir, "documents")
        .where(pre && col("text").rlike(rx))
        .select(col("doc_id"), regexHits(rx).as("n_hits")),
      k)
  }

  /** [[regexSearch]] SERVED from the SAME trigram index as the
    * substring form — one at-rest character index serves byte-literal
    * and regex queries alike (positions of the literal prefilter are
    * irrelevant to either, so the index stores none). */
  def regexSearchFromStore(spark: SparkSession, dir: String,
                           rx: String = "fast (table|merge)",
                           k: Int = 20): DataFrame = {
    val grams = requiredLiterals(rx).flatMap(queryTrigrams).distinct
    val (pd, dd) = buildTrigramStore(spark, dir)
    if (grams.isEmpty)
      rankHits(spark.read.parquet(dd).where(col("text").rlike(rx))
        .select(col("doc_id"), regexHits(rx).as("n_hits")), k)
    else {
      val cands = candidateDocs(
        prunedTrigramPostings(spark, pd, grams), grams)
        .localCheckpoint(true)
      verifyRank(prunedDocText(spark, dd, cands), cands,
        col("text").rlike(rx), regexHits(rx), k)
    }
  }

  /** Build (once, catalog-persisted) the RANGE-layout term store:
    * (word, doc_id, tf) partitioned by the word's first character and
    * sorted (word, doc_id) within each partition — the layout whose
    * order a prefix predicate can prune (first-char directory +
    * StartsWith row-group skipping), which the hash-bucketed BM25
    * postings structurally cannot. Same tokenizer, same tf, different
    * physical order: layout follows query algebra. */
  private[graft] def buildPrefixStore(spark: SparkSession,
                                      dir: String): String =
    graft.StoreCatalog.getOrBuild(spark, "prefix_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("layout" -> "first-char-range"),
      Seq("postings")) { parts =>
      Sinks.writeClustered(Tables.loadWide(spark, dir, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("w0", substring(col("word"), 1, 1)),
        parts("postings"), "w0", Seq("word", "doc_id"))
      Map.empty
    }.parts("postings")

  /** The pruned prefix read: one first-char directory, then a
    * StartsWith pushed filter over the partition's word-sorted
    * row groups. Exposed for the plan spec. */
  private[graft] def prunedPrefixPostings(spark: SparkSession,
                                          postingsDir: String,
                                          prefix: String): DataFrame =
    spark.read.parquet(postingsDir)
      .where(col("w0") === prefix.substring(0, 1) &&
        col("word").startsWith(prefix))

  /** WORD-PREFIX SEARCH, in-plan form: documents ranked by total
    * occurrences of words starting with `prefix` (the Lucene
    * `PrefixQuery` shape — `s*` matches scan, slow, sort, spark, …).
    * Oracle: [[prefixSearchSql]]. */
  def prefixSearch(spark: SparkSession, dir: String,
                   prefix: String = "s", k: Int = 20): DataFrame = {
    require(prefix.nonEmpty)
    rankHits(
      Tables.loadWide(spark, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .where(col("word").startsWith(prefix))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_hits")),
      k)
  }

  /** [[prefixSearch]] SERVED from the range-layout store: the serve
    * aggregates pre-counted (word, doc_id, tf) rows from exactly one
    * partition's matching word range — O(matching terms' postings),
    * never the vocabulary. */
  def prefixSearchFromStore(spark: SparkSession, dir: String,
                            prefix: String = "s", k: Int = 20): DataFrame = {
    require(prefix.nonEmpty)
    val pd = buildPrefixStore(spark, dir)
    rankHits(
      prunedPrefixPostings(spark, pd, prefix)
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast(LongType).as("n_hits")),
      k)
  }

  /** Compile a `*`/`?` wildcard pattern (the Lucene `WildcardQuery`
    * shape) to the common Java/RE2 regex dialect: `*` → `.*`, `?` →
    * `.`, everything else escaped. The compiled form rides the ENTIRE
    * regex path — including [[requiredLiterals]], whose rules see the
    * wildcards as run-breakers and the literal spans between them as
    * trigram prefilters, which is exactly the right index use. */
  private[graft] def wildcardRegex(pat: String): String =
    pat.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()+^$|".contains(c) => "\\" + c
      case c => c.toString
    }

  /** WILDCARD SEARCH — `*` (any run) and `?` (any char) over the raw
    * text, served by compiling to [[regexSearch]] /
    * [[regexSearchFromStore]]: one verification engine, one index,
    * three query syntaxes (regex, wildcard, literal substring).
    * Oracle: [[wildcardSearchSql]]. */
  def wildcardSearch(spark: SparkSession, dir: String,
                     pat: String = "fa?t mer*e", k: Int = 20): DataFrame =
    regexSearch(spark, dir, wildcardRegex(pat), k)

  /** [[wildcardSearch]] SERVED from the trigram index. */
  def wildcardSearchFromStore(spark: SparkSession, dir: String,
                              pat: String = "fa?t mer*e",
                              k: Int = 20): DataFrame =
    regexSearchFromStore(spark, dir, wildcardRegex(pat), k)

  /** 1-deletion neighborhood of a word (SymSpell): the word plus every
    * single-code-point-deleted variant. If lev(a,b) ≤ 1 the
    * neighborhoods intersect (delete the edited position from
    * whichever side carries it); sharing a key only bounds lev ≤ 2,
    * so candidates are always re-verified with a banded Levenshtein.
    * Distance 1 covers the dominant typo class; higher distances are a
    * k-deletion generalization of the same store (deploy-time
    * config), not a new algorithm. */
  private[graft] def delKeys(w: String): Seq[String] = {
    val n = w.codePointCount(0, w.length)
    val dels = (0 until n).map { i =>
      val a = w.offsetByCodePoints(0, i)
      val b = w.offsetByCodePoints(a, 1)
      w.substring(0, a) + w.substring(b)
    }
    (w +: dels).distinct
  }

  private[graft] val KeyBuckets = 64
  private[graft] def keyBucket(s: String): Int =
    TextAnalytics.termBucket(s, KeyBuckets)

  /** Build (once, catalog-persisted) the fuzzy term index: the
    * 1-deletion keys of every VOCABULARY word, key-hash-bucket
    * partitioned — a fuzzy query reads its own ≤(len+1) keys'
    * partitions, never the vocabulary. The doc side deliberately
    * REUSES the [[buildPrefixStore]] layout: matched words carry their
    * first characters, so the same first-char range store that serves
    * prefix scans serves fuzzy point lookups (one term store, two
    * probe algebras). The per-word key expansion is a higher-order
    * transform over the VOCABULARY frame only — interpreted lambdas
    * are fine on a Heaps-law-sized input, and never touch the corpus. */
  private[graft] def buildFuzzyStore(spark: SparkSession,
                                     dir: String): (String, String) = {
    val pd = buildPrefixStore(spark, dir)
    val h = graft.StoreCatalog.getOrBuild(spark, "fuzzy_delkeys",
      Seq(s"$dir/documents.parquet"),
      Seq("kbuckets" -> KeyBuckets.toString, "dist" -> "1"),
      Seq("delkeys")) { parts =>
      Sinks.writeClustered(spark.read.parquet(pd).select(col("word")).distinct()
          .withColumn("key", explode(expr(
            "array_union(array(word), transform(sequence(0, length(word)-1)," +
              " i -> concat(substr(word, 1, i), substr(word, i+2))))")))
          .withColumn("kbucket",
            TextAnalytics.termBucketCol(col("key"), KeyBuckets)),
        parts("delkeys"), "kbucket", Seq("key", "word"))
      Map.empty
    }
    (h.parts("delkeys"), pd)
  }

  /** The pruned deletion-key read — `kbucket` partition isin over the
    * query's own keys. Exposed for the plan spec. */
  private[graft] def prunedDelKeys(spark: SparkSession, delkeysDir: String,
                                   keys: Seq[String]): DataFrame =
    spark.read.parquet(delkeysDir)
      .where(col("kbucket").isin(keys.map(keyBucket).distinct: _*) &&
        col("key").isin(keys: _*))

  /** Banded Levenshtein acceptance (the threshold form returns -1
    * above the band — round-7 editdist_verify device). */
  private def levWithin(term: String, maxDist: Int): Column =
    expr(s"levenshtein(word, '${sqlLit(term)}', $maxDist)") =!= lit(-1)

  /** FUZZY TERM SEARCH, in-plan form: documents ranked by total
    * occurrences of vocabulary words within Levenshtein distance
    * `maxDist` of `term` (the Lucene `FuzzyQuery` shape — "sow"
    * matches slow AND row). The candidate generator is the DISTINCT
    * vocabulary (Heaps-law-small relative to the corpus), the verify
    * is the banded Levenshtein, and the corpus is touched once, by the
    * broadcast matched-word join. Oracle: [[fuzzySearchSql]]. */
  def fuzzySearch(spark: SparkSession, dir: String, term: String = "sow",
                  maxDist: Int = 1, k: Int = 20): DataFrame = {
    require(term.nonEmpty && maxDist >= 1)
    val toks = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
    val matched = toks.select(col("word")).distinct()
      .where(levWithin(term, maxDist))
    rankHits(
      toks.join(broadcast(matched), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_hits")),
      k)
  }

  /** [[fuzzySearch]] SERVED from the deletion-key index: the query's
    * ≤(len+1) keys prune the delkeys partitions to candidate words,
    * the banded Levenshtein verifies them, and the surviving word SET
    * (combinatorially bounded control state for dist 1: every match
    * lives within the term's single-edit neighborhood, ≤ ~(len+1)·|Σ|
    * strings exist there regardless of corpus size) prunes the SAME
    * first-char term store the prefix query serves from. */
  def fuzzySearchFromStore(spark: SparkSession, dir: String,
                           term: String = "sow", maxDist: Int = 1,
                           k: Int = 20): DataFrame = {
    require(term.nonEmpty && maxDist == 1,
      "the deletion-key store is built for dist 1")
    val (kd, pd) = buildFuzzyStore(spark, dir)
    val matched = prunedDelKeys(spark, kd, delKeys(term))
      .select(col("word")).distinct()
      .where(levWithin(term, maxDist))
      .collect().map(_.getString(0)).toSeq.sorted
    if (matched.isEmpty) rankHits(
      spark.range(0).select(col("id").as("doc_id"), col("id").as("n_hits")), k)
    else rankHits(
      spark.read.parquet(pd)
        .where(col("w0").isin(matched.map(_.substring(0, 1)).distinct: _*) &&
          col("word").isin(matched: _*))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast(LongType).as("n_hits")),
      k)
  }

  /** Driver-side banded Levenshtein acceptance — the verify twin of
    * [[levWithin]] for expansions already collected as control state.
    * Plain DP over two small strings; the band is checked on lengths
    * first (ASCII fixture: code units == code points cross-engine). */
  private[graft] def levAtMost(a: String, b: String, d: Int): Boolean = {
    if (math.abs(a.length - b.length) > d) return false
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      prev = cur
    }
    prev(b.length) <= d
  }

  /** Expand each query term to its vocabulary words within distance 1,
    * via the deletion-key store: ONE pruned read over the union of all
    * terms' keys, then driver-side slot assignment (the expansion is
    * combinatorially-bounded control state — every slot lives inside
    * its term's single-edit neighborhood). */
  private def expandSlotsFromStore(spark: SparkSession, kd: String,
                                   terms: Seq[String]): Seq[Seq[String]] = {
    val keys = terms.flatMap(delKeys).distinct
    val cands = prunedDelKeys(spark, kd, keys)
      .select(col("word")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    terms.map(t => cands.filter(levAtMost(_, t, 1)))
  }

  /** TYPO-TOLERANT PHRASE SEARCH, in-plan form: each phrase slot is
    * expanded to its single-edit vocabulary neighborhood ("sow table"
    * finds "slow table" AND "row table"), then the match runs the SAME
    * positional algebra as exact phrase — the Lucene `MultiPhraseQuery`
    * shape, [[TextAnalytics.phraseRankSets]]. Expansion here comes
    * from a distinct-vocabulary scan; candidates stay bounded by the
    * expanded terms' dfs. Oracle: [[phraseFuzzySql]]. */
  def phraseFuzzySearch(spark: SparkSession, dir: String,
                        phrase: Seq[String] = Seq("sow", "table"),
                        k: Int = 20): DataFrame = {
    require(phrase.nonEmpty)
    val docs = Tables.loadWide(spark, dir, "documents")
    val vocab = docs
      .select(explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "").distinct()
      .where(phrase.map(t => levWithin(t, 1)).reduce(_ || _))
      .collect().map(_.getString(0)).toSeq.sorted
    val slots = phrase.map(t => vocab.filter(levAtMost(_, t, 1)))
    val posts = TextAnalytics.phrasePostings(docs)
      .filter(col("word").isin(slots.flatten.distinct: _*))
    TextAnalytics.phraseRankSets(posts, slots, k)
  }

  /** [[phraseFuzzySearch]] SERVED BY COMPOSING TWO AT-REST INDEXES:
    * slot expansion off the deletion-key store (reads only the query
    * terms' key buckets), the positional match off the SAME positional
    * postings store that serves exact/slop/near phrase — typo-tolerant
    * phrase queries cost one extra bounded index probe, no new
    * corpus-sized artifact. */
  def phraseFuzzyFromStore(spark: SparkSession, dir: String,
                           phrase: Seq[String] = Seq("sow", "table"),
                           k: Int = 20): DataFrame = {
    require(phrase.nonEmpty)
    val (kd, _) = buildFuzzyStore(spark, dir)
    val slots = expandSlotsFromStore(spark, kd, phrase)
    TextAnalytics.phraseRankSets(
      TextAnalytics.prunedPhrasePostings(spark, dir, slots.flatten.distinct),
      slots, k)
  }

  /** TERM COMPLETION (autocomplete): the top-k vocabulary words under
    * a prefix, ranked by collection frequency, with document frequency
    * beside it — served in-plan from a token scan. Oracle:
    * [[termCompleteSql]]. */
  def termComplete(spark: SparkSession, dir: String, prefix: String = "s",
                   k: Int = 10): DataFrame = {
    require(prefix.nonEmpty)
    completeRank(
      Tables.loadWide(spark, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .where(col("word").startsWith(prefix))
        .groupBy(col("word"))
        .agg(count(lit(1)).cast(LongType).as("cf"),
          countDistinct(col("doc_id")).cast(LongType).as("df")),
      k)
  }

  /** [[termComplete]] SERVED from the range-layout term store: one
    * first-char directory, a StartsWith word range, and the (word,
    * doc_id, tf) rows aggregate to (cf, df) without touching any
    * text — the autocomplete read is O(prefix-matching postings),
    * independent of corpus width. */
  def termCompleteFromStore(spark: SparkSession, dir: String,
                            prefix: String = "s", k: Int = 10): DataFrame = {
    require(prefix.nonEmpty)
    val pd = buildPrefixStore(spark, dir)
    completeRank(
      prunedPrefixPostings(spark, pd, prefix)
        .groupBy(col("word"))
        .agg(sum(col("tf")).cast(LongType).as("cf"),
          count(lit(1)).cast(LongType).as("df")),
      k)
  }

  private def completeRank(terms: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cf").desc, col("word"))
    terms.orderBy(col("cf").desc, col("word")).limit(k)
      .withColumn("rn", row_number().over(w).cast(IntegerType))
      .select(col("rn"), col("word"), col("cf"), col("df"))
      .orderBy(col("rn"))
  }

  /** Oracle twin of [[phraseFuzzySearch]] / [[phraseFuzzyFromStore]]:
    * the exact-phrase oracle with each slot's equality relaxed to the
    * Levenshtein band — the oracle expands nothing, it states the
    * semantics directly. */
  def phraseFuzzySql(phrase: Seq[String] = Seq("sow", "table"),
                     k: Int = 20): String = {
    val joins = (1 until phrase.length).map(i =>
      s"JOIN pos t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t${i - 1}.pos + 1")
      .mkString("\n               ")
    val wheres = phrase.zipWithIndex.map { case (t, i) =>
      s"levenshtein(t$i.word, '${sqlLit(t)}') <= 1"
    }.mkString(" AND ")
    s"""WITH pos AS (SELECT doc_id, u.w AS word, u.p AS pos FROM (
            SELECT doc_id,
                   list_filter(${graft.functions.TextFunctions.wordsSql("text")},
                     x -> x <> '') AS ws
            FROM documents),
          LATERAL (SELECT unnest(list_transform(generate_series(1, len(ws)),
                     i -> {'p': i, 'w': ws[i]})) AS u)),
        m AS (SELECT t0.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              FROM pos t0
               $joins
              WHERE $wheres
              GROUP BY 1)
        SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM m) WHERE rn <= $k ORDER BY rn"""
  }

  /** Oracle twin of [[termComplete]] / [[termCompleteFromStore]]. */
  def termCompleteSql(prefix: String = "s", k: Int = 10): String = {
    val q = sqlLit(prefix)
    s"""WITH w AS (SELECT doc_id, u.w AS word FROM (
            SELECT doc_id,
                   ${graft.functions.TextFunctions.wordsSql("text")} AS ws
            FROM documents),
          LATERAL (SELECT unnest(ws) AS w) u
          WHERE u.w LIKE '$q%'),
        t AS (SELECT word, CAST(count(*) AS BIGINT) AS cf,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM w GROUP BY 1)
        SELECT rn, word, cf, df FROM (
          SELECT word, cf, df,
                 CAST(row_number() OVER (ORDER BY cf DESC, word) AS INT) AS rn
          FROM t) WHERE rn <= $k ORDER BY rn"""
  }

  private def sqlLit(s: String): String = s.replace("'", "''")

  /** Oracle twin of [[substrSearch]] / [[substrSearchFromStore]]. */
  def substrSearchSql(pat: String = "le par", k: Int = 20): String = {
    val q = sqlLit(pat)
    s"""SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM (SELECT doc_id,
                       CAST((length(text) - length(replace(text, '$q', '')))
                            / length('$q') AS BIGINT) AS n_hits
                FROM documents
                WHERE contains(text, '$q')))
        WHERE rn <= $k ORDER BY rn"""
  }

  /** Oracle twin of [[regexSearch]] / [[regexSearchFromStore]]. */
  def regexSearchSql(rx: String = "fast (table|merge)", k: Int = 20): String = {
    val q = sqlLit(rx)
    s"""SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM (SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '$q')) AS BIGINT) AS n_hits
                FROM documents
                WHERE regexp_matches(text, '$q')))
        WHERE rn <= $k ORDER BY rn"""
  }

  /** Oracle twin of [[wildcardSearch]] / [[wildcardSearchFromStore]] —
    * the regex oracle over the compiled pattern (one compiler, both
    * engines see the identical regex). */
  def wildcardSearchSql(pat: String = "fa?t mer*e", k: Int = 20): String =
    regexSearchSql(wildcardRegex(pat), k)

  /** Oracle twin of [[fuzzySearch]] / [[fuzzySearchFromStore]]. */
  def fuzzySearchSql(term: String = "sow", maxDist: Int = 1,
                     k: Int = 20): String = {
    val t = sqlLit(term)
    s"""WITH w AS (SELECT doc_id, u.w AS word FROM (
            SELECT doc_id,
                   ${graft.functions.TextFunctions.wordsSql("text")} AS ws
            FROM documents),
          LATERAL (SELECT unnest(ws) AS w) u),
        m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM w
              WHERE levenshtein(word, '$t') <= $maxDist GROUP BY 1)
        SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM m) WHERE rn <= $k ORDER BY rn"""
  }

  /** Oracle twin of [[prefixSearch]] / [[prefixSearchFromStore]].
    * `prefix` must be LIKE-literal-safe (no % _ \\ — callers pass word
    * prefixes). */
  def prefixSearchSql(prefix: String = "s", k: Int = 20): String = {
    val q = sqlLit(prefix)
    s"""SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM (SELECT doc_id,
                       CAST(len(list_filter(
                         ${graft.functions.TextFunctions.wordsSql("text")},
                         x -> x LIKE '$q%')) AS BIGINT) AS n_hits
                FROM documents)
          WHERE n_hits > 0)
        WHERE rn <= $k ORDER BY rn"""
  }
}
