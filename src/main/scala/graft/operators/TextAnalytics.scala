package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over the `documents` corpus (north star: the
  * operations a training-data pipeline runs at 100 TB — language ID,
  * quality scoring, token counting, fingerprinting; SURVEY §2.2/§2.3).
  *
  * All per-document ops are narrow (embarrassingly parallel, whole-stage
  * codegen'd Column expressions, no UDFs); the aggregates use only
  * order-independent exact arithmetic (counts, long sums) so results are
  * deterministic under any partitioning.
  */
object TextAnalytics {

  /** Per-document profile: language, token count, first token, rolling-hash
    * fingerprint. One narrow pass over the corpus. */
  def docProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(
        col("doc_id"),
        langId(col("text")).as("lang_pred"),
        tokenCount(col("text")).as("n_tokens"),
        firstToken(col("text")).as("first_token"),
        fingerprint(col("text")).as("fp"))

  def docProfileSql: String =
    s"""SELECT doc_id, ${langIdSql("text")} AS lang_pred,
        ${tokenCountSql("text")} AS n_tokens,
        ${firstTokenSql("text")} AS first_token,
        ${fingerprintSql("text")} AS fp
        FROM documents"""

  /** Per-document quality score (bounded [0,1] composite). Kept separate
    * from docProfile so a float mismatch is isolated to one query. */
  def docQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))

  def docQualitySql: String =
    s"SELECT doc_id, ${qualityScoreSql("text")} AS quality FROM documents"

  /** C1 classification over the cleaned text (pipeline stages 3-4 as a
    * standalone query). */
  def docClassify(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"),
        classify(cleanText(col("text"))).as("doc_type"))

  def docClassifySql: String =
    s"SELECT doc_id, ${classifySql(cleanTextSql("text"))} AS doc_type FROM documents"

  /** Per-document token accounting: whitespace tokens vs BPE-ish
    * subword segments (the two token-count bases a training-data
    * pipeline budgets with). */
  def docTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"),
        tokenCount(col("text")).as("ws_tokens"),
        subwordCount(col("text")).as("subword_tokens"))

  def docTokensSql: String =
    s"""SELECT doc_id, ${tokenCountSql("text")} AS ws_tokens,
        ${subwordCountSql("text")} AS subword_tokens FROM documents"""

  /** Corpus rollup by predicted language: doc counts + exact long token
    * sums (order-independent, deterministic under parallel agg). */
  def langAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWide(spark, dir, "documents")
      .select(langId(col("text")).as("lang_pred"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("lang_pred"))

  def langAggSql: String =
    s"""SELECT ${langIdSql("text")} AS lang_pred, count(*) AS n_docs,
        CAST(sum(CAST(${tokenCountSql("text")} AS BIGINT)) AS BIGINT) AS sum_tokens
        FROM documents GROUP BY 1"""

  /** Per-language top-k frequent words via the Misra-Gries summary
    * (graft.plans.TopFreq): explode whitespace tokens, ONE bounded-state
    * aggregate per language, slice the k best counters.
    *
    * Scale contrast: the exact form (the oracle) shuffles every distinct
    * (lang, word) pair to count, then ranks with a window; the sketch
    * partial-aggregates to <= cap counters per language per partition
    * before the shuffle, so the heavy-hitter profile of a 100 TB corpus
    * moves cap·n_langs counters instead of the vocabulary. On this
    * corpus (~30-word vocabulary < cap) the sketch is EXACT — the oracle
    * checks the sketch against the true GROUP BY counts, pinning both
    * the counts and the (cnt DESC, word ASC) rank order. */
  def langTopWords(spark: SparkSession, dir: String, k: Int = 5,
                   cap: Int = 256): DataFrame =
    Tables.loadWide(spark, dir, "documents")
      .select(langId(col("text")).as("lang_pred"),
        explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("lang_pred"))
      .agg(graft.functions.NativeFunctions.topFreq(col("word"), cap).as("tf"))
      .select(col("lang_pred"), posexplode(col("tf")).as(Seq("pos", "p")))
      .filter(col("pos") < k)
      .select(col("lang_pred"), (col("pos") + 1).as("rnk"),
        col("p.item").as("word"), col("p.cnt").as("cnt"))
      .orderBy(col("lang_pred"), col("rnk"))

  def langTopWordsSql(k: Int = 5): String =
    s"""WITH w AS (SELECT ${langIdSql("text")} AS lang_pred,
          unnest(${wordsSql("text")}) AS word
        FROM documents),
        g AS (SELECT lang_pred, word, count(*) AS cnt
              FROM w WHERE word <> '' GROUP BY 1, 2),
        r AS (SELECT lang_pred, word, cnt,
              CAST(row_number() OVER (PARTITION BY lang_pred
                ORDER BY cnt DESC, word) AS INT) AS rnk
              FROM g)
        SELECT lang_pred, rnk, word, cnt FROM r WHERE rnk <= $k"""

  /** Per-document top-k keywords by TF-IDF (north star: keyword
    * extraction for training-data pipelines). The idf factor is the
    * LOG-FREE rational surrogate (N − df + 0.5)/(df + 0.5) — BM25's idf
    * odds ratio without the ln. Rationale: ln() is correctly-rounded on
    * neither engine (both are within-1-ulp libm calls that can disagree
    * in the last bit, failing the driver's value hash), while the
    * surrogate is exact IEEE add/divide/multiply on integer-valued
    * doubles — bit-identical everywhere — and is monotone in 1/df like
    * the log form, so per-document rank order matches classic TF-IDF
    * whenever tf ties don't interleave. A production deployment can swap
    * `ln` in with one line.
    *
    * Scale shape: tokens explode narrowly; tf is one (doc_id, word)
    * shuffle; df reuses tf with a word-only reshuffle; the df join is on
    * word (broadcastable for bounded vocabularies, plain equi-join
    * otherwise); ranking shuffles (doc_id, word, score) triples only.
    * N comes from a metadata-cheap count. */
  def tfidfKeywords(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val n = Tables.load(spark, dir, "documents").count()
    val tokens = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"),
        explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val tf = tokens.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    // fresh name for the join key: tf and dfreq share lineage, and a
    // same-attribute equality would resolve trivially true (self-join gotcha)
    val dfreq = tf.groupBy(col("word").as("dfw"))
      .agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, col("word") === col("dfw"))
      .withColumn("tfidf", col("tf").cast(DoubleType) *
        ((lit(n.toDouble) - col("df").cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("word"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  def tfidfKeywordsSql(k: Int = 5): String =
    s"""WITH t AS (SELECT doc_id,
          unnest(${wordsSql("text")}) AS word
        FROM documents),
        tf AS (SELECT doc_id, word, count(*) AS tf
               FROM t WHERE word <> '' GROUP BY 1, 2),
        df AS (SELECT word AS dfw, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        scored AS (SELECT doc_id, word,
               CAST(tf AS DOUBLE) *
                 (((n.n - CAST(df AS DOUBLE)) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS tfidf
               FROM tf JOIN df ON tf.word = df.dfw CROSS JOIN n),
        r AS (SELECT doc_id, word, tfidf,
              CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, word) AS INT) AS rnk
              FROM scored)
        SELECT doc_id, rnk, word, tfidf FROM r WHERE rnk <= $k"""

  /** Repetition quality signals (north star: the Gopher/C4-style
    * repetition filters a training pipeline drops documents on):
    * duplicate-token fraction (1 − distinct/total) and top-bigram
    * fraction (occurrences of the most frequent word bigram over all
    * bigram slots). High values mark boilerplate/spam.
    *
    * Scale shape: per-document stats only — one (doc_id, bigram) count
    * shuffle and one (doc_id) rollup, both partial-aggregated; nothing
    * corpus-global. Fractions are single IEEE divisions of exact counts,
    * so the oracle hash-matches. Docs with < 2 words have no bigram
    * slots: top_bigram_frac = 0 by convention (both engines). */
  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    docRepetitionFrom(Tables.loadWide(spark, dir, "documents"))

  /** [[docRepetition]] over an arbitrary (doc_id, text) frame — the
    * form the streaming curation pipeline scores arriving batches
    * with (same plan, same per-doc arithmetic). */
  private[graft] def docRepetitionFrom(docs: DataFrame): DataFrame = {
    // filter '' ONCE, then derive counts AND bigrams from the same
    // filtered array — the oracle does the same, so the two can't
    // diverge on whitespace-edged text (unfiltered bigrams would see a
    // phantom '' token wherever trim() left a \t or \n edge)
    val toks = docs
      .select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"), expr("filter(ws0, w -> w <> '')").as("ws"))
      .select(col("doc_id"), expr(
        "filter(transform(ws, (w, i) -> IF(i < size(ws) - 1, concat(w, ' ', element_at(ws, i + 2)), NULL)), x -> x IS NOT NULL)"
      ).as("bigrams"),
        size(col("ws")).cast("long").as("n_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"))
    val perBigram = toks
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        explode_outer(col("bigrams")).as("bg"))
      .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"), col("bg"))
      .agg(count(col("bg")).as("bg_cnt"))
    perBigram.groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"))
      .agg(coalesce(max(when(col("bg").isNotNull, col("bg_cnt"))), lit(0L)).as("top_bg"),
        coalesce(sum(when(col("bg").isNotNull, col("bg_cnt"))), lit(0L)).as("n_bg"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0,
          (col("n_tokens") - col("n_distinct")).cast("double") /
            col("n_tokens").cast("double")).otherwise(lit(0.0)).as("dup_token_frac"),
        when(col("n_bg") > 0,
          col("top_bg").cast("double") / col("n_bg").cast("double"))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  def docRepetitionSql: String =
    s"""WITH w AS (SELECT doc_id, list_filter(${wordsSql("text")}, x -> x <> '') AS ws
        FROM documents),
        base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
                 list_transform(generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1]) AS bigrams
                 FROM w),
        bg AS (SELECT doc_id, n_tokens, n_distinct, unnest(bigrams) AS b FROM base),
        cnt AS (SELECT doc_id, n_tokens, n_distinct, b, count(*) AS c
                FROM bg GROUP BY 1, 2, 3, 4),
        agg AS (SELECT doc_id, n_tokens, n_distinct,
                max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg
                FROM cnt GROUP BY 1, 2, 3)
        SELECT base.doc_id, base.n_tokens, base.n_distinct,
               CASE WHEN base.n_tokens > 0 THEN
                 CAST(base.n_tokens - base.n_distinct AS DOUBLE) / CAST(base.n_tokens AS DOUBLE)
               ELSE 0.0 END AS dup_token_frac,
               CASE WHEN coalesce(agg.n_bg, 0) > 0 THEN
                 CAST(agg.top_bg AS DOUBLE) / CAST(agg.n_bg AS DOUBLE)
               ELSE 0.0 END AS top_bigram_frac
        FROM base LEFT JOIN agg ON base.doc_id = agg.doc_id"""

  /** Source-weighted MIXTURE SAMPLING (north star: pretraining corpora
    * mix sources at different rates — "sample wiki 3x, crawl 0.3x").
    * Each source gets a deterministic weight; a document with weight w
    * is emitted floor(w) times plus once more for the frac(w) share of
    * documents selected by content-fingerprint bucket — so DOWN-sampling
    * (w < 1) and UP-sampling (w > 1, replicated epochs) are the same
    * mechanism, membership is stable under repartitioning and corpus
    * growth, and the realized rate converges to w per source. The weight
    * here derives from the source index — 20 + (7·idx mod 180) percent,
    * range [20, 199] in general, [20, 153] on the fixture's src0..src19
    * — so the oracle can reproduce it; sources that don't match the full
    * 'srcN' shape fall back to a fingerprint-derived index (never silently
    * dropped, never an error — identical on both engines). A production
    * caller passes its own weight map through the same integer-percent
    * contract.
    *
    * Scale shape: narrow — fingerprint + integer arithmetic + a bounded
    * explode (max ceil(w) rows per doc); no shuffle (the orderBy is
    * presentation). */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    // integer percents end to end; the suffix parse is gated on the full
    // 'srcN' shape (otherwise 'web42' would parse as 42 and 'src-30' as a
    // negative weight) — everything else takes the stable
    // fingerprint-derived index instead of a NULL (which would silently
    // drop the whole source here and hard-error in the DuckDB twin)
    val idx = coalesce(
      when(col("source").rlike("^src[0-9]+$"),
        expr("try_cast(substr(source, 4) AS INT)")),
      fingerprint(col("source")) % 180)
    val wPct = (lit(20) + (idx * 7) % 180)
    Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        wPct.as("w_pct"),
        pmod(fingerprint(col("text")), lit(100)).as("bucket"))
      .select(col("doc_id"), col("source"), col("w_pct"),
        (expr("w_pct div 100") +
          when(col("bucket") < col("w_pct") % 100, 1).otherwise(0))
          .cast("int").as("n_copies"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), col("n_copies"))).as("copy"))
      .orderBy(col("doc_id"), col("copy"))
  }

  def mixtureSampleSql: String =
    s"""WITH b AS (SELECT doc_id, source,
          20 + (coalesce(CASE WHEN regexp_matches(source, '^src[0-9]+$$')
                         THEN TRY_CAST(substr(source, 4) AS INT) END,
                         (${fingerprintSql("source")}) % 180) * 7) % 180 AS w_pct,
          (${fingerprintSql("text")}) % 100 AS bucket
        FROM documents),
        c AS (SELECT doc_id, source,
              (w_pct // 100) + (CASE WHEN bucket < w_pct % 100 THEN 1 ELSE 0 END) AS n_copies
              FROM b)
        SELECT doc_id, source, CAST(copy AS INT) AS copy
        FROM c, unnest(generate_series(1, n_copies)) AS t(copy)
        WHERE n_copies >= 1"""

  /** Overlapping token-window CHUNKING (north star: the splitter that
    * feeds an embedding index — the reference embeds whole documents,
    * src/pinecone_utils.py:47-52; real RAG corpora chunk first). Chunk k
    * covers tokens [1 + k·stride, 1 + k·stride + size) with the last
    * chunk allowed short; with K = ceil(max(0, n − size)/stride), the
    * K + 1 chunks k = 0..K cover every token (stride <= size enforced —
    * a larger stride would leave inter-chunk gaps the contract denies).
    * Zero-token docs produce no chunks.
    *
    * Scale shape: purely narrow — per-document transform/slice like
    * spanTable, no shuffle at all (the orderBy is presentation). Chunk
    * arithmetic is integer-exact on both engines. Feed `chunk_text`
    * to SchemaRetrieval.pseudoEmbed / a real encoder and the chunks
    * become the embeddings-store rows. */
  def docChunks(spark: SparkSession, dir: String, size: Int = 32,
                stride: Int = 24): DataFrame = {
    require(size >= 1 && stride >= 1, "chunk size and stride must be >= 1")
    require(stride <= size, "stride > size leaves tokens in no chunk")
    Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"), expr("filter(ws0, w -> w <> '')").as("ws"))
      .filter(expr("size(ws) >= 1"))
      .select(col("doc_id"), col("ws"),
        expr(s"(greatest(size(ws) - $size, 0) + $stride - 1) div $stride").as("k_max"))
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, k_max), k -> named_struct(" +
          s"'chunk_id', k, " +
          s"'chunk_start', 1 + k * $stride, " +
          s"'chunk_text', array_join(slice(ws, 1 + k * $stride, $size), ' ')))"))
          .as("c"))
      .select(col("doc_id"),
        col("c.chunk_id").cast("long").as("chunk_id"),
        col("c.chunk_start").cast("long").as("chunk_start"),
        col("c.chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def docChunksSql(size: Int = 32, stride: Int = 24): String =
    s"""WITH w AS (SELECT doc_id, list_filter(${wordsSql("text")}, x -> x <> '') AS ws
        FROM documents),
        b AS (SELECT doc_id, ws,
              (greatest(len(ws) - $size, 0) + $stride - 1) // $stride AS k_max
              FROM w WHERE len(ws) >= 1)
        SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
               CAST(1 + k * $stride AS BIGINT) AS chunk_start,
               array_to_string(ws[1 + k * $stride : $size + k * $stride], ' ') AS chunk_text
        FROM b, unnest(generate_series(0, k_max)) AS t(k)"""

  /** PII scrubbing pass (north star: redact before training). The
    * fixture corpus carries no PII, so the query ENRICHES each document
    * with a deterministic contact tail (email + phone derived from
    * doc_id) and then proves the scrub removes exactly that — the oracle
    * twin applies the same enrich + redact. One narrow codegen'd pass. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val enriched = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com on +1 555 000 "),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), scrubPii(enriched).as("scrubbed"))
  }

  def piiScrubSql: String = {
    val enriched = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com on +1 555 000 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    s"SELECT doc_id, ${scrubPiiSql(s"($enriched)")} AS scrubbed FROM documents"
  }

  /** Deterministic train/val/test corpus split (north star: reproducible
    * splits at any scale): bucket = content fingerprint mod 100, split by
    * bucket thresholds (90/5/5). Hash-based, so membership is stable
    * under re-partitioning, re-ordering, and incremental corpus growth —
    * unlike positional/random sampling. Narrow, no shuffle. */
  def docSplits(spark: SparkSession, dir: String): DataFrame = {
    val bucket = fingerprint(col("text")) % 100
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), bucket.as("bucket"),
        when(bucket < 90, lit("train"))
          .when(bucket < 95, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  def docSplitsSql: String =
    s"""SELECT doc_id, (${fingerprintSql("text")}) % 100 AS bucket,
        CASE WHEN (${fingerprintSql("text")}) % 100 < 90 THEN 'train'
             WHEN (${fingerprintSql("text")}) % 100 < 95 THEN 'val'
             ELSE 'test' END AS split
        FROM documents"""

  /** Sequence packing (north star: concat-and-chunk, the packing LLM
    * training uses — documents are concatenated in order and sliced into
    * fixed `cap`-token context windows; a document may cross a chunk
    * boundary). Packing is per-SHARD (doc_id div shardSize): each shard
    * packs independently, so the prefix-sum window partitions by shard
    * and parallelizes — a single global ordering would serialize the
    * cumsum through one task at 100 TB. Exact integer arithmetic only. */
  def seqPacking(spark: SparkSession, dir: String, cap: Long = 512,
                 shardSize: Long = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), expr(s"doc_id div $shardSize").as("shard"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
    // ROWS frame explicitly: the default RANGE frame would give tied
    // doc_ids one shared cumulative value, diverging from the oracle's
    // ROWS UNBOUNDED PRECEDING on any corpus with duplicate doc_ids
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"),
        (col("cum") - col("n_tokens")).as("offset"),
        expr(s"(cum - n_tokens) div $cap").as("chunk"),
        // a zero-token document occupies nothing and can't cross a
        // boundary even when its offset lands exactly on one
        (col("n_tokens") > 0 &&
          expr(s"(cum - n_tokens) div $cap") =!=
          expr(s"(cum - 1) div $cap")).as("crosses"))
      .orderBy(col("doc_id"))
  }

  def seqPackingSql(cap: Long = 512, shardSize: Long = 100): String =
    s"""WITH t AS (SELECT doc_id, doc_id // $shardSize AS shard,
          CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens
        FROM documents),
        c AS (SELECT doc_id, shard, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM t)
        SELECT doc_id, shard, (cum - n_tokens) AS offset,
               (cum - n_tokens) // $cap AS chunk,
               (n_tokens > 0 AND
                ((cum - n_tokens) // $cap) <> ((cum - 1) // $cap)) AS crosses
        FROM c"""

  /** Rare-n-gram NOVELTY per document — the corpus-global complement to
    * the per-doc Gopher repetition signals: a document whose bigrams
    * mostly appear NOWHERE else in the corpus is gibberish, OCR noise,
    * or junk templating (unique-shingle rate), while a very LOW mean
    * document frequency threshold filters the opposite tail. Standard
    * pretraining-quality signal over corpus statistics.
    *
    * Scale shape: the shingle stream is PolyHash'd to int64 BEFORE the
    * df groupBy and the df join, so both exchanges carry (long, long)
    * rows — never shingle strings (at 100 TB the bigram text dominates
    * the shuffle otherwise). Hash collisions merge two bigrams' df
    * counts: ~(corpus-distinct²/2·1e9+7) expected merges, deterministic,
    * and IDENTICAL in the oracle, which hashes with the same polynomial.
    * Aggregates are integer counts; the two ratios are single divisions
    * of exact integers, so the hash gate holds cross-engine. Documents
    * with no bigram (< 2 words) drop out on both engines. */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val inv = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
      .select(col("doc_id"), Dedup.chash(col("s")).as("h"))
    val dfreq = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    inv.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"),
        sum(col("df")).as("sum_df"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_shingles").cast("double"))
          .as("novelty_frac"),
        (col("sum_df").cast("double") / col("n_shingles").cast("double"))
          .as("mean_df"))
      .orderBy(col("doc_id"))
  }

  def docNoveltySql: String =
    s"""WITH d AS (SELECT doc_id, ${graft.operators.Dedup.shinglesSql("text")} AS sh
        FROM documents),
        inv0 AS (SELECT doc_id, unnest(sh) AS s FROM d),
        inv AS (SELECT doc_id, ${graft.operators.Dedup.chashSql("s")} AS h FROM inv0),
        fr AS (SELECT h, count(*) AS df FROM inv GROUP BY 1),
        j AS (SELECT inv.doc_id, fr.df FROM inv JOIN fr ON inv.h = fr.h),
        agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                CAST(sum(df) AS BIGINT) AS sum_df
                FROM j GROUP BY 1)
        SELECT doc_id, n_shingles, n_unique,
               CAST(n_unique AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty_frac,
               CAST(sum_df AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS mean_df
        FROM agg"""

  /** Composite QUALITY FILTER (north star: the Gopher/C4-style rule
    * pass that decides which documents enter a training corpus — Rae et
    * al. 2021 §A1.1, Raffel et al. 2020 §2.2): word-count bounds, mean
    * word length bounds, duplicate-token and top-bigram repetition
    * caps. Emits the signals, a comma-joined `reasons` string naming
    * every failed rule (fixed rule order; concat_ws skips the NULL of a
    * passing rule on both engines), and the `keep` verdict — a real
    * pipeline filters on `keep` but LOGS the reasons, so both are
    * first-class columns.
    *
    * All thresholds compare doubles that are single IEEE divisions of
    * exact integer counts — identical cross-engine, so the verdict
    * hash-matches. Scale shape: composes [[docRepetition]]'s per-doc
    * aggregates (nothing corpus-global) with one more narrow token-
    * length fold; the join is doc_id-to-doc_id between two children of
    * the same scan. */
  def qualityFilter(spark: SparkSession, dir: String,
                    minWords: Int = 5, maxWords: Int = 500,
                    minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                    maxDupFrac: Double = 0.8,
                    maxTopBigramFrac: Double = 0.2): DataFrame =
    qualityFilterFrom(Tables.loadWide(spark, dir, "documents"),
      minWords, maxWords, minMeanLen, maxMeanLen, maxDupFrac,
      maxTopBigramFrac)

  /** [[qualityFilter]] over an arbitrary (doc_id, text) frame — per-doc
    * scores carry no corpus-global state, so the streaming pipeline can
    * score each arriving batch with the exact batch plan. */
  private[graft] def qualityFilterFrom(docs: DataFrame,
                    minWords: Int = 5, maxWords: Int = 500,
                    minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                    maxDupFrac: Double = 0.8,
                    maxTopBigramFrac: Double = 0.2): DataFrame = {
    val rep = docRepetitionFrom(docs)
    val lens = docs
      .select(col("doc_id").as("len_doc_id"), words(col("text")).as("ws0"))
      .select(col("len_doc_id"), expr(
        "aggregate(filter(ws0, w -> w <> ''), 0L, (a, w) -> a + length(w))"
      ).as("sum_len"))
    rep.join(lens, col("doc_id") === col("len_doc_id"))
      .withColumn("mean_word_len",
        when(col("n_tokens") > 0,
          col("sum_len").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("reasons", concat_ws(",",
        when(col("n_tokens") < minWords, lit("too_few_words")),
        when(col("n_tokens") > maxWords, lit("too_many_words")),
        when(col("n_tokens") > 0 &&
          (col("mean_word_len") < minMeanLen ||
            col("mean_word_len") > maxMeanLen), lit("word_len")),
        when(col("dup_token_frac") > maxDupFrac, lit("dup_tokens")),
        when(col("top_bigram_frac") > maxTopBigramFrac, lit("rep_bigrams"))))
      .withColumn("keep", col("reasons") === "")
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("dup_token_frac"), col("top_bigram_frac"),
        col("reasons"), col("keep"))
      .orderBy(col("doc_id"))
  }

  def qualityFilterSql(minWords: Int = 5, maxWords: Int = 500,
                       minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                       maxDupFrac: Double = 0.8,
                       maxTopBigramFrac: Double = 0.2): String =
    s"""WITH rep AS ($docRepetitionSql),
        lw AS (SELECT doc_id AS len_doc_id,
               list_filter(${wordsSql("text")}, x -> x <> '') AS ws
               FROM documents),
        lens AS (SELECT len_doc_id,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(ws, w -> CAST(length(w) AS BIGINT))),
                   (a, x) -> a + x) AS BIGINT) AS sum_len
                 FROM lw),
        j AS (SELECT rep.*, CASE WHEN n_tokens > 0 THEN
                CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              ELSE 0.0 END AS mean_word_len
              FROM rep JOIN lens ON rep.doc_id = lens.len_doc_id),
        r AS (SELECT *, concat_ws(',',
                CASE WHEN n_tokens < $minWords THEN 'too_few_words' END,
                CASE WHEN n_tokens > $maxWords THEN 'too_many_words' END,
                CASE WHEN n_tokens > 0 AND (mean_word_len < $minMeanLen
                  OR mean_word_len > $maxMeanLen) THEN 'word_len' END,
                CASE WHEN dup_token_frac > $maxDupFrac THEN 'dup_tokens' END,
                CASE WHEN top_bigram_frac > $maxTopBigramFrac THEN 'rep_bigrams' END
              ) AS reasons FROM j)
        SELECT doc_id, n_tokens, mean_word_len, dup_token_frac,
               top_bigram_frac, reasons, reasons = '' AS keep FROM r"""

  /** BLOCKLIST (bad-words) filter — the C4 cleaning rule (Raffel et al.,
    * JMLR 2020: drop any page containing a term from a fixed blocklist):
    * count each document's tokens that hit the list; keep = zero hits.
    * Token-level membership (not substring) so "scattering" never trips
    * a "cat" entry — the same word contract as every other text op here
    * (TextFunctions.words + '' filter).
    *
    * Scale shape: a purely NARROW per-document pass — the list rides
    * into the lambda as a literal (a real deployment broadcasts it; a
    * multi-thousand-term list graduates to a Bloom-gated native
    * expression, same seam). No shuffle, no explode: tokens never leave
    * their row. */
  def blocklistFilter(spark: SparkSession, dir: String,
                      blocked: Seq[String] = Seq("vector", "stream")): DataFrame = {
    require(blocked.nonEmpty && blocked.forall(_.matches("[a-z0-9]+")),
      "blocklist terms must be lowercase tokens")
    val inList = blocked.map(t => s"'$t'").mkString(", ")
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"),
        expr(s"size(filter(ws0, t -> t IN ($inList)))").cast("long").as("n_blocked"))
      .withColumn("keep", col("n_blocked") === 0L)
  }

  def blocklistFilterSql(blocked: Seq[String] = Seq("vector", "stream")): String = {
    val inList = blocked.map(t => s"'$t'").mkString(", ")
    s"""SELECT doc_id,
        CAST(len(list_filter(${wordsSql("text")}, t -> t IN ($inList))) AS BIGINT)
          AS n_blocked,
        len(list_filter(${wordsSql("text")}, t -> t IN ($inList))) = 0 AS keep
        FROM documents"""
  }

  /** BM25 ranked retrieval: score every document against a fixed query
    * term set with Okapi BM25 (Robertson-Spärck Jones; k1 = 1.2,
    * b = 0.75) and return the global top-k. The idf factor is the same
    * LOG-FREE rational surrogate tfidfKeywords uses,
    * (N − df + 0.5)/(df + 0.5), so all arithmetic is IEEE +,-,*,/ of
    * values both engines derive from exact integers — ln() is only
    * within-1-ulp on either engine and would break the driver's value
    * hash. Per-term contributions sum in fixed literal term order
    * (left-assoc on both engines); documents matching no query term are
    * excluded by the exact integer hit count, not by a fp compare.
    *
    * Scale shape: tokens explode narrowly; ONE (doc_id, dl, tf...) count
    * shuffle builds the per-doc profile (map-side combined — the grouped
    * row carries doc_id plus nTerms+1 longs, never tokens); corpus stats
    * (total_dl, df per term) reduce that profile to a single broadcast
    * row; the global top-k is orderBy+limit — TakeOrderedAndProject, a
    * per-partition heap + driver merge of k rows, never a global sort.
    * The rank window runs over the k surviving rows only. */
  /** The shared BM25 scoring + top-k tail: `perDoc` is
    * (doc_id, dl, tf0..tf{n-1}) — zero-hit docs may be present (the
    * exact integer hit count filters them) or already pruned away (the
    * postings-store serve, where only hit docs ever materialize);
    * `stats` is the 1-row broadcast frame (total_dl, df0..df{n-1}).
    * Factored so the in-plan search and the store serve share ONE
    * floating-point expression tree — identical IEEE op order is what
    * makes the store serve hash-equal to the batch oracle. */
  private[graft] def bm25TopK(perDoc: DataFrame, stats: DataFrame, n: Long,
                              terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k1 = "1.2"
    val b = "0.75"
    // both engines parse the SAME decimal literals and fold constants
    // with the same IEEE ops — never precompute (k1+1) etc. in Scala,
    // where a differently-associated fold could be one ulp off the SQL
    val k1c = expr(k1); val bc = expr(b)
    val nD = lit(n.toDouble)
    val avgdl = col("total_dl").cast("double") / nD
    val parts = terms.indices.map { i =>
      val tfd = col(s"tf$i").cast("double")
      val dfd = col(s"df$i").cast("double")
      when(col(s"tf$i") > 0,
        (((nD - dfd) + lit(0.5)) / (dfd + lit(0.5))) *
          ((tfd * (k1c + lit(1))) /
            (tfd + k1c * ((lit(1) - bc) +
              bc * (col("dl").cast("double") / avgdl)))))
        .otherwise(lit(0.0))
    }
    val hits = terms.indices.map(i => col(s"tf$i")).reduceLeft(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", parts.reduceLeft(_ + _))
      .filter(hits > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("score"))
      .orderBy(col("rnk"))
  }

  def bm25Search(spark: SparkSession, dir: String,
                 terms: Seq[String] = Seq("vector", "scan", "merge"),
                 k: Int = 20): DataFrame = {
    val n = Tables.load(spark, dir, "documents").count()
    val tokens = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val perDoc = tokens.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = terms.indices.map { i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
    }
    val stats = perDoc.agg(sum(col("dl")).as("total_dl"), dfCols: _*)
    bm25TopK(perDoc, stats, n, terms, k)
  }

  def bm25SearchSql(terms: Seq[String] = Seq("vector", "scan", "merge"),
                    k: Int = 20): String = {
    val k1 = "1.2"
    val b = "0.75"
    val tfSel = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN word = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf$i"
    }.mkString(",\n               ")
    val dfSel = terms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i"
    }.mkString(",\n               ")
    val parts = terms.indices.map { i =>
      s"""(CASE WHEN tf$i > 0 THEN
             (((n.n - CAST(df$i AS DOUBLE)) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5)) *
             ((CAST(tf$i AS DOUBLE) * ($k1 + 1)) /
               (CAST(tf$i AS DOUBLE) + $k1 * ((1 - $b) +
                 $b * (CAST(dl AS DOUBLE) / (CAST(total_dl AS DOUBLE) / n.n)))))
           ELSE 0.0 END)"""
    }.mkString(" + ")
    val hits = terms.indices.map(i => s"tf$i").mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest(${wordsSql("text")}) AS word
          FROM documents),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
               $tfSel
               FROM t WHERE word <> '' GROUP BY 1),
        st AS (SELECT CAST(sum(dl) AS BIGINT) AS total_dl,
               $dfSel
               FROM pd),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        scored AS (SELECT doc_id, $parts AS score, $hits AS hits
                   FROM pd CROSS JOIN st CROSS JOIN n),
        r AS (SELECT doc_id, score,
              CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rnk
              FROM scored WHERE hits > 0)
        SELECT rnk, doc_id, score FROM r WHERE rnk <= $k"""
  }

  // ---------------------------------------------------------------------
  // BM25 served from a term-partitioned POSTINGS STORE — the inverted
  // index at rest (what production text search serves from): build once,
  // then a query touches only its own terms' bucket partitions. The text
  // member of the store-serve family (LSH buckets / IVF cells / PQ codes
  // / graph edges).
  // ---------------------------------------------------------------------

  /** Term-hash bucket count for the postings partition layout. Same
    * deploy-time-config posture as the ANN stores: re-bucketing is a
    * store rewrite. */
  private[graft] val PostingsBuckets = 64

  /** Driver-side twin of the native polyHash bucket — produces the
    * query's bucket set (O(nTerms) ints of control state) for the
    * static partition filter. Must stay formula-identical to
    * [[graft.plans.PolyHash]] ((acc*31 + codepoint) % P, empty → 0). */
  private[graft] def termBucket(t: String,
                                buckets: Int = PostingsBuckets): Int =
    (t.codePoints().toArray.foldLeft(0L)((acc, cp) =>
      (acc * 31 + cp) % Dedup.P) % buckets).toInt

  /** The in-plan bucket column every term-hash store is partitioned by
    * — the column twin of [[termBucket]], which prunes the reads. */
  private[graft] def termBucketCol(c: Column,
                                   buckets: Int = PostingsBuckets): Column =
    pmod(Dedup.chash(c), lit(buckets.toLong))
      .cast(org.apache.spark.sql.types.IntegerType)

  /** The bm25 ingest kernel: append whole documents' `tokens`
    * (doc_id, word) to a postings store — (word, doc_id, tf) clustered
    * into term-hash bucket partitions, sorted (word, doc_id) within each
    * — and their (doc_id, dl) lengths beside it, one file. The batch
    * build calls it once on the corpus and the stream store once per
    * micro-batch, so the two layouts are one. A document lives in one
    * call, so its counts are final. */
  private[graft] def appendBm25(tokens: DataFrame, postingsDir: String,
                                docsDir: String): Unit = {
    Sinks.writeClustered(
      tokens.groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .withColumn("tbucket", termBucketCol(col("word"))),
      postingsDir, "tbucket", Seq("word", "doc_id"))
    tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .coalesce(1).write.mode("append").parquet(docsDir)
  }

  /** Build the postings + doc-length stores ONCE per corpus through
    * [[appendBm25]]: a query term's rows are one directory listing + a
    * word-range row-group read. At 100 TB the postings store is the big
    * artifact and this layout is why serving stays O(query terms),
    * never O(vocabulary). The store persists in the
    * [[graft.StoreCatalog]] — built once per corpus LIFETIME, served by
    * any later session with zero rebuild. */
  private[graft] def buildBm25Store(spark: SparkSession,
                                    dir: String): (String, String) = {
    val h = graft.StoreCatalog.getOrBuild(spark, "bm25_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> PostingsBuckets.toString),
      Seq("postings", "docs")) { parts =>
      appendBm25(Tables.loadWide(spark, dir, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("word"))
          .filter(col("word") =!= ""),
        parts("postings"), parts("docs"))
      Map.empty
    }
    (h.parts("postings"), h.parts("docs"))
  }

  /** CATALOG-MANAGED RE-BUCKETING of the postings store — the
    * term-bucket sibling of [[graft.operators.Similarity
    * .rebucketGraphStore]]: the widened layout rewrites from the
    * store's own at-rest rows (`tbucket` is a pure function of the
    * word — no re-tokenization, the corpus is never read), publishes
    * under the NEW config key via the catalog's staging + atomic
    * rename, and the doc-length part (bucket-independent) HARDLINKS
    * across. The old store serves until
    * [[graft.StoreCatalog.drop]] retires it. */
  def rebucketBm25Store(spark: SparkSession, dir: String,
                        newBuckets: Int = 256): (String, String) = {
    val (pd, dd) = buildBm25Store(spark, dir)
    val h = graft.StoreCatalog.getOrBuild(spark, "bm25_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> newBuckets.toString),
      Seq("postings", "docs")) { parts =>
      Sinks.rebucketPartitioned(spark, pd, parts("postings"), "tbucket",
        termBucketCol(col("word"), newBuckets), Seq("word", "doc_id"))
      graft.StoreCatalog.linkTree(java.nio.file.Paths.get(dd),
        java.nio.file.Paths.get(parts("docs")))
      Map.empty
    }
    (h.parts("postings"), h.parts("docs"))
  }

  /** The pruned postings read — `tbucket` is the partition column, so
    * the isin lists only the query terms' directories; the word isin
    * then lands in PushedFilters for row-group skipping within them.
    * `buckets` must be the STORE's own width (a re-bucketed layout
    * derives the prune set at its width). Exposed for the plan spec. */
  private[graft] def prunedPostings(spark: SparkSession, postingsDir: String,
                                    terms: Seq[String],
                                    buckets: Int = PostingsBuckets): DataFrame =
    spark.read.parquet(postingsDir)
      .where(col("tbucket").isin(
        terms.map(termBucket(_, buckets)).distinct: _*) &&
        col("word").isin(terms: _*))

  /** The serve tail shared by the batch-built and stream-accreted
    * stores: pivot the pruned postings into per-doc tf columns (only
    * HIT documents ever materialize — the store prunes the rest by
    * construction), attach doc lengths, rebuild the 1-row stats frame
    * (df from the pruned postings, total_dl from the doc store), and
    * score through the SAME [[bm25TopK]] expression tree as the
    * in-plan search. */
  private[graft] def serveBm25(spark: SparkSession, dir: String,
                               posts: DataFrame, docs: DataFrame,
                               terms: Seq[String], k: Int): DataFrame = {
    val n = Tables.load(spark, dir, "documents").count()
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, col("tf")).otherwise(0L)).as(s"tf$i")
    }
    val perDoc = posts.groupBy(col("doc_id")).agg(tfCols.head, tfCols.tail: _*)
      .join(docs, "doc_id")
    val dfCols = terms.indices.map { i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")
    }
    val stats = perDoc.agg(dfCols.head, dfCols.tail: _*)
      .crossJoin(broadcast(docs.agg(sum(col("dl")).as("total_dl"))))
    bm25TopK(perDoc, stats, n, terms, k)
  }

  /** [[bm25Search]] SERVED from the postings store. Results are
    * byte-identical to the in-plan search; oracle: bm25SearchSql. */
  def bm25SearchFromStore(spark: SparkSession, dir: String,
                          terms: Seq[String] = Seq("vector", "scan", "merge"),
                          k: Int = 20): DataFrame = {
    val (pd, dd) = buildBm25Store(spark, dir)
    serveBm25(spark, dir, prunedPostings(spark, pd, terms),
      spark.read.parquet(dd), terms, k)
  }

  /** Positional postings for one document frame: (doc_id, pos, word),
    * positions 1-based over the EMPTY-FILTERED word sequence (the
    * engine's single tokenizer, with '' dropped BEFORE positions are
    * assigned so adjacency means adjacency of real words — identically
    * in [[phraseSearchSql]]). */
  private[graft] def phrasePostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(filter(words(col("text")), w => w =!= "")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("word"))

  /** The shared phrase-match tail: `posts` is a (word, doc_id, pos)
    * relation already restricted to the phrase's terms (in-plan filter
    * or store partition pruning); match = the terms in order with the
    * gap between CONSECUTIVE terms bounded by `slop` extra positions
    * (slop 0 = exact adjacency, the classic phrase query; slop k = the
    * Lucene `PhraseQuery~k`-shaped proximity query). One doc_id
    * equi-join per extra phrase word — the position band rides the
    * join as a post-filter, so candidates stay term-df-bounded at any
    * slop. Per doc, n_hits counts DISTINCT ANCHORS (first-term
    * positions with at least one in-order completion): at slop 0 every
    * anchor completes at most one way, so this is exactly the match
    * count; at slop > 0 it avoids combinatorial double-counting when
    * one anchor has several completions. Top-k ranked by
    * (hits DESC, doc_id). The postings are materialized once
    * (localCheckpoint) because the chain references them
    * `phrase.length` times. */
  private[graft] def phraseRank(posts: DataFrame, phrase: Seq[String],
                                k: Int, slop: Int = 0): DataFrame =
    phraseRankSets(posts, phrase.map(Seq(_)), k, slop)

  /** [[phraseRank]] generalized to a word SET per phrase slot (the
    * Lucene `MultiPhraseQuery` shape — the typo-tolerant phrase
    * query's match tail). Every position holds exactly one token, so
    * the anchor-counting argument is unchanged: at slop 0 each anchor
    * still completes at most one way per following position no matter
    * how wide the slots are. An empty slot (a term with no expansion)
    * correctly matches nothing — `isin` of an empty list is false. */
  private[graft] def phraseRankSets(posts: DataFrame,
                                    slots: Seq[Seq[String]],
                                    k: Int, slop: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = posts.select(col("word"), col("doc_id"), col("pos"))
      .localCheckpoint(true)
    var t = f.filter(col("word").isin(slots.head: _*))
      .select(col("doc_id"), col("pos"), col("pos").as("lastp"))
    for (i <- 1 until slots.length) {
      val band =
        if (slop == 0) col(s"p$i") === col("lastp") + 1
        else col(s"p$i") > col("lastp") &&
          col(s"p$i") <= col("lastp") + (1 + slop)
      t = t.join(f.filter(col("word").isin(slots(i): _*))
          .select(col("doc_id").as(s"d$i"), col("pos").as(s"p$i")),
        col("doc_id") === col(s"d$i") && band)
        .select(col("doc_id"), col("pos"), col(s"p$i").as("lastp"))
    }
    val hits =
      if (slop == 0) t.groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      else t.groupBy(col("doc_id"))
        .agg(countDistinct(col("pos")).as("n_hits"))
    val w = Window.orderBy(col("n_hits").desc, col("doc_id"))
    hits.orderBy(col("n_hits").desc, col("doc_id")).limit(k)
      .withColumn("rn", row_number().over(w)
        .cast(org.apache.spark.sql.types.IntegerType))
      .select(col("rn"), col("doc_id"), col("n_hits"))
      .orderBy(col("rn"))
  }

  /** EXACT PHRASE SEARCH — the retrieval capability BM25 cannot express
    * (bag-of-words scoring loses order): documents containing the words
    * of `phrase` at consecutive positions, ranked by occurrence count.
    * In-plan form: tokenize with positions, keep only the phrase's
    * terms (the scan's pushed filter), one position equi-join per extra
    * word — only phrase-term postings ever materialize, the candidate
    * volume is term-df-bounded, and nothing order-blind approximates
    * the match. Oracle: [[phraseSearchSql]]. */
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: Seq[String] = Seq("vector", "small"),
                   k: Int = 20): DataFrame = {
    require(phrase.nonEmpty)
    val posts = phrasePostings(Tables.loadWide(spark, dir, "documents"))
      .filter(col("word").isin(phrase.distinct: _*))
    phraseRank(posts, phrase, k)
  }

  /** [[phraseSearch]] SERVED from a POSITIONAL postings store — the
    * at-rest inverted index with positions (the standard phrase-query
    * layout: same term-hash bucket partitions as the BM25 store, rows
    * sorted (word, doc_id, pos) so a term's postings are one directory
    * listing plus a word-range row-group read). Built once per corpus
    * lifetime into the [[graft.StoreCatalog]]; a query lists only its
    * own terms' partitions, never the vocabulary. Results are
    * byte-identical to [[phraseSearch]]; oracle: the same SQL. */
  def phraseSearchFromStore(spark: SparkSession, dir: String,
                            phrase: Seq[String] = Seq("vector", "small"),
                            k: Int = 20): DataFrame = {
    require(phrase.nonEmpty)
    phraseRank(prunedPhrasePostings(spark, dir, phrase), phrase, k)
  }

  /** The phrase ingest kernel: append `docs`' (doc_id, text) positional
    * postings (word, doc_id, pos) to a store, clustered into the bm25
    * term-hash bucket partitions and sorted (word, doc_id, pos) within
    * each. The batch build and the stream store both write through it. */
  private[graft] def appendPhrasePostings(docs: DataFrame,
                                          postingsDir: String): Unit =
    Sinks.writeClustered(
      phrasePostings(docs).withColumn("tbucket", termBucketCol(col("word"))),
      postingsDir, "tbucket", Seq("word", "doc_id", "pos"))

  /** Resolve (build-if-absent) the positional postings store and prune
    * it to `phrase`'s term buckets — the shared serve-side read for
    * exact and proximity phrase queries. */
  private[graft] def prunedPhrasePostings(spark: SparkSession, dir: String,
                                          phrase: Seq[String]): DataFrame = {
    val h = graft.StoreCatalog.getOrBuild(spark, "phrase_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> PostingsBuckets.toString),
      Seq("postings")) { parts =>
      appendPhrasePostings(Tables.loadWide(spark, dir, "documents"),
        parts("postings"))
      Map.empty
    }
    prunedPostings(spark, h.parts("postings"), phrase.distinct)
  }

  /** PROXIMITY (SLOPPY) PHRASE SEARCH — [[phraseSearch]] generalized to
    * "the words in order, each within `slop` extra positions of the
    * previous" (the Lucene `PhraseQuery~k` shape; exact phrase is the
    * degenerate slop = 0). Same positional postings, same
    * term-df-bounded candidate volume — the band is an inequality on
    * the SAME doc_id equi-join, so loosening slop changes selectivity,
    * never the join class. n_hits = distinct anchor count (see
    * [[phraseRank]]). */
  def phraseSlopSearch(spark: SparkSession, dir: String,
                       phrase: Seq[String] = Seq("vector", "small"),
                       slop: Int = 2, k: Int = 20): DataFrame = {
    require(phrase.nonEmpty && slop >= 0)
    val posts = phrasePostings(Tables.loadWide(spark, dir, "documents"))
      .filter(col("word").isin(phrase.distinct: _*))
    phraseRank(posts, phrase, k, slop)
  }

  /** [[phraseSlopSearch]] SERVED from the SAME positional postings
    * store as [[phraseSearchFromStore]] — one at-rest index serves
    * exact AND proximity queries (positions are the index; slop is a
    * query-time parameter), which is the point of storing positions. */
  def phraseSlopFromStore(spark: SparkSession, dir: String,
                          phrase: Seq[String] = Seq("vector", "small"),
                          slop: Int = 2, k: Int = 20): DataFrame = {
    require(phrase.nonEmpty && slop >= 0)
    phraseRank(prunedPhrasePostings(spark, dir, phrase), phrase, k, slop)
  }

  /** UNORDERED PROXIMITY (co-occurrence window) SEARCH — the third
    * retrieval shape next to exact phrase (slop 0) and ordered slop:
    * documents where every query term occurs within ±`w` positions of
    * an anchor occurrence of the FIRST term, in any order (the
    * "vector near small" query). Same positional postings, same
    * term-df-bounded candidates — each extra term is one more doc_id
    * equi-join with a symmetric band; n_hits = distinct anchors with a
    * full witness set. Served in-plan and (below) from the SAME stored
    * positional index as the ordered forms. Terms must be distinct
    * (duplicate terms have no order-free reading). */
  def phraseNearSearch(spark: SparkSession, dir: String,
                       terms: Seq[String] = Seq("vector", "small"),
                       w: Int = 3, k: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size && w >= 1)
    val posts = phrasePostings(Tables.loadWide(spark, dir, "documents"))
      .filter(col("word").isin(terms: _*))
    nearRank(posts, terms, w, k)
  }

  /** [[phraseNearSearch]] SERVED from the positional postings store —
    * exact, ordered-slop, and unordered-window queries all read the
    * one at-rest index. */
  def phraseNearFromStore(spark: SparkSession, dir: String,
                          terms: Seq[String] = Seq("vector", "small"),
                          w: Int = 3, k: Int = 20): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size && w >= 1)
    nearRank(prunedPhrasePostings(spark, dir, terms), terms, w, k)
  }

  /** The unordered-window match tail: anchor on the first term's
    * occurrences, demand each other term within ±w of the anchor
    * (symmetric band on the doc_id equi-join), count distinct anchors
    * per doc, (hits DESC, doc_id) top-k. */
  private def nearRank(posts: DataFrame, terms: Seq[String],
                       w: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = posts.select(col("word"), col("doc_id"), col("pos"))
      .localCheckpoint(true)
    var t = f.filter(col("word") === terms.head)
      .select(col("doc_id"), col("pos"))
    for (i <- 1 until terms.length)
      t = t.join(f.filter(col("word") === terms(i))
          .select(col("doc_id").as(s"d$i"), col("pos").as(s"p$i")),
        col("doc_id") === col(s"d$i") &&
          col(s"p$i") >= col("pos") - w && col(s"p$i") <= col("pos") + w)
        .select(col("doc_id"), col("pos"))
    val hits = t.groupBy(col("doc_id"))
      .agg(countDistinct(col("pos")).as("n_hits"))
    val wnd = Window.orderBy(col("n_hits").desc, col("doc_id"))
    hits.orderBy(col("n_hits").desc, col("doc_id")).limit(k)
      .withColumn("rn", row_number().over(wnd)
        .cast(org.apache.spark.sql.types.IntegerType))
      .select(col("rn"), col("doc_id"), col("n_hits"))
      .orderBy(col("rn"))
  }

  /** Oracle twin of [[phraseNearSearch]] / [[phraseNearFromStore]]. */
  def phraseNearSql(terms: Seq[String] = Seq("vector", "small"),
                    w: Int = 3, k: Int = 20): String = {
    val joins = (1 until terms.length).map(i =>
      s"JOIN pos t$i ON t$i.doc_id = t0.doc_id AND " +
        s"t$i.pos BETWEEN t0.pos - $w AND t0.pos + $w")
      .mkString("\n               ")
    val wheres = terms.zipWithIndex.map { case (wd, i) =>
      s"t$i.word = '${wd.replace("'", "''")}'"
    }.mkString(" AND ")
    s"""WITH pos AS (SELECT doc_id, u.w AS word, u.p AS pos FROM (
            SELECT doc_id,
                   list_filter(${graft.functions.TextFunctions.wordsSql("text")},
                     x -> x <> '') AS ws
            FROM documents),
          LATERAL (SELECT unnest(list_transform(generate_series(1, len(ws)),
                     i -> {'p': i, 'w': ws[i]})) AS u)),
        m AS (SELECT t0.doc_id, CAST(count(DISTINCT t0.pos) AS BIGINT) AS n_hits
              FROM pos t0
               $joins
              WHERE $wheres
              GROUP BY 1)
        SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM m) WHERE rn <= $k ORDER BY rn"""
  }

  /** Oracle twin of [[phraseSearch]] / [[phraseSearchFromStore]] and,
    * at slop > 0, of [[phraseSlopSearch]] / [[phraseSlopFromStore]]:
    * positions over the same empty-filtered tokenization, the same
    * banded-position joins, the same (hits DESC, doc_id) rank. */
  def phraseSearchSql(phrase: Seq[String] = Seq("vector", "small"),
                      k: Int = 20, slop: Int = 0): String = {
    val joins = (1 until phrase.length).map { i =>
      val band =
        if (slop == 0) s"t$i.pos = t${i - 1}.pos + 1"
        else s"t$i.pos > t${i - 1}.pos AND t$i.pos <= t${i - 1}.pos + ${1 + slop}"
      s"JOIN pos t$i ON t$i.doc_id = t0.doc_id AND $band"
    }.mkString("\n               ")
    val wheres = phrase.zipWithIndex.map { case (wd, i) =>
      s"t$i.word = '${wd.replace("'", "''")}'"
    }.mkString(" AND ")
    val cnt = if (slop == 0) "count(*)" else "count(DISTINCT t0.pos)"
    s"""WITH pos AS (SELECT doc_id, u.w AS word, u.p AS pos FROM (
            SELECT doc_id,
                   list_filter(${graft.functions.TextFunctions.wordsSql("text")},
                     x -> x <> '') AS ws
            FROM documents),
          LATERAL (SELECT unnest(list_transform(generate_series(1, len(ws)),
                     i -> {'p': i, 'w': ws[i]})) AS u)),
        m AS (SELECT t0.doc_id, CAST($cnt AS BIGINT) AS n_hits
              FROM pos t0
               $joins
              WHERE $wheres
              GROUP BY 1)
        SELECT rn, doc_id, n_hits FROM (
          SELECT doc_id, n_hits,
                 CAST(row_number() OVER (ORDER BY n_hits DESC, doc_id) AS INT) AS rn
          FROM m) WHERE rn <= $k ORDER BY rn"""
  }

  /** Stratified per-group sample: exactly `k` documents per language,
    * chosen by content-fingerprint rank — the balanced-subset op
    * (per-domain/per-language eval slices, class-balanced fine-tuning
    * sets). Fingerprint ordering makes the selection stable under
    * re-partitioning, re-runs, and corpus append (a new doc displaces at
    * most one pick per group); doc_id breaks fingerprint ties.
    *
    * Scale shape: one window shuffle of (lang, fp, doc_id) triples;
    * Spark's partial WindowGroupLimit pre-filters each partition to its
    * own top-k before the exchange. */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("fp"), col("doc_id"))
    Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), fingerprint(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("rn"))
  }

  def stratifiedSampleSql(k: Int = 20): String =
    s"""WITH f AS (SELECT doc_id, lang, ${fingerprintSql("text")} AS fp
                   FROM documents),
        r AS (SELECT lang, doc_id,
                     CAST(row_number() OVER (PARTITION BY lang
                                             ORDER BY fp, doc_id) AS INT) AS rn
              FROM f)
        SELECT lang, rn, doc_id FROM r WHERE rn <= $k"""

  /** PER-DOMAIN CAP: keep at most `k` documents per source/domain —
    * the anti-monoculture guard every web-scale pretraining mix runs
    * (a single boilerplate-heavy domain otherwise dominates the
    * corpus; cf. public Common-Crawl pipeline reports capping URLs per
    * host). Deterministic: rank within domain by content fingerprint
    * then doc_id (same unbiased-order device as [[stratifiedSample]]),
    * keep rank ≤ k.
    *
    * Scale shape: one window shuffle of (source, fp, doc_id) triples —
    * Spark 4 pushes a partial WindowGroupLimit below the exchange, so
    * each map task ships at most k rows per domain, not the domain's
    * corpus. */
  def domainCap(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("fp"), col("doc_id"))
    Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("rn"), col("doc_id"))
      .orderBy(col("source"), col("rn"))
  }

  def domainCapSql(k: Int = 15): String =
    s"""WITH f AS (SELECT doc_id, source, ${fingerprintSql("text")} AS fp
                   FROM documents),
        r AS (SELECT source, doc_id,
                     CAST(row_number() OVER (PARTITION BY source
                                             ORDER BY fp, doc_id) AS INT) AS rn
              FROM f)
        SELECT source, rn, doc_id FROM r WHERE rn <= $k"""

  /** Length-bucketed inference batching: group documents of similar
    * token count into fixed-size batches so a padded inference batch
    * wastes little compute (padding cost per batch = batch_max - each
    * row's length; sorting by length inside width-`bucketWidth` buckets
    * bounds it). batch_id is dense within a bucket: rank by
    * (n_tokens, doc_id), then batch = (rank-1) div batchSize and
    * slot = (rank-1) mod batchSize — pure integer arithmetic.
    *
    * Scale shape: one narrow token-count pass, then one window shuffle
    * of (bucket, n_tokens, doc_id) triples; buckets rank in parallel
    * (a GLOBAL length sort would serialize through one task). This is
    * the batch-builder the L1 `mapPartitions` inference operator
    * (Inference.scala) consumes upstream of a GPU fleet. */
  def inferenceBatches(spark: SparkSession, dir: String,
                       bucketWidth: Long = 16, batchSize: Long = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens"), col("doc_id"))
    toks.withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("n_tokens"), col("bucket"),
        expr(s"(rn - 1) div $batchSize").as("batch_id"),
        expr(s"(rn - 1) % $batchSize").as("slot"))
      .orderBy(col("doc_id"))
  }

  def inferenceBatchesSql(bucketWidth: Long = 16, batchSize: Long = 8): String =
    s"""WITH t AS (SELECT doc_id, CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens
                   FROM documents),
        b AS (SELECT doc_id, n_tokens, n_tokens // $bucketWidth AS bucket FROM t),
        r AS (SELECT doc_id, n_tokens, bucket,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY n_tokens, doc_id) AS rn
              FROM b)
        SELECT doc_id, n_tokens, bucket,
               (rn - 1) // $batchSize AS batch_id,
               (rn - 1) % $batchSize AS slot
        FROM r"""

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical leg
    * ([[bm25Search]]) and the cosine semantic leg (pseudo-embedded
    * query vs pseudo-embedded corpus) over the SAME documents — the
    * fusion every real retrieval stack runs, and the scaled-out shape
    * of the reference's lexical-then-semantic cascade
    * (/root/reference/src/agents.py:104-156, J1).
    *
    * RRF stays EXACT across engines by carrying the score as a rational:
    * with both legs present, 1/(K+r₁) + 1/(K+r₂) =
    * (2K+r₁+r₂)/((K+r₁)(K+r₂)) — integer numerator/denominator columns;
    * the ordering key is the one IEEE division num/den both engines
    * compute bit-identically from the same integers.
    *
    * Scale shape: each leg ends in a distributed top-k
    * (TakeOrderedAndProject), so the fusion joins two ≤k-row sets —
    * driver-free and broadcast-sized no matter the corpus. */
  def hybridSearch(spark: SparkSession, dir: String,
                   terms: Seq[String] = Seq("vector", "scan", "merge"),
                   k: Int = 20, kRrf: Int = 60, kOut: Int = 10): DataFrame =
    hybridFuse(spark, dir, bm25Search(spark, dir, terms, k),
      terms, k, kRrf, kOut)

  /** [[hybridSearch]] with the lexical leg SERVED from the postings
    * store ([[bm25SearchFromStore]]) — the fusion composes with the
    * served index unchanged because the store serve is hash-equal to
    * the in-plan search; the semantic leg's corpus scan stays in-plan
    * (it is the brute-force baseline by design — the ANN stores are its
    * scale path). Oracle: hybridSearchSql, verbatim. */
  def hybridSearchFromStore(spark: SparkSession, dir: String,
                            terms: Seq[String] = Seq("vector", "scan", "merge"),
                            k: Int = 20, kRrf: Int = 60,
                            kOut: Int = 10): DataFrame =
    hybridFuse(spark, dir, bm25SearchFromStore(spark, dir, terms, k),
      terms, k, kRrf, kOut)

  private def hybridFuse(spark: SparkSession, dir: String, lexTopK: DataFrame,
                         terms: Seq[String], k: Int, kRrf: Int,
                         kOut: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = 64
    val lex = lexTopK.select(col("doc_id"), col("rnk").as("lex_rank"))
    val qEmb = SchemaRetrieval.pseudoEmbed(lit(terms.mkString(" ")), dim)
    val sem = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.VectorFunctions.cosine(
          qEmb, SchemaRetrieval.pseudoEmbed(col("text"), dim)).as("score"))
      .filter(col("score").isNotNull) // NULL-score contract (see Similarity.topK)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k) // window below then ranks k rows, not the corpus
      .withColumn("vec_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("vec_rank"))
    val l = col("lex_rank").cast("long")
    val v = col("vec_rank").cast("long")
    val both = l.isNotNull && v.isNotNull
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_num", when(both, (l + kRrf) + (v + kRrf)).otherwise(lit(1L)))
      .withColumn("rrf_den", when(both, (l + kRrf) * (v + kRrf))
        .otherwise(coalesce(l, v) + kRrf))
      .withColumn("rrf", col("rrf_num").cast("double") / col("rrf_den").cast("double"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(kOut)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))))
      .select(col("rnk"), col("doc_id"), col("lex_rank"), col("vec_rank"),
        col("rrf_num"), col("rrf_den"))
      .orderBy(col("rnk"))
  }

  /** DuckDB twin of [[hybridSearch]]: the full BM25 SQL rides along as a
    * nested CTE; the semantic leg hoists the content hash so the
    * pseudo-embedding is built once per document. */
  def hybridSearchSql(terms: Seq[String] = Seq("vector", "scan", "merge"),
                      k: Int = 20, kRrf: Int = 60, kOut: Int = 10): String = {
    val dim = 64
    val qLit = "'" + terms.mkString(" ") + "'"
    def embOf(ph: String) =
      s"list_transform(generate_series(0, ${dim - 1}), i -> " +
      s"CAST(($ph * (2*i + 3) + i) % 1021 AS DOUBLE) / 1024.0)"
    s"""WITH lexq AS (${bm25SearchSql(terms, k)}),
        lex AS (SELECT doc_id, rnk AS lex_rank FROM lexq),
        d0 AS (SELECT doc_id, ${Dedup.chashSql("text")} AS ph FROM documents),
        d AS (SELECT doc_id, ${embOf("ph")} AS emb FROM d0),
        q AS (SELECT ${embOf(Dedup.chashSql(qLit))} AS q_emb),
        sem0 AS (SELECT doc_id,
                 ${graft.functions.VectorFunctions.cosineSql("q_emb", "emb")} AS score
                 FROM d CROSS JOIN q),
        semr AS (SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS vec_rank
                 FROM sem0 WHERE score IS NOT NULL),
        sem AS (SELECT doc_id, vec_rank FROM semr WHERE vec_rank <= $k),
        fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, vec_rank
                  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
        sc AS (SELECT doc_id, lex_rank, vec_rank,
               CAST(CASE WHEN lex_rank IS NOT NULL AND vec_rank IS NOT NULL
                    THEN (lex_rank + $kRrf) + (vec_rank + $kRrf) ELSE 1 END AS BIGINT) AS rrf_num,
               CAST(CASE WHEN lex_rank IS NOT NULL AND vec_rank IS NOT NULL
                    THEN (lex_rank + $kRrf) * (vec_rank + $kRrf)
                    ELSE coalesce(lex_rank, vec_rank) + $kRrf END AS BIGINT) AS rrf_den
               FROM fused),
        r AS (SELECT sc.*, CAST(row_number() OVER (
                ORDER BY CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) DESC, doc_id)
                AS INT) AS rnk
              FROM sc)
        SELECT rnk, doc_id, lex_rank, vec_rank, rrf_num, rrf_den
        FROM r WHERE rnk <= $kOut"""
  }

  /** Unicode text normalization (north star: the first cleanup stage of
    * any web-scale corpus — decomposed accents, zero-width characters,
    * and ragged whitespace must canonicalize BEFORE dedup/hashing or
    * visually-identical documents hash apart). The fixture corpus is
    * ASCII, so the query first INJECTS the dirt deterministically
    * (combining acute after every 'e', a zero-width space after every
    * 'a') and then runs the real cleanup: NFC canonical composition
    * (graft.plans.NfcNormalize — Spark has no built-in; the JDK and
    * DuckDB's utf8proc share the Unicode tables), format-character
    * strip, and whitespace collapse. Lengths count code points on both
    * engines, so n_injected > n_norm proves composition actually fired.
    *
    * Scale shape: purely narrow, whole-stage codegen'd, with an
    * isNormalized fast path that makes the overwhelmingly-ASCII real
    * corpus allocation-free. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NativeFunctions.nfcNormalize
    val injected = regexp_replace(
      regexp_replace(col("text"), "e", "e\u0301"), "a", "a\u200B")
    Tables.loadWideSorted(spark, dir, "documents", "doc_id")
      .select(col("doc_id"), injected.as("t"))
      .select(col("doc_id"), col("t"), nfcNormalize(col("t")).as("s"))
      .select(col("doc_id"),
        length(col("t")).cast("long").as("n_injected"),
        trim(regexp_replace(
          regexp_replace(col("s"), "[\u200B\u200C\u200D\uFEFF]", ""),
          "\\s+", " ")).as("normalized"))
      .select(col("doc_id"), col("n_injected"),
        length(col("normalized")).cast("long").as("n_norm"),
        col("normalized"))
  }

  def textNormalizeSql: String = {
    val acute = "\u0301"
    val zwsp = "\u200B"
    val fmtClass = "[\u200B\u200C\u200D\uFEFF]"
    s"""WITH inj AS (SELECT doc_id,
          regexp_replace(regexp_replace(text, 'e', 'e$acute', 'g'),
                         'a', 'a$zwsp', 'g') AS t
          FROM documents),
        n AS (SELECT doc_id, t, nfc_normalize(t) AS s FROM inj),
        c AS (SELECT doc_id, CAST(length(t) AS BIGINT) AS n_injected,
              trim(regexp_replace(regexp_replace(s, '$fmtClass', '', 'g'),
                   '\\s+', ' ', 'g')) AS normalized
              FROM n)
        SELECT doc_id, n_injected,
               CAST(length(normalized) AS BIGINT) AS n_norm, normalized
        FROM c"""
  }

  /** N-gram-profile language identification, Cavnar-Trenkle style: train
    * a top-k character-trigram profile per language from the corpus's
    * own labels, then classify every document by its trigram-slot
    * overlap with each profile (argmax, ties to the lexically first
    * language). This is the TRAINED upgrade of the [[docProfile]]
    * stopword heuristic — the same train-on-corpus/apply-per-doc shape
    * as [[lmFluency]]. The fixture's lang labels are synthetic
    * (uncorrelated with its single-vocabulary text), so the oracle
    * checks the exact deterministic math; the spec proves real
    * discrimination on a constructed multilingual corpus — the GlyphOcr
    * posture.
    *
    * Scale shape: trigram slots explode via the native
    * [[graft.plans.CharTrigrams]] (one code-point walk; the composable
    * transform/substr form is interpreted and quadratic per doc); ONE
    * (doc, tg) and ONE (lang, tg) count shuffle, both map-side
    * combined; the profile is k·n_langs rows — broadcast model state;
    * scoring is a broadcast hash join + per-doc rollup + a
    * WindowGroupLimit argmax. */
  def langTrigramClassify(spark: SparkSession, dir: String,
                          k: Int = 40,
                          profCap: Int = DriverCap.TrigramProfileCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.NativeFunctions.charTrigrams
    val docs = Tables.loadWide(spark, dir, "documents")
    def slots = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode(charTrigrams(col("text"))).as("tg"))
    // r13: the PROFILE is bounded model state — k·n_langs rows (the
    // clusterCapSample codebook class) — so it collects to the driver
    // off a DIRECT (lang, tg) count (identical to re-aggregating the
    // per-doc counts: sum over docs of per-doc counts == the plain
    // count) and feeds back as a broadcast local relation. The corpus
    // then makes two cheap streaming passes (profile count, score) and
    // the O(corpus) eager localCheckpoint of per-(doc, tg) counts —
    // r12's scale-risk item — disappears; the scoring shuffle carries
    // only profile-matched slots. Above the cap (a degenerate corpus
    // with > 2^14 languages) the r12 checkpoint shape below is the
    // unchanged fallback.
    val profLocal = DriverCap.collect(
      slots.groupBy(col("lang"), col("tg"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("c").desc, col("tg"))))
        .filter(col("rk") <= k)
        .select(col("lang"), col("tg")),
      profCap)
    val score = profLocal match {
      case Some(rows) =>
        import spark.implicits._
        val prof = rows.map(r => (r.getString(0), r.getString(1))).toSeq
          .toDF("lang_p", "ptg")
        slots.join(broadcast(prof), col("tg") === col("ptg"))
          .groupBy(col("doc_id"), col("lang_p"))
          .agg(count(lit(1)).as("score"))
      case None =>
        val docG = slots.groupBy(col("doc_id"), col("lang"), col("tg"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(true) // two consumers: doc scores + lang profile
        val langG = docG.groupBy(col("lang"), col("tg").as("ptg"))
          .agg(sum(col("n")).as("c"))
        val prof = langG
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang")).orderBy(col("c").desc, col("ptg"))))
          .filter(col("rk") <= k)
          .select(col("lang").as("lang_p"), col("ptg"))
        docG.join(broadcast(prof), col("tg") === col("ptg"))
          .groupBy(col("doc_id"), col("lang_p"))
          .agg(sum(col("n")).as("score"))
    }
    val best = score
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("lang_p"))))
      .filter(col("rn") === 1)
    docs.select(col("doc_id"), col("lang"))
      .join(best.select(col("doc_id").as("bd"), col("lang_p"), col("score")),
        col("doc_id") === col("bd"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_p"), lit("und")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"),
        col("lang"))
      .orderBy(col("doc_id"))
  }

  def langTrigramClassifySql(k: Int = 40): String =
    s"""WITH slots AS (SELECT doc_id, lang,
          unnest(list_transform(generate_series(1, length(text) - 2),
            i -> substr(text, i, 3))) AS tg
          FROM documents WHERE text IS NOT NULL),
        docg AS (SELECT doc_id, tg, count(*) AS n FROM slots GROUP BY 1, 2),
        langg AS (SELECT lang, tg, count(*) AS c FROM slots GROUP BY 1, 2),
        prof AS (SELECT lang AS lang_p, tg FROM (
            SELECT lang, tg,
              row_number() OVER (PARTITION BY lang ORDER BY c DESC, tg) AS rk
            FROM langg) WHERE rk <= $k),
        score AS (SELECT doc_id, lang_p, CAST(sum(n) AS BIGINT) AS score
                  FROM docg JOIN prof ON docg.tg = prof.tg GROUP BY 1, 2),
        best AS (SELECT doc_id, lang_p, score,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, lang_p) AS rn
                 FROM score)
        SELECT d.doc_id, coalesce(b.lang_p, 'und') AS pred_lang,
               coalesce(b.score, 0) AS score, d.lang
        FROM documents d
        LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1"""

  /** Collocation mining: the corpus's top-k word pairs by PMI-style
    * lift, N·c(w1w2)/(c(w1)·c(w2)) — the association score is the
    * rational inside classic PMI without the log (monotone, bit-exact
    * cross-engine; the tfidfKeywords rationale). A min-count floor
    * drops one-off pairs whose lift is pure noise. The integer-scaled
    * quotient stays in BIGINT through ~1e5-token corpora per the scale
    * note below; a 100 TB run swaps in the log form (floats) or 128-bit.
    *
    * Scale shape: one unigram and one bigram count shuffle (map-side
    * combined), two vocab-bounded joins, then TakeOrderedAndProject
    * top-k — the rank window runs over the k survivors only. */
  def collocations(spark: SparkSession, dir: String,
                   k: Int = 20, minCount: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadWide(spark, dir, "documents")
    val toks = lmWs(docs).select(explode(col("ws")).as("w"))
    val n = toks.count()
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val big = lmSlots(docs).groupBy(col("bg"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val scored = big
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("w").as("u1"), col("cu").as("cu1")),
        col("w1") === col("u1"))
      .join(uni.select(col("w").as("u2"), col("cu").as("cu2")),
        col("w2") === col("u2"))
      .select(col("bg"), col("c12"),
        expr(s"(1000000 * ${n}L * c12) div (cu1 * cu2)").as("lift_scaled"))
      .orderBy(col("lift_scaled").desc, col("bg")).limit(k)
    scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("lift_scaled").desc, col("bg"))))
      .select(col("rnk"), col("bg").as("bigram"), col("c12"), col("lift_scaled"))
      .orderBy(col("rnk"))
  }

  def collocationsSql(k: Int = 20, minCount: Int = 5): String =
    s"""WITH w AS (SELECT doc_id,
          list_filter(${wordsSql("text")}, x -> x <> '') AS ws
          FROM documents),
        toks AS (SELECT unnest(ws) AS w FROM w),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM toks),
        uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM toks GROUP BY 1),
        slots AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        big AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
                FROM slots GROUP BY bg HAVING count(*) >= $minCount),
        sc AS (SELECT bg, c12,
               (1000000 * nt * c12) // (u1.cu * u2.cu) AS lift_scaled
               FROM big CROSS JOIN n
               JOIN uni u1 ON split_part(big.bg, ' ', 1) = u1.w
               JOIN uni u2 ON split_part(big.bg, ' ', 2) = u2.w),
        r AS (SELECT bg AS bigram, c12, lift_scaled,
              CAST(row_number() OVER (ORDER BY lift_scaled DESC, bg) AS INT) AS rnk
              FROM sc)
        SELECT rnk, bigram, c12, lift_scaled FROM r WHERE rnk <= $k"""

  /** Bigram language-model fluency score (north star: the CCNet-style
    * "train an n-gram LM on the corpus, score every document, drop the
    * disfluent tail" filter a pretraining pipeline runs at 100 TB;
    * reference's quality posture is `src/agents.py:60-78` classify —
    * this is its statistical twin). The model is Laplace-smoothed
    * bigram conditionals p(w2|w1) = (c12 + 1)/(c1 + V) trained on the
    * corpus itself; each document scores the ARITHMETIC mean of its
    * bigram probabilities. (Classic perplexity is the geometric mean,
    * but ln/exp are within-1-ulp libm calls that break the driver's
    * value hash — same reasoning as tfidfKeywords' log-free idf. The
    * arithmetic mean ranks fluency the same direction; a production
    * caller swaps in log-probs with one line.)
    *
    * All arithmetic before the final division is EXACT integers: each
    * model probability is the integer floor of 1e6·p
    * (`(1000000*(c12+1)) div (c1+V)`), per-doc totals are Σ n·sc over
    * BIGINTs (order-free), and the score is one IEEE division of
    * integer-valued doubles — bit-identical on both engines.
    *
    * Scale shape: bigram slots explode narrowly and immediately
    * pre-aggregate to (doc_id, bigram, n) — ONE map-side-combined
    * shuffle; the model reduces that to (bigram, c12) with a second
    * combine, prefix counts c1 reshuffle the MODEL (vocab-bounded, not
    * corpus-bounded), and V is a 1-row broadcast. The doc⋈model join is
    * a plain equi-join on the bigram key — the standard shared-nothing
    * LM-training shape; nothing driver-side, nothing quadratic. */
  private def lmWs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"), expr("filter(ws0, w -> w <> '')").as("ws"))

  /** All bigram SLOTS of each document (non-distinct), the LM feature
    * stream — shared by batch training/scoring and the streaming twin. */
  def lmSlots(docs: DataFrame): DataFrame = lmSlotsFromWs(lmWs(docs))

  /** [[lmSlots]] over an already-tokenized (doc_id, ws) frame — lets a
    * caller that also needs the token arrays (vocab size) tokenize the
    * corpus once and fan both consumers off the materialized arrays. */
  def lmSlotsFromWs(ws: DataFrame): DataFrame =
    ws.select(col("doc_id"), explode(expr(
      "filter(transform(ws, (w, i) -> IF(i < size(ws) - 1, concat(w, ' ', element_at(ws, i + 2)), NULL)), x -> x IS NOT NULL)"
    )).as("bg"))

  /** Integer-scaled smoothed-probability model (mbg, sc) from counted
    * bigrams + the tokenized corpus (for V). */
  private def lmModelFrom(docBg: DataFrame, ws: DataFrame): DataFrame = {
    val model0 = docBg.groupBy(col("bg").as("mbg"))
      .agg(sum(col("n")).as("c12"))
    val pfx = model0
      .groupBy(substring_index(col("mbg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    val vocab = ws.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    model0
      .join(pfx, substring_index(col("mbg"), " ", 1) === col("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("mbg"),
        expr("(1000000 * (c12 + 1)) div (c1 + v)").as("sc"))
  }

  /** Standalone trained model over a fixture dir — the static side of
    * the streaming twin ("train once in batch, score the stream"). */
  def lmModel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    // tokenize once: both the bigram counts and the vocab size read the
    // materialized token arrays (r12 — was two full words() text scans)
    val ws = lmWs(docs).localCheckpoint(true)
    val docBg = lmSlotsFromWs(ws).groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
    lmModelFrom(docBg, ws)
  }

  def lmFluency(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    // tokenize once (r12): the vocab-size branch used to re-run the
    // words() regex scan over the full text; now it reads the
    // materialized token arrays.
    val ws = lmWs(docs).localCheckpoint(true)
    // materialize the counted bigrams once: three branches consume them
    // (model training, prefix counts via the model, the per-doc scoring
    // join) and would otherwise re-explode the corpus per branch. Eager
    // localCheckpoint, not persist: lifetime tracks the result frame
    // (ContextCleaner-freed), and blocks hold (doc_id, bg, n) triples —
    // the same data a shuffle would spill anyway.
    val docBg = lmSlotsFromWs(ws).groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val model = lmModelFrom(docBg, ws)
    val perDoc = docBg.join(model, col("bg") === col("mbg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n") * col("sc")).as("s"), sum(col("n")).as("nb"))
    Tables.loadWide(spark, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        when(col("nb") > 0,
          col("s").cast("double") / col("nb").cast("double"))
          .otherwise(lit(0.0)).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  def lmFluencySql: String =
    s"""WITH w AS (SELECT doc_id,
          list_filter(${wordsSql("text")}, x -> x <> '') AS ws
          FROM documents),
        slots AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        docbg AS (SELECT doc_id, bg, count(*) AS n FROM slots GROUP BY 1, 2),
        model0 AS (SELECT bg, CAST(sum(n) AS BIGINT) AS c12
                   FROM docbg GROUP BY bg),
        pfx AS (SELECT split_part(bg, ' ', 1) AS w1,
                CAST(sum(c12) AS BIGINT) AS c1
                FROM model0 GROUP BY 1),
        vocab AS (SELECT CAST(count(DISTINCT t.w) AS BIGINT) AS v
                  FROM (SELECT unnest(ws) AS w FROM w) t),
        model AS (SELECT model0.bg,
                  (1000000 * (c12 + 1)) // (c1 + v) AS sc
                  FROM model0
                  JOIN pfx ON split_part(model0.bg, ' ', 1) = pfx.w1
                  CROSS JOIN vocab),
        perdoc AS (SELECT docbg.doc_id,
                   CAST(sum(docbg.n * model.sc) AS BIGINT) AS s,
                   CAST(sum(docbg.n) AS BIGINT) AS nb
                   FROM docbg JOIN model ON docbg.bg = model.bg
                   GROUP BY 1)
        SELECT d.doc_id, coalesce(perdoc.nb, 0) AS n_bigrams,
               CASE WHEN perdoc.nb > 0
                 THEN CAST(perdoc.s AS DOUBLE) / CAST(perdoc.nb AS DOUBLE)
                 ELSE 0.0 END AS lm_score
        FROM documents d LEFT JOIN perdoc ON d.doc_id = perdoc.doc_id"""

  /** DSIR-style DATA SELECTION via hashed-n-gram importance weights
    * (Xie et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"), deterministic core: estimate a target-domain and a
    * raw-pool unigram-of-hashed-bigrams distribution, weight each pool
    * document by the summed log importance ratio of its features, and
    * keep the top-k — the "make the crawl look like the target domain"
    * selection step a pretraining pipeline runs between dedup and
    * mixture sampling. Target here is the `lang = 'en'` slice; the pool
    * is everything else, so selection surfaces the pool documents whose
    * bigrams look most target-like (the paper's seeded Gumbel-noise
    * resample is a randomized variant of exactly this ranking).
    *
    * Cross-engine exactness: features are [[graft.functions
    * .TextFunctions.fingerprint]]-hashed bigrams into `nBuckets`
    * buckets; the per-bucket log ratio is the INTEGER floor-log2 of the
    * add-1-smoothed, length-normalized ratio scaled by 2^20 —
    * `length(bin(x))` is the same exact bit-length on both engines, so
    * no libm log ever runs ("lw" = bit_length − 21 is 0 at ratio 1).
    * All sums are BIGINTs (order-free).
    *
    * Scale shape: ONE map-side-combined (doc_id, bucket) count shuffle;
    * both distributions reduce to <= nBuckets rows — a broadcastable
    * model regardless of corpus size (the paper's own trick: hashing
    * bounds the vocabulary) — and scoring is a narrow join + aggregate;
    * selection is a global top-k (TakeOrderedAndProject), never a full
    * sort. */
  /** Hashed-bigram bucket counts per document: (doc_id, b, n) + lang —
    * the DSIR feature pass, shared by the batch operator and the
    * streaming scoring twin (the stream pays it once per arriving
    * micro-batch). */
  def dsirDocBuckets(docs: DataFrame, nBuckets: Int = 4096): DataFrame =
    lmSlots(docs)
      .select(col("doc_id"),
        pmod(fingerprint(col("bg")), lit(nBuckets.toLong)).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n"))

  /** The trained importance model from labeled bucket counts:
    * <= nBuckets (bucket, integer log weight) rows — the broadcastable
    * state both the batch selection and the stream-static scoring twin
    * consume.
    *
    * The log ratio log2((ct+1)/(tt+B)) − log2((cr+1)/(tr+B)) is
    * computed as TWO bounded floor-logs rather than one fused product:
    * the fused numerator (ct+1)·(tr+B)·2^20 overflows int64 once the
    * pool holds ~1e10 bigrams (DuckDB hard-errors on BIGINT overflow;
    * ANSI Spark throws). Term 1 is the per-bucket count ratio
    * bit_length(((ct+1)·2^20) div (cr+1)) — O(1)-sized ratios at full
    * 2^-20 resolution, safe for per-bucket counts below 2^43 (a
    * balanced 4096-bucket corpus of ~3.6e16 bigrams) — and term 2 is
    * the corpus-constant normalization
    * bit_length(((tr+B)·2^10) div (tt+B)), safe for totals below 2^53.
    * Composing the floor-logs costs at most one bit of rounding per
    * bucket — noise against the summed per-document weights, identical
    * on both engines. Ratio 1 maps to lw = 0 (21 + 11 − 32). */
  private def dsirModelFrom(docB: DataFrame, nBuckets: Int,
                            targetLang: String): DataFrame =
    dsirModelFromCounts(
      docB.filter(col("lang") === targetLang)
        .groupBy(col("b")).agg(sum(col("n")).as("ct")),
      docB.filter(col("lang") =!= targetLang)
        .groupBy(col("b")).agg(sum(col("n")).as("cr")),
      nBuckets)

  /** The trainer's algebraic core over already-aggregated per-bucket
    * counts — tc: (b, ct) target, rc: (b, cr) rest. Counts are pure
    * sums, so any partition of the corpus into batches merges back to
    * the same model: the streaming model-REFRESH twin feeds this from
    * summed per-batch count partials and gets the batch model
    * bit-for-bit (see [[graft.streaming.StreamOps
    * .streamDsirRefreshQuery]]). */
  private[graft] def dsirModelFromCounts(tc: DataFrame, rc: DataFrame,
                                         nBuckets: Int): DataFrame = {
    val tot = tc.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
      .crossJoin(rc.agg(coalesce(sum(col("cr")), lit(0L)).as("tr")))
    rc.join(tc, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (length(bin(greatest(expr(
          s"((coalesce(ct, 0) + 1) * 1048576) div (cr + 1)"),
          lit(1L)))) +
          length(bin(greatest(expr(
            s"((tr + $nBuckets) * 1024) div (tt + $nBuckets)"),
            lit(1L)))) - 32).cast("long").as("lw"))
  }

  /** Standalone trained model over a fixture dir — the static side of
    * the streaming twin ("train once in batch, score the stream"). */
  def dsirModel(spark: SparkSession, dir: String, nBuckets: Int = 4096,
                targetLang: String = "en"): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    dsirModelFrom(
      dsirDocBuckets(docs, nBuckets)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
      nBuckets, targetLang)
  }

  def dsirSelect(spark: SparkSession, dir: String, nBuckets: Int = 4096,
                 k: Int = 100, targetLang: String = "en"): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    val labels = docs.select(col("doc_id"), col("lang"))
    val docB = dsirDocBuckets(docs, nBuckets)
      .join(labels, "doc_id")
      .localCheckpoint(true) // three consumers: tc, rc, scoring
    val model = dsirModelFrom(docB, nBuckets, targetLang)
    val scored = docB
      .filter(col("lang") =!= targetLang)
      .join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("n") * col("lw")).as("dsir_score"))
    dsirTopK(scored, k)
  }

  /** The selection tail shared by the batch and streaming DSIR forms:
    * global top-k as TakeOrderedAndProject (each partition ships k
    * rows, no full sort); the rank window then runs over k rows only. */
  private[graft] def dsirTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = scored.orderBy(col("dsir_score").desc, col("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("dsir_score").desc, col("doc_id"))
    top.withColumn("rn", row_number().over(w))
      .select(col("rn"), col("doc_id"), col("dsir_score"))
      .orderBy(col("rn"))
  }

  def dsirSelectSql(nBuckets: Int = 4096, k: Int = 100,
                    targetLang: String = "en"): String =
    s"""WITH w AS (SELECT doc_id,
          list_filter(${wordsSql("text")}, x -> x <> '') AS ws
          FROM documents),
        slots AS (SELECT doc_id,
          unnest(list_transform(generate_series(1, len(ws) - 1),
            i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        docb AS (SELECT doc_id, (${fingerprintSql("bg")}) % $nBuckets AS b,
                        count(*) AS n
                 FROM slots GROUP BY 1, 2),
        lab AS (SELECT doc_id, lang FROM documents),
        tc AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct
               FROM docb JOIN lab USING (doc_id)
               WHERE lang = '$targetLang' GROUP BY 1),
        rc AS (SELECT b, CAST(sum(n) AS BIGINT) AS cr
               FROM docb JOIN lab USING (doc_id)
               WHERE lang <> '$targetLang' GROUP BY 1),
        tot AS (SELECT
          (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tc) AS tt,
          (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM rc) AS tr),
        model AS (SELECT rc.b,
          CAST(length(bin(greatest(
            ((coalesce(tc.ct, 0) + 1) * 1048576) // (rc.cr + 1), 1)))
            + length(bin(greatest(
            ((tr + $nBuckets) * 1024) // (tt + $nBuckets), 1)))
            - 32 AS BIGINT) AS lw
          FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN tot),
        scored AS (SELECT docb.doc_id,
          CAST(sum(docb.n * model.lw) AS BIGINT) AS dsir_score
          FROM docb JOIN lab USING (doc_id)
          JOIN model ON docb.b = model.b
          WHERE lang <> '$targetLang' GROUP BY 1)
        SELECT rn, doc_id, dsir_score FROM (
          SELECT doc_id, dsir_score,
                 row_number() OVER (ORDER BY dsir_score DESC, doc_id) AS rn
          FROM scored) WHERE rn <= $k ORDER BY rn"""

  /** SHUFFLE-AND-SHARD MANIFEST — the last step between curation and
    * training: assign every document to one of `nShards` shards by
    * content hash (balanced in expectation, locality-free), order each
    * shard by a SECOND independent hash (the deterministic global
    * shuffle a data loader wants — no seeded RNG, so engine and oracle
    * agree row-for-row), and emit per-document token offsets so a
    * loader can resume mid-shard without rescanning. Salted
    * fingerprints make shard and order independent draws.
    *
    * Scale shape: one narrow hashing pass, ONE shuffle keyed by shard
    * for the position/offset windows (at rest this is the write
    * partitioning), exact BIGINT cumulative sums. At 100 TB the
    * manifest is what every loader framework actually reads — rows are
    * (shard, pos, doc_id, n_tokens, tok_offset), never text. */
  def corpusShards(spark: SparkSession, dir: String,
                   nShards: Int = 8): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    val base = docs.select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      pmod(fingerprint(concat(col("doc_id").cast("string"), lit(":shard"))),
        lit(nShards.toLong)).cast("int").as("shard"),
      fingerprint(concat(col("doc_id").cast("string"), lit(":order")))
        .as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    base
      .withColumn("pos", row_number().over(w))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("pos"), col("doc_id"), col("n_tokens"),
        col("tok_offset"))
      .orderBy(col("shard"), col("pos"))
  }

  def corpusShardsSql(nShards: Int = 8): String = {
    val hs = fingerprintSql("(CAST(doc_id AS VARCHAR) || ':shard')")
    val ho = fingerprintSql("(CAST(doc_id AS VARCHAR) || ':order')")
    s"""WITH base AS (SELECT doc_id,
          CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens,
          CAST(($hs) % $nShards AS INT) AS shard,
          ($ho) AS h
          FROM documents)
        SELECT shard,
               CAST(row_number() OVER w AS INT) AS pos,
               doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS tok_offset
        FROM base
        WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id)
        ORDER BY shard, pos"""
  }

  /** TRAINED QUALITY CLASSIFIER — a batch (epoch-synchronous) perceptron
    * distilling a quality rule into a linear model over raw per-document
    * counts, the fourth trained model in the engine (bigram LM, trigram
    * lang-id profiles, k-means codebook). The weak label is the
    * duplicate-token-fraction rule with its threshold cross-multiplied
    * into integers (1 − distinct/total <= 1/2 ⟺ 2·x2 >= x1 — the tighter
    * form of [[qualityFilter]]'s dup_tokens reason; the fixture's other
    * rule arms never fire, so they would make the label a constant).
    * That rule is linear in the feature vector, so the perceptron can
    * genuinely separate it — the classic "learn a cheap proxy for an
    * expensive labeling rule" step a data pipeline runs so the full
    * corpus can be scored with one dot product per document.
    *
    * Determinism: features are integer counts (bias, token count,
    * distinct-token count — the counts the rule family is defined
    * over), the weak label is the rule with its threshold
    * cross-multiplied into an integer comparison, and each epoch's
    * update is the SUM of y·x over currently-misclassified documents
    * (y·(w·x) <= 0), applied with a DECAYING integer step (`Δ div t` at
    * epoch t — both engines truncate integer division toward zero) —
    * an order-free BIGINT trajectory, exact and engine-independent,
    * unrolled to the same fixed `epochs` on both sides (the oracle
    * chains one MATERIALIZED CTE per epoch; the batch update makes
    * per-epoch state one weight row, unlike the order-dependent classic
    * online perceptron, and the decay damps the unit-step batch
    * oscillation: 100% separation by epoch 12 at every fixture scale,
    * where the undecayed form oscillates between the two constant
    * predictors indefinitely).
    *
    * Scale shape: one narrow feature pass, then per epoch ONE map-side-
    * combined global aggregate returning d longs — driver state is the
    * weight vector (O(model), the codebook legitimacy class); scoring is
    * a narrow dot product. At 100 TB: epochs × one aggregate over the
    * corpus, nothing quadratic, no per-row driver traffic. */
  def perceptronQuality(spark: SparkSession, dir: String,
                        epochs: Int = 16): DataFrame =
    perceptronScoredFeats(spark, dir, epochs)
      .select(col("doc_id"), col("y"), col("margin"), col("pred"))
      .orderBy(col("doc_id"))

  /** Trained scores WITH the features still attached: (doc_id, y, x1,
    * margin, pred) — [[curriculumPacking]] reuses x1 as its exact token
    * count instead of re-tokenizing the corpus.
    *
    * r12 optimization (guide §5 "the driver should do almost no data
    * work" — inverted deliberately for MODEL work): each of the 16
    * epochs used to be one distributed aggregate over the corpus-sized
    * feats frame (16 sequential Spark jobs whose real payload is three
    * longs). The update Σ cnt·y·xⱼ over misclassified rows depends on
    * features only through the (y, x1, x2) histogram, so we aggregate
    * that histogram ONCE (one job), run the exact integer weight
    * trajectory on the driver (pure arithmetic, bit-identical — JVM
    * long division in both forms), and pay one final distributed
    * scoring pass. 18 jobs → 3. If the histogram overflows the cap the
    * old per-epoch distributed loop runs instead — results identical
    * either way. */
  private[graft] def perceptronScoredFeats(spark: SparkSession, dir: String,
                                           epochs: Int = 16,
                                           histCap: Int = DriverCap.MaxPerceptronHist)
      : DataFrame = {
    val d = 3
    val feats = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws0"))
      .select(col("doc_id"), expr("filter(ws0, w -> w <> '')").as("ws"))
      .select(col("doc_id"),
        lit(1L).as("x0"),
        size(col("ws")).cast("long").as("x1"),
        size(array_distinct(col("ws"))).cast("long").as("x2"))
      .withColumn("y",
        when(lit(2L) * col("x2") >= col("x1"), lit(1L)).otherwise(lit(-1L)))
      .localCheckpoint(true) // consumed by the histogram + final scoring
    val w = Array.fill(d)(0L)
    def marginCol: org.apache.spark.sql.Column =
      (0 until d).map(j => col(s"x$j") * lit(w(j))).reduce(_ + _)
    // (x1, x2) integer pairs: usually a tiny histogram, but data-derived
    val hist = DriverCap.collect(feats.groupBy(col("y"), col("x1"), col("x2"))
      .agg(count(lit(1)).as("cnt")), histCap)
    if (hist.isDefined) {
      val rows = hist.get.map(r =>
        (r.getLong(0), Array(1L, r.getLong(1), r.getLong(2)), r.getLong(3)))
      for (t <- 1 to epochs) {
        val dj = Array.fill(d)(0L)
        for ((y, x, cnt) <- rows) {
          var m = 0L
          var j = 0
          while (j < d) { m += x(j) * w(j); j += 1 }
          if (y * m <= 0L) {
            j = 0
            while (j < d) { dj(j) += cnt * y * x(j); j += 1 }
          }
        }
        for (j <- 0 until d) w(j) += dj(j) / t // JVM /: trunc-to-0
      }
    } else {
      for (t <- 1 to epochs) {
        val aggs = (0 until d).map(j =>
          coalesce(sum(col("y") * col(s"x$j")), lit(0L)).as(s"d$j"))
        // d longs to the driver per epoch — O(model) state, never per-row
        val upd = feats.filter(col("y") * marginCol <= 0)
          .agg(aggs.head, aggs.tail: _*).collect()(0)
        for (j <- 0 until d) w(j) += upd.getLong(j) / t // JVM /: trunc-to-0
      }
    }
    feats.select(col("doc_id"), col("y"), col("x1"), marginCol.as("margin"),
      when(marginCol > 0, lit(1)).otherwise(lit(-1)).as("pred"))
  }

  /** The perceptron's shared WITH-body (features + unrolled epochs) and
    * the final-weights dot expression — reused by the classifier query
    * and the curriculum packer. */
  private def perceptronCtes(epochs: Int): (String, String) = {
    val d = 3
    def dot(w: String) = (0 until d).map(j => s"$w.w$j * x$j").mkString(" + ")
    val zeros = (0 until d).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")
    val epochCtes = (1 to epochs).map { t =>
      val sums = (0 until d).map(j =>
        s"coalesce(CAST(sum(y * x$j) AS BIGINT), 0) AS d$j").mkString(", ")
      // DuckDB // truncates toward zero on negatives, same as JVM /
      val adds = (0 until d).map(j =>
        s"e${t - 1}.w$j + (u$t.d$j // $t) AS w$j").mkString(", ")
      s"""u$t AS MATERIALIZED (SELECT $sums FROM feats, e${t - 1}
                  WHERE y * (${dot(s"e${t - 1}")}) <= 0),
          e$t AS MATERIALIZED (SELECT $adds FROM e${t - 1}, u$t)"""
    }
    val body = s"""base AS (SELECT doc_id,
          list_filter(${wordsSql("text")}, x -> x <> '') AS ws
          FROM documents),
        feats AS MATERIALIZED (SELECT doc_id,
          CAST(1 AS BIGINT) AS x0,
          CAST(len(ws) AS BIGINT) AS x1,
          CAST(len(list_distinct(ws)) AS BIGINT) AS x2,
          CASE WHEN 2 * len(list_distinct(ws)) >= len(ws)
               THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
          FROM base),
        e0 AS (SELECT $zeros),
        ${epochCtes.mkString(",\n        ")}"""
    (body, dot(s"e$epochs"))
  }

  def perceptronQualitySql(epochs: Int = 16): String = {
    val (body, dot) = perceptronCtes(epochs)
    s"""WITH $body
        SELECT doc_id, y, CAST($dot AS BIGINT) AS margin,
               CASE WHEN ($dot) > 0 THEN 1 ELSE -1 END AS pred
        FROM feats, e$epochs ORDER BY doc_id"""
  }

  /** CURRICULUM PACKING — [[seqPacking]] with the pack order driven by
    * the TRAINED model instead of arrival order: documents stream into
    * fixed `cap`-token chunks sorted by descending perceptron margin
    * (cleanest-first — the easy-to-hard curriculum an LM pretraining
    * run schedules), tie-broken by doc_id so both engines pack the
    * identical sequence.
    *
    * The global prefix sum is computed SCALE-CORRECTLY as a two-level
    * sum: margins band into value-derived buckets (margin div 2^16 — a
    * deterministic function of the VALUE, not a sampled range
    * partitioning), higher bands pack first; each row's offset = the
    * exact token total of all higher bands (a bands-sized aggregate,
    * O(bands) window state) + its within-band running sum (a
    * partitioned window). No single global window over the corpus —
    * the shuffle is keyed by band, and band totals are model-sized. */
  def curriculumPacking(spark: SparkSession, dir: String, cap: Long = 512,
                        epochs: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n_tokens is the model's own x1 (filtered word count) so engine and
    // oracle pack identical token totals on whitespace-edged text.
    // r12: taken directly off the perceptron's feature frame — the old
    // form re-tokenized the corpus into a separate `toks` frame and
    // joined it back (one full words() scan + one join, both gone).
    val rows = perceptronScoredFeats(spark, dir, epochs)
      .select(col("doc_id"), col("margin"), col("x1").as("n_tokens"))
      .withColumn("band", expr("margin div 65536"))
      .localCheckpoint(true) // two consumers: band totals + the window
    val bandTotals = rows.groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("band_toks"))
    // running total of STRICTLY higher bands: a window over O(bands)
    // rows, not corpus rows
    val wb = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandOffsets = bandTotals
      .withColumn("band_off", coalesce(sum(col("band_toks")).over(wb), lit(0L)))
      .select(col("band").as("b2"), col("band_off"))
    val ww = Window.partitionBy(col("band"))
      .orderBy(col("margin").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.withColumn("cum", sum(col("n_tokens")).over(ww))
      .join(bandOffsets, col("band") === col("b2"))
      .select(col("doc_id"), col("margin"), col("n_tokens"),
        // "offset" is a DuckDB reserved word — tok_offset on both sides
        (col("band_off") + col("cum") - col("n_tokens")).as("tok_offset"))
      .withColumn("chunk", expr(s"tok_offset div $cap"))
      .withColumn("crosses",
        col("n_tokens") > 0 &&
          expr(s"tok_offset div $cap") =!=
          expr(s"(tok_offset + n_tokens - 1) div $cap"))
      .orderBy(col("tok_offset"), col("doc_id"))
  }

  def curriculumPackingSql(cap: Long = 512, epochs: Int = 16): String = {
    val (body, dot) = perceptronCtes(epochs)
    s"""WITH $body,
        scored AS (SELECT doc_id, CAST($dot AS BIGINT) AS margin, x1 AS n_tokens
                   FROM feats, e$epochs),
        banded AS (SELECT doc_id, margin, n_tokens,
                          margin // 65536 AS band FROM scored),
        bt AS (SELECT band, CAST(sum(n_tokens) AS BIGINT) AS band_toks
               FROM banded GROUP BY band),
        boff AS (SELECT band,
                 CAST(coalesce(sum(band_toks) OVER (ORDER BY band DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS band_off
                 FROM bt),
        c AS (SELECT b.doc_id, b.margin, b.n_tokens,
                     boff.band_off +
                     CAST(sum(b.n_tokens) OVER (PARTITION BY b.band
                       ORDER BY b.margin DESC, b.doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     - b.n_tokens AS tok_offset
              FROM banded b JOIN boff ON b.band = boff.band)
        SELECT doc_id, margin, n_tokens, tok_offset,
               tok_offset // $cap AS chunk,
               (n_tokens > 0 AND
                (tok_offset // $cap) <> ((tok_offset + n_tokens - 1) // $cap)) AS crosses
        FROM c ORDER BY tok_offset, doc_id"""
  }

  /** BPE MERGE-PAIR INDUCTION (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units") — the tokenizer-
    * training op of an LLM data pipeline, in the shape real BPE
    * trainers scale with: ONE corpus pass aggregates the word-frequency
    * table (the only shuffle that sees text), then every merge round
    * runs on that O(vocab) table alone — count adjacent symbol pairs
    * weighted by word frequency, take the global argmax
    * ((cnt DESC, pair ASC) total tie order), rewrite the vocabulary's
    * symbol strings. Symbol strings are space-separated and edge-padded
    * (" c a t ") so the merge rewrite is a plain non-overlapping
    * left-to-right replace of " A B " — identical greedy semantics on
    * both engines, and a multi-char symbol can never false-match across
    * a symbol boundary. Per round the engine pays one vocab-sized
    * aggregate plus a TakeOrdered(1) (one merge row of driver control
    * state); at 100 TB the corpus appears only in the first pass,
    * exactly like the production trainers.
    *
    * Output: (rnk, pair, cnt) — the learned merge table in order. */
  /** The shared trainer: returns the merge list, the final segmented
    * word-frequency table (s = space-separated subword symbols per
    * distinct word, edge-padded; n = word frequency), and the number of
    * driver rounds paid.
    *
    * `batch` is the SCALE knob: the exact form (batch = 1) pays one
    * driver round per merge — correct, oracle-checked, but a production
    * 32k-merge vocabulary would be 32k sequential Spark jobs, the one
    * loop in the engine whose round count scales with a MODEL knob
    * rather than data. batch = B merges the top-B SYMBOL-DISJOINT pairs
    * per round (greedily, in (cnt DESC, pair) order, from a top-(8B)
    * shortlist — bounded driver control state): merging " A B " cannot
    * create or destroy occurrences of " C D " when {C, D} avoids
    * {A, B, AB}, so every batched pair's count is still its true count
    * at application time. The departure from exact BPE is ordering
    * only: a merge CREATED by an earlier pick this round (e.g. "X AB")
    * cannot be chosen until the next round, even if it would out-count
    * the remaining picks. Rounds are FIXED at ceil(nMerges / batch)
    * with round r wanting min(batch, nMerges - batch*(r-1)) pairs — a
    * round that finds fewer disjoint candidates does not borrow from
    * later rounds, keeping the engine in lockstep with the unrolled
    * oracle ([[bpeMergesBatchedSql]]). */
  /** Re-checkpoint the training vocabulary every this many rounds: the
    * per-round rewrite is a chain of replace() projections, so lineage
    * depth — not data — is what grows with the round count. */
  private val CkptEvery = 8

  /** The merge loop of [[bpeTrain]] run as driver arithmetic over the
    * collected (word, freq) table. Replicates the distributed loop's
    * semantics EXACTLY: the same Java-regex char spacing, the same
    * literal-replace rewrite, the same (cnt DESC, pair ASC) shortlist
    * order with pair compared as unsigned UTF-8 bytes (UTF8String's
    * binary order — String.compareTo's UTF-16 order differs on
    * supplementary code points). */
  private def bpeTrainDriver(spark: SparkSession, wf: Array[(String, Long)],
                             nMerges: Int, batch: Int)
      : (Seq[(Int, String, Long)], DataFrame, Int) = {
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      var c = 0
      while (i < n && c == 0) {
        c = (x(i) & 0xff) - (y(i) & 0xff)
        i += 1
      }
      if (c != 0) c < 0 else x.length < y.length
    }
    var vocab = wf.map { case (w, n) =>
      (w, " " + w.replaceAll("(.)", "$1 "), n)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val rounds = (nMerges + batch - 1) / batch
    for (r <- 1 to rounds) {
      val want = math.min(batch, nMerges - batch * (r - 1))
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((_, s, n) <- vocab) {
        val a = s.trim.split(" ")
        var i = 0
        while (i < a.length - 1) {
          val p = a(i) + " " + a(i + 1)
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      val cand = counts.toArray
        .sortWith { case ((p1, c1), (p2, c2)) =>
          if (c1 != c2) c1 > c2 else utf8Lt(p1, p2)
        }
        .take(if (batch == 1) 1 else batch * 8)
      val used = scala.collection.mutable.Set.empty[String]
      val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      for ((p, c) <- cand if kept.size < want) {
        val ab = p.split(" ")
        if (ab.forall(!used(_))) {
          kept += ((p, c))
          used ++= ab
          used += ab.mkString("")
        }
      }
      if (kept.nonEmpty) {
        kept.foreach { case (p, c) => merges += ((merges.size + 1, p, c)) }
        vocab = vocab.map { case (w, s, n) =>
          val s2 = kept.foldLeft(s) { case (acc, (p, _)) =>
            acc.replace(s" $p ", " " + p.replace(" ", "") + " ")
          }
          (w, s2, n)
        }
      }
    }
    import spark.implicits._
    (merges.toSeq, vocab.toSeq.toDF("w", "s", "n"), rounds)
  }

  private[graft] def bpeTrain(spark: SparkSession, dir: String,
                              nMerges: Int, batch: Int = 1,
                              wfOpt: Option[DataFrame] = None,
                              driverVocabCap: Int = DriverCap.BpeDriverVocabCap)
      : (Seq[(Int, String, Long)], DataFrame, Int) = {
    import graft.functions.TextFunctions.words
    // Word frequencies: callers that already tokenized the corpus for
    // their own apply side (bpeTokenize, bpeCompression, the streaming
    // twin) pass their (w, n) aggregate in, so the corpus text is
    // scanned ONCE per query instead of once for the trainer plus once
    // for the apply join (guide §1.2: don't compute things twice).
    val wf = wfOpt.getOrElse {
      Tables.loadWide(spark, dir, "documents")
        .select(explode(words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
    }
    val wfHead = DriverCap.collect(wf, driverVocabCap)
    if (wfHead.isDefined)
      return bpeTrainDriver(spark, wfHead.get.map(r => (r.getString(0), r.getLong(1))),
        nMerges, batch)
    var vocab = wf
      .select(col("w"), concat(lit(" "),
        regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("n"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    val rounds = (nMerges + batch - 1) / batch
    for (r <- 1 to rounds) {
      val want = math.min(batch, nMerges - batch * (r - 1))
      val syms = vocab.select(col("n"), split(trim(col("s")), " ").as("a"))
        .filter(size(col("a")) >= 2) // sequence(1, 0) descends — guard
      val pairs = syms
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(a) - 1), " +
            "i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))")).as("p"))
        .groupBy(col("p")).agg(sum(col("n")).as("cnt"))
      // candidate shortlist = TakeOrderedAndProject: one bounded driver
      // fetch per round (exactly the argmax row at batch = 1)
      val cand = pairs.orderBy(col("cnt").desc, col("p").asc)
        .limit(if (batch == 1) 1 else batch * 8).collect()
        .map(row => (row.getString(0), row.getLong(1)))
      // greedy symbol-disjoint selection: a candidate may not touch any
      // kept pair's left/right/merged symbol (count-invariance guard)
      val used = scala.collection.mutable.Set.empty[String]
      val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      for ((p, c) <- cand if kept.size < want) {
        val ab = p.split(" ")
        if (ab.forall(!used(_))) {
          kept += ((p, c))
          used ++= ab
          used += ab.mkString("")
        }
      }
      if (kept.nonEmpty) {
        kept.foreach { case (p, c) => merges += ((merges.size + 1, p, c)) }
        // one vocabulary rewrite per ROUND: the round's replaces chain
        // (disjoint symbols — they cannot interact), lit()-passed
        // search/replace strings: no SQL-string splicing
        val sCol = kept.foldLeft(col("s")) { case (acc, (p, _)) =>
          call_function("replace", acc,
            lit(s" $p "), lit(" " + p.replace(" ", "") + " "))
        }
        vocab = vocab.select(col("w"), sCol.as("s"), col("n"))
        // The rewrite stays LAZY: each round only appends replace()
        // expressions to the vocab projection, so round r's shortlist
        // job scans the checkpointed base once through an r-deep
        // expression chain — one Spark job per round instead of two
        // (the per-round eager localCheckpoint used to cost its own
        // job; r12 measurement: ~70-90 ms/job on the O(vocab) table).
        // A bounded cadence keeps the plan shallow when a production
        // run does thousands of rounds (batched trainer).
        if (r % CkptEvery == 0 && r < rounds)
          vocab = vocab.localCheckpoint(true)
      }
    }
    (merges.toSeq, vocab, rounds)
  }

  def bpeMerges(spark: SparkSession, dir: String,
                nMerges: Int = 8): DataFrame = {
    val (merges, _, _) = bpeTrain(spark, dir, nMerges)
    import spark.implicits._
    merges.toDF("rnk", "pair", "cnt").orderBy(col("rnk"))
  }

  /** [[bpeMerges]] at production vocabulary sizes: `batch` symbol-
    * disjoint merges per driver round (contract and departure
    * conditions on [[bpeTrain]]) — rounds cut ~batch-fold. At batch = 1
    * this IS the exact trainer. Oracle: [[bpeMergesBatchedSql]], the
    * same greedy-disjoint selection unrolled. */
  def bpeMergesBatched(spark: SparkSession, dir: String,
                       nMerges: Int = 8, batch: Int = 2): DataFrame = {
    val (merges, _, _) = bpeTrain(spark, dir, nMerges, batch)
    import spark.implicits._
    merges.toDF("rnk", "pair", "cnt").orderBy(col("rnk"))
  }

  /** The learned SUBWORD VOCABULARY — the artifact a trained tokenizer
    * actually ships: every distinct word's final segmentation under the
    * merge table, exploded to (symbol, corpus frequency), top-k by
    * (freq DESC, symbol). Same scale shape as the trainer: the corpus
    * appears once in the word-frequency pass; the explode runs on the
    * O(vocab) table. */
  def bpeVocab(spark: SparkSession, dir: String, nMerges: Int = 8,
               k: Int = 30): DataFrame = {
    val (_, vocab, _) = bpeTrain(spark, dir, nMerges)
    val top = vocab
      .select(col("n"), explode(split(trim(col("s")), " ")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("n")).as("freq"))
      .orderBy(col("freq").desc, col("sym")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("sym"))
    top.withColumn("rnk",
        row_number().over(w).cast(org.apache.spark.sql.types.IntegerType))
      .select(col("rnk"), col("sym"), col("freq"))
      .orderBy(col("rnk"))
  }

  /** Oracle twin of [[bpeMerges]]: the merge loop unrolled into chained
    * CTEs — per round a pair-count CTE, a LIMIT-1 argmax CTE, and a
    * vocabulary rewrite whose search/replace strings come from scalar
    * subqueries on the argmax. */
  /** The shared trainer CTE chain: wf → w0 → (p_r, b_r, w_r) per
    * round. Every w/b CTE is referenced twice downstream —
    * AS MATERIALIZED or DuckDB re-inlines the chain into 2^nMerges
    * copies (round-9 lesson). */
  private def bpeCtesSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS MATERIALIZED (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
              SELECT n, unnest(list_transform(generate_series(1, len(a) - 1),
                       i -> a[i] || ' ' || a[i + 1])) AS pair
              FROM (SELECT string_split(trim(s), ' ') AS a, n FROM w${r - 1})
              WHERE len(a) >= 2) GROUP BY 1),
          b$r AS MATERIALIZED (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
          w$r AS MATERIALIZED (SELECT w, replace(s,
                    ' ' || (SELECT pair FROM b$r) || ' ',
                    ' ' || (SELECT replace(pair, ' ', '') FROM b$r) || ' ') AS s,
                  n FROM w${r - 1})"""
    }
    s"""wf AS (SELECT w, count(*) AS n FROM (
            SELECT unnest(${graft.functions.TextFunctions.wordsSql("text")}) AS w
            FROM documents) WHERE w <> '' GROUP BY 1),
        w0 AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, n
               FROM wf),
        ${rounds.mkString(", ")}"""
  }

  def bpeMergesSql(nMerges: Int = 8): String = {
    val out = (1 to nMerges)
      .map(r => s"SELECT $r AS rnk, pair, cnt FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeCtesSql(nMerges)}
        SELECT rnk, pair, cnt FROM ($out) ORDER BY rnk"""
  }

  /** Oracle twin of [[bpeMergesBatched]]: per round, a pair-count CTE,
    * a top-(8·batch) shortlist CTE (the engine's bounded candidate
    * fetch, mirrored so both sides scan the identical list), `want`
    * unrolled greedy selection CTEs — each a LIMIT-1 argmax over the
    * shortlist excluding every earlier pick's left/right/merged symbol
    * — and one rewrite CTE chaining the round's replaces. An empty
    * selection coalesces its needle to chr(1) (never present in the
    * space-padded symbol strings), so an under-filled round's missing
    * replaces are identities on both engines instead of NULL-poisoning
    * the vocabulary. Final rank = row_number over (round, pick) so
    * numbering tracks only the picks that EXIST, exactly like the
    * engine's merge buffer. */
  def bpeMergesBatchedSql(nMerges: Int = 8, batch: Int = 2): String = {
    val rounds = (nMerges + batch - 1) / batch
    def want(r: Int) = math.min(batch, nMerges - batch * (r - 1))
    val shortlist = batch * 8
    val roundCtes = (1 to rounds).map { r =>
      val pc =
        s"""p$r AS MATERIALIZED (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
              SELECT n, unnest(list_transform(generate_series(1, len(a) - 1),
                       i -> a[i] || ' ' || a[i + 1])) AS pair
              FROM (SELECT string_split(trim(s), ' ') AS a, n FROM w${r - 1})
              WHERE len(a) >= 2) GROUP BY 1),
          c$r AS MATERIALIZED (SELECT pair, cnt FROM p$r
              ORDER BY cnt DESC, pair LIMIT $shortlist)"""
      val sels = (1 to want(r)).map { j =>
        val excl = (1 until j).flatMap { i =>
          val b = s"b${r}_$i"
          Seq(s"(SELECT split_part(pair, ' ', 1) FROM $b)",
            s"(SELECT split_part(pair, ' ', 2) FROM $b)",
            s"(SELECT replace(pair, ' ', '') FROM $b)")
        }
        val cond =
          if (excl.isEmpty) "TRUE"
          else {
            val lst = excl.mkString(", ")
            s"""split_part(pair, ' ', 1) NOT IN ($lst)
                AND split_part(pair, ' ', 2) NOT IN ($lst)"""
          }
        s"""b${r}_$j AS MATERIALIZED (SELECT pair, cnt FROM c$r WHERE $cond
            ORDER BY cnt DESC, pair LIMIT 1)"""
      }
      val repl = (1 to want(r)).foldLeft("s") { (acc, j) =>
        s"""replace($acc,
             coalesce(' ' || (SELECT pair FROM b${r}_$j) || ' ', chr(1)),
             coalesce(' ' || (SELECT replace(pair, ' ', '') FROM b${r}_$j)
               || ' ', ''))"""
      }
      val wr = s"w$r AS MATERIALIZED (SELECT w, $repl AS s, n FROM w${r - 1})"
      (Seq(pc) ++ sels :+ wr).mkString(",\n          ")
    }
    val out = (1 to rounds).flatMap(r => (1 to want(r)).map(j =>
      s"SELECT $r AS rr, $j AS jj, pair, cnt FROM b${r}_$j"))
      .mkString(" UNION ALL ")
    s"""WITH wf AS (SELECT w, count(*) AS n FROM (
            SELECT unnest(${graft.functions.TextFunctions.wordsSql("text")}) AS w
            FROM documents) WHERE w <> '' GROUP BY 1),
        w0 AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s, n
               FROM wf),
        ${roundCtes.mkString(",\n        ")}
        SELECT CAST(row_number() OVER (ORDER BY rr, jj) AS INT) AS rnk,
               pair, cnt
        FROM ($out) ORDER BY rnk"""
  }

  /** BPE APPLY — per-document token counts under the LEARNED subword
    * vocabulary, the number a context-window budget actually consumes
    * (whitespace counts undercount rare words that fragment). Shape:
    * the trainer's vocab table maps each distinct word to its final
    * segmentation length, so applying the tokenizer to the corpus is a
    * broadcast-sized join of the per-doc word counts against the
    * O(vocab) segmentation table — the text is never re-scanned per
    * merge. */
  def bpeTokenize(spark: SparkSession, dir: String,
                  nMerges: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.words
    val docs = Tables.loadWide(spark, dir, "documents")
    // tokenize the corpus ONCE: the per-doc counts are materialized
    // (eager localCheckpoint — lifetime tracks the result frame) and the
    // trainer's word frequencies are derived from them by a second
    // aggregation over the already-counted rows, instead of a second
    // full text scan + explode.
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val wf = tok.groupBy(col("w")).agg(sum(col("m")).as("n"))
    val segs = bpeSegs(spark, dir, nMerges, Some(wf))
    tok.join(broadcast(segs), "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_words"),
        sum(col("m") * col("k")).as("n_subwords"))
      .orderBy(col("doc_id"))
  }

  /** The trained tokenizer's SERVING artifact: (word, segmentation
    * length) for every distinct corpus word — the O(vocab) table
    * [[bpeTokenize]] broadcasts, factored out so the streaming twin
    * ([[graft.streaming.StreamOps.streamBpeTokenizeQuery]]) ships the
    * identical model into its micro-batches. */
  def bpeSegs(spark: SparkSession, dir: String, nMerges: Int = 8,
              wfOpt: Option[DataFrame] = None): DataFrame = {
    val (_, vocab, _) = bpeTrain(spark, dir, nMerges, wfOpt = wfOpt)
    vocab.select(col("w"), size(split(trim(col("s")), " ")).cast("long").as("k"))
  }

  /** Oracle twin of [[bpeTokenize]]: per-doc word counts joined to the
    * final segmentation lengths. */
  def bpeTokenizeSql(nMerges: Int = 8): String =
    s"""WITH ${bpeCtesSql(nMerges)},
        tok AS (SELECT doc_id, w, count(*) AS m FROM (
                  SELECT doc_id,
                         unnest(${graft.functions.TextFunctions.wordsSql("text")}) AS w
                  FROM documents) WHERE w <> '' GROUP BY 1, 2),
        segs AS (SELECT w, len(string_split(trim(s), ' ')) AS k FROM w$nMerges)
        SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_words,
               CAST(sum(m * k) AS BIGINT) AS n_subwords
        FROM tok JOIN segs USING (w) GROUP BY 1 ORDER BY 1"""

  /** Oracle twin of [[bpeVocab]]: the final w_N segmentation exploded,
    * frequency-summed, top-k ranked. */
  def bpeVocabSql(nMerges: Int = 8, k: Int = 30): String =
    s"""WITH ${bpeCtesSql(nMerges)},
        v AS (SELECT sym, CAST(sum(n) AS BIGINT) AS freq FROM (
                SELECT n, unnest(string_split(trim(s), ' ')) AS sym
                FROM w$nMerges) GROUP BY 1)
        SELECT rnk, sym, freq FROM (
          SELECT sym, freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, sym) AS INT) AS rnk
          FROM v) WHERE rnk <= $k ORDER BY rnk"""

  // ---------------------------------------------------------------------
  // Corpus statistics (north star: Heaps'-law vocabulary growth — the
  // curve a tokenizer/dedup budget is planned against: how fast does the
  // type inventory grow as the corpus accretes, and is the crawl still
  // surfacing new vocabulary or only repeating itself)
  // ---------------------------------------------------------------------

  /** VOCABULARY-GROWTH CHECKPOINTS (Heaps' law): bucket the corpus into
    * `nBuckets` equal doc-id ranges (the accretion order), and report
    * cumulative token and cumulative distinct-type counts at each
    * checkpoint. A type is charged to the bucket of its FIRST occurrence
    * (min bucket per word — monotone in doc_id, so "first bucket" is
    * "first document"), which turns the cumulative-distinct curve into
    * two ordinary aggregates plus a prefix sum over `nBuckets` rows.
    *
    * Scale shape: the corpus text is scanned once into (bucket, word)
    * rows; per-bucket token counts are one map-side-combinable aggregate,
    * and the type curve is a groupBy(word) → groupBy(bucket) pair —
    * all-key-partitioned, no per-doc windows. The ONLY window runs over
    * the nBuckets-row checkpoint table (driver-scale by construction:
    * 20 rows whether the corpus is 500 docs or 100 TB). The bucket width
    * derives from max(doc_id) via a broadcast scalar — one extra
    * column-pruned scan, never a collect. */
  def corpusStats(spark: SparkSession, dir: String,
                  nBuckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadWide(spark, dir, "documents")
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val tok = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .crossJoin(broadcast(mx))
      .select(expr(s"cast(doc_id div ((mx div $nBuckets) + 1) as int)")
        .as("bucket"), col("w"))
    val toks = tok.groupBy(col("bucket")).agg(count(lit(1)).as("toks"))
    val types = tok.groupBy(col("w")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(types, Seq("bucket"), "full")
      .select(col("bucket"),
        sum(coalesce(col("toks"), lit(0L))).over(w).as("cum_tokens"),
        sum(coalesce(col("types"), lit(0L))).over(w).as("cum_types"))
      .orderBy(col("bucket"))
  }

  /** Oracle twin of [[corpusStats]]: same bucketing, same first-bucket
    * type charging, same prefix sums. */
  def corpusStatsSql(nBuckets: Int = 20): String =
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        tok AS (SELECT CAST(doc_id // ((mx // $nBuckets) + 1) AS INT) AS bucket, w
                FROM (SELECT doc_id,
                             unnest(${graft.functions.TextFunctions.wordsSql("text")}) AS w
                      FROM documents), mx
                WHERE w <> ''),
        bt AS (SELECT bucket, count(*) AS toks FROM tok GROUP BY 1),
        ty AS (SELECT bucket, count(*) AS types FROM (
                 SELECT w, min(bucket) AS bucket FROM tok GROUP BY 1) GROUP BY 1)
        SELECT bucket,
               CAST(sum(coalesce(toks, 0)) OVER (ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
               CAST(sum(coalesce(types, 0)) OVER (ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        FROM bt FULL JOIN ty USING (bucket) ORDER BY bucket"""

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT — priority sampling (Duffield,
    * Lund, Thorup, JACM 2007): each document draws a deterministic
    * pseudo-uniform u from an affine hash of its id, its priority is
    * u/weight in fixed point, and the sample is the n SMALLEST
    * priorities — heavier documents draw proportionally smaller
    * priorities, so inclusion probability tracks weight while the whole
    * draw replays bit-identically (the property every resumable curation
    * run needs: re-running the job on the same corpus picks the same
    * sample, no RNG state to persist). Weight here is document length
    * (n_chars + 1 — the +1 keeps empty docs finite), the usual
    * token-budget-proportional choice.
    *
    * Scale shape: one narrow projection (id, weight, priority) and a
    * global top-n by (priority, id) — TakeOrderedAndProject, each
    * partition ships at most n rows to the driver-side heap; the text
    * column never loads ([[Tables.loadWide]] keeps the scan declarative,
    * so ReadSchema is the two numeric columns). */
  def weightedSample(spark: SparkSession, dir: String,
                     n: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pr = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        expr(s"((((2654435761 * (doc_id % ${Dedup.P})) % ${Dedup.P}" +
          s" + 40503) % ${Dedup.P}) * 100000)" +
          " div (n_chars + 1)").as("priority"))
    val top = pr.orderBy(col("priority"), col("doc_id")).limit(n)
    val w = Window.orderBy(col("priority"), col("doc_id"))
    top.withColumn("rn", row_number().over(w)
        .cast(org.apache.spark.sql.types.IntegerType))
      .select(col("rn"), col("doc_id"), col("n_chars"), col("priority"))
      .orderBy(col("rn"))
  }

  /** Oracle twin of [[weightedSample]]: same affine hash, same fixed-point
    * u/weight priority, same (priority, id) tie order. */
  def weightedSampleSql(n: Int = 50): String =
    s"""WITH pr AS (SELECT doc_id, n_chars,
          ((((2654435761 * (doc_id % ${Dedup.P})) % ${Dedup.P}
             + 40503) % ${Dedup.P}) * 100000)
            // (n_chars + 1) AS priority
          FROM documents)
        SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS INT) AS rn,
               doc_id, n_chars, priority
        FROM pr ORDER BY priority, doc_id LIMIT $n"""

  /** TOKENIZER COMPRESSION RATE PER LANGUAGE — chars-per-subword under
    * the learned BPE vocabulary, split by language: the tokenizer-equity
    * number multilingual training reports (a language the vocabulary
    * under-serves fragments into more, shorter subwords, pays more of
    * the context window per character, and is effectively down-weighted
    * at a fixed token budget). Same broadcast-join shape as
    * [[bpeTokenize]], grouped by lang; the rate is ONE IEEE division of
    * two exact integer sums. */
  def bpeCompression(spark: SparkSession, dir: String,
                     nMerges: Int = 8): DataFrame = {
    import graft.functions.TextFunctions.words
    // one corpus tokenize pass (the bpeTokenize trick, keyed by lang):
    // per-(lang, word) counts feed both the trainer's word frequencies
    // and the per-language apply join.
    val tokl = Tables.loadWide(spark, dir, "documents")
      .select(col("lang"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val wf = tokl.groupBy(col("w")).agg(sum(col("m")).as("n"))
    val segs = bpeSegs(spark, dir, nMerges, Some(wf))
    tokl.join(broadcast(segs), "w")
      .groupBy(col("lang"))
      .agg(sum(col("m")).as("n_words"),
        sum(length(col("w")).cast("long") * col("m")).as("n_chars"),
        sum(col("k") * col("m")).as("n_subwords"))
      .withColumn("chars_per_subword",
        col("n_chars").cast("double") / col("n_subwords").cast("double"))
      .orderBy(col("lang"))
  }

  /** Oracle twin of [[bpeCompression]]. */
  def bpeCompressionSql(nMerges: Int = 8): String =
    s"""WITH ${bpeCtesSql(nMerges)},
        tokl AS (SELECT lang, w FROM (
                   SELECT lang, unnest(${wordsSql("text")}) AS w
                   FROM documents) WHERE w <> ''),
        segs AS (SELECT w, len(string_split(trim(s), ' ')) AS k FROM w$nMerges)
        SELECT lang, count(*) AS n_words,
               CAST(sum(length(w)) AS BIGINT) AS n_chars,
               CAST(sum(k) AS BIGINT) AS n_subwords,
               CAST(sum(length(w)) AS DOUBLE) / CAST(sum(k) AS DOUBLE)
                 AS chars_per_subword
        FROM tokl JOIN segs USING (w) GROUP BY lang ORDER BY lang"""

  /** END-TO-END CORPUS CURATION — the composition the individual
    * operators exist FOR, as one oracle-checked dataflow: exact-dedup
    * survivors ∩ quality keeps, minus the benchmark set and everything
    * n-gram-contaminated by it, then the deterministic weighted draw of
    * the training subset. Each stage is the already-verified operator
    * (composition introduces only id-keyed joins), so the pipeline's
    * correctness is the conjunction of its parts' — and the oracle IS
    * the parts' SQL composed the same way.
    *
    * Scale shape: every stage keeps its own posture (hash-groupBy dedup,
    * narrow per-doc quality pass, broadcast bench-span probe) and the
    * glue is three doc_id equi-joins of id-only frames — the curation
    * pipeline adds no new shuffle class of its own. */
  def corpusCuration(spark: SparkSession, dir: String, n: Int = 100,
                     benchBelow: Long = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keepers = Dedup.exactDedup(spark, dir)
      .select(col("keeper_id").as("doc_id"))
    val quality = qualityFilter(spark, dir)
      .filter(col("keep")).select(col("doc_id"))
    val contaminated = Dedup.decontaminate(spark, dir, benchBelow = benchBelow)
      .select(col("doc_id"))
    val survivors = keepers.join(quality, "doc_id")
      .filter(col("doc_id") >= benchBelow)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val pr = survivors
      .join(Tables.loadWide(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("n_chars"),
        expr(s"((((2654435761 * (doc_id % ${Dedup.P})) % ${Dedup.P}" +
          s" + 40503) % ${Dedup.P}) * 100000)" +
          " div (n_chars + 1)").as("priority"))
    val top = pr.orderBy(col("priority"), col("doc_id")).limit(n)
    val w = Window.orderBy(col("priority"), col("doc_id"))
    top.withColumn("rn", row_number().over(w)
        .cast(org.apache.spark.sql.types.IntegerType))
      .select(col("rn"), col("doc_id"), col("n_chars"), col("priority"))
      .orderBy(col("rn"))
  }

  /** Oracle twin of [[corpusCuration]]: the stage oracles nested as CTEs
    * (the hybridSearchSql nested-WITH precedent), composed with the same
    * id joins and the same draw. */
  def corpusCurationSql(n: Int = 100, benchBelow: Long = 10): String =
    s"""WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents
                         GROUP BY ${Dedup.chashSql("text")}),
        q AS (SELECT doc_id FROM (${qualityFilterSql()}) WHERE keep),
        cont AS (SELECT doc_id FROM (${Dedup.decontaminateSql(benchBelow = benchBelow)})),
        surv AS (SELECT k.doc_id FROM keepers k JOIN q USING (doc_id)
                 WHERE k.doc_id >= $benchBelow
                   AND k.doc_id NOT IN (SELECT doc_id FROM cont)),
        pr AS (SELECT d.doc_id, d.n_chars,
               ((((2654435761 * (d.doc_id % ${Dedup.P})) % ${Dedup.P}
                  + 40503) % ${Dedup.P}) * 100000)
                 // (d.n_chars + 1) AS priority
               FROM documents d JOIN surv USING (doc_id))
        SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS INT) AS rn,
               doc_id, n_chars, priority
        FROM pr ORDER BY priority, doc_id LIMIT $n"""
}
