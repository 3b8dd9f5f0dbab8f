package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Deduplication operators over the `documents` corpus (north star:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Scale posture (100 TB):
  *  - exact dedup is a single hash groupBy on the text hash — one shuffle
  *    of (hash, doc_id), never the text payload;
  *  - candidate generation is always equi-join shaped (inverted shingle
  *    index or LSH band buckets), NEVER an O(n^2) cross join;
  *  - signatures (minhash/simhash) are explode + hash-once + codegen'd
  *    grouped aggregates — no UDFs, no interpreted HOF hot loops, no
  *    driver loops;
  *  - pair verification (exact Jaccard) runs only on candidates.
  *
  * Determinism contract: every hash is an explicit polynomial hash mod
  * 1e9+7 computed with identical integer arithmetic in Spark and the
  * DuckDB oracle (no engine-private hash functions), so signatures,
  * buckets, and pair sets match bit-for-bit.
  */
object Dedup {

  val P = 1000000007L

  /** Character-level polynomial rolling hash mod 1e9+7 — the native
    * codegen'd PolyHash expression (graft.plans.PolyHash); identical
    * semantics to the oracle's list_reduce form in chashSql. */
  def chash(s: Column): Column = graft.functions.NativeFunctions.polyHash(s)
  def chashSql(s: String): String =
    s"CASE WHEN length($s) = 0 THEN 0 ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"generate_series(1, length($s))), (acc, i) -> (acc * 31 + ascii(substr($s, i, 1))) % $P) END"

  /** Distinct word-bigram shingles of a text column (the dedup unit —
    * word n-grams, not char n-grams: char shingles over a narrow
    * vocabulary are near-universal and make every inverted-index join
    * quadratic). Native one-pass expression (graft.plans.WordBigrams);
    * the HOF form re-splits the document inside every lambda after
    * projection collapse. */
  def shingles(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.plans.WordBigrams(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))
  def shinglesSql(c: String): String = {
    val toks = s"regexp_split_to_array(trim($c), '\\s+')"
    s"CASE WHEN len($toks) < 2 THEN [] ELSE list_distinct(list_transform(" +
      s"generate_series(1, len($toks) - 1), i -> $toks[i] || ' ' || $toks[i+1])) END"
  }

  /** Exact dedup: group documents by content hash, keep the smallest
    * doc_id as the canonical copy. Shuffles only (hash, doc_id) pairs. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), chash(col("text")).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))
  def exactDedupSql: String =
    s"""SELECT ${chashSql("text")} AS text_hash, min(doc_id) AS keeper_id,
        count(*) AS n_copies FROM documents GROUP BY 1"""

  /** Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    * explode shingles, self-join on shingle (equi-join — each co-occurring
    * distinct shingle yields the pair once, so count(*) = |A∩B|), then
    * |A∪B| = |A|+|B|-|A∩B|.
    *
    * Candidate generation and verification happen in ONE codegen'd
    * join→partial-count pass over (long, long) rows — measured ~10x
    * cheaper per candidate than materializing pairs and intersecting
    * arrays. This is the right default when shingle document-frequency is
    * high (the co-occurrence joins are unavoidable for an exact answer and
    * the per-row cost is all that matters). For Zipfian corpora — real
    * text at 100 TB, where a few hot shingles would dominate the join —
    * `jaccardPrefixPairs` below prunes candidates by df-ordered prefix
    * before they exist. Both are exact; pick by corpus df profile. */
  def jaccardPairs(spark: SparkSession, dir: String, minJ: Double = 0.5): DataFrame =
    jaccardPairsOn(Tables.loadWide(spark, dir, "documents"), minJ)

  private[graft] def jaccardPairsOn(docsIn: DataFrame, minJ: Double): DataFrame = {
    val docs = docsIn.select(col("doc_id"), shingles(col("text")).as("sh"))
    val sized = docs.select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
    val inv = sized.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s"))
    val a = inv.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"), col("s").as("s_a"))
    val b = inv.select(col("doc_id").as("b_id"), col("n_sh").as("b_n"), col("s").as("s_b"))
    a.join(b, col("s_a") === col("s_b") && col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"), col("a_n"), col("b_n"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) /
          (col("a_n") + col("b_n") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= minJ)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact Jaccard pairs via a PREFIX-FILTERED inverted index
    * (PPJoin-style) — the scale path for Zipfian document frequencies —
    * with a measured df-profile dispatch to the count-join shape when the
    * corpus defeats prefix pruning.
    *
    * Prefix shape: order every document's shingles by ascending global df
    * (rarest first; ties on the shingle string — a total order) and join
    * only each document's first |A| − ceil(t·|A|) + 1 shingles: two sets
    * with Jaccard ≥ t must share a prefix element under any common total
    * order, so no pair is lost — and hot shingles sort LAST, so on Zipfian
    * corpora they almost never generate candidates. Each surviving join
    * row additionally passes PPJoin's POSITIONAL filter: a token matched
    * at df-rank (rn_a, rn_b) bounds the achievable overlap by
    * 1 + min(|A|−rn_a, |B|−rn_b) (the matched token plus everything after
    * it on both sides — all shared tokens rank ≥ the first match), and
    * Jaccard ≥ t forces overlap ≥ ceil(t/(1+t)·(|A|+|B|)); rows that
    * cannot reach that bound die before the dedup/verify shuffle.
    * Survivors are verified with the native sorted-intersect count over
    * per-document sorted arrays (graft.plans.SortedIntersectCount —
    * Spark's ArrayIntersect is interpreted and allocates the
    * intersection; measured 10x slower).
    *
    * Dispatch: two corpus-stat gates, both derived from the df table the
    * prefix ranking needs anyway — CALIBRATED, not guessed (commit-pinned
    * CalibrateJaccard run, idle box, five corpus regimes; table below).
    *
    * Gate 1 — is the quadratic term worth fighting at all? The
    * count-join's cost is (linear index scan) + (candidate volume
    * candFull = Σ_s C(df(s), 2) through ONE codegen'd join→count pass);
    * the prefix path pays ~3 extra linear passes over the index (df
    * join, window rank, persist) before it prunes anything. So until
    * candFull is large IN UNITS OF index rows, the count-join cannot
    * lose — measured: count-join wins at candFull/indexRows = 14×, 57×,
    * and 142× (even with 15,000× pruning available!), loses at 423×
    * (1.1×) and 846× (3×, diverging). `quadBudget = 256` splits the
    * 142–423 gap; a mis-dispatch near the boundary costs percents while
    * past it the count-join diverges quadratically. Both stats come from
    * one aggregate over `dfreq`, so a flat corpus skips building the
    * prefix index entirely.
    *
    * Gate 2 — does the prefix actually prune here? candPrefix =
    * Σ_s C(df_prefix(s), 2), one aggregate over the built prefix index,
    * is the EXACT candidate count the prefix join will emit. Each prefix
    * candidate costs ~3× a count-join candidate (positional filter +
    * dedup shuffle + verify fetch vs join row + count), so pruning below
    * `minPruneFactor = 3` cannot pay even with the machinery amortized;
    * fall back. (candPrefix = 0 — no candidates at all — always takes
    * the prefix path: 0 · ∞ = NaN compares false.)
    *
    * Calibration (sf dirs are the word-salad fixture; zipf = 5k docs,
    * s=1.1, 30k vocab; boiler = unique tails + corpus-wide stock
    * phrases, the real-text regime that kills the count-join):
    *
    *   regime      candFull  quad(=/idx)  prune    t_prefix  t_count
    *   sf0.01-flat     368k      14×        18×      2.0 s     0.8 s
    *   sf0.1-flat     36.5M     142×        13×      3.4 s     2.7 s
    *   zipf-5k         11M       57×     15429×      2.9 s     1.4 s
    *   boiler-10k     110M      423×     36670×      3.5 s     3.8 s
    *   boiler-20k     440M      846×     73334×      5.2 s    15.6 s
    *
    * Both shapes are exact; the DuckDB oracle computes the unpruned
    * join, so the correctness gate doubles as a proof the pruning
    * dropped nothing.
    *
    * Resource note: the prefix path materializes its candidate set as an
    * eager `localCheckpoint` (blocks freed automatically when the
    * returned DataFrame is GC'd; not recoverable on executor loss) and
    * holds a MEMORY_AND_DISK cache on the prefix index only WITHIN this
    * call — nothing stays registered in the CacheManager after return. */
  def jaccardPrefixPairs(spark: SparkSession, dir: String, minJ: Double = 0.9,
                         quadBudget: Double = 256.0,
                         minPruneFactor: Double = 3.0): DataFrame =
    jaccardPrefixPairsOn(Tables.loadWide(spark, dir, "documents"),
      minJ, quadBudget, minPruneFactor)

  private[graft] def jaccardPrefixPairsOn(docsIn: DataFrame, minJ: Double,
      quadBudget: Double = 256.0, minPruneFactor: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docsSh = docsIn
      .select(col("doc_id"), array_sort(shingles(col("text"))).as("sh"))
    val inv = docsSh
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
    // global document frequency per shingle: narrow (shingle, 1) shuffle
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // gate 1 stats in one aggregate: the count-join's exact candidate
    // volume candFull = Σ_s C(df, 2) and the index size Σ_s df. The
    // PER-ROW product must already be Double, not just the sum: a hot
    // shingle with df ≥ ~3e9 overflows Long in df*(df-1) and wraps the
    // sum negative — dispatching the quadratic path in exactly the
    // regime the gate exists to avoid. The dispatch is a ratio and
    // needs magnitude only
    val st = dfreq.agg(
        coalesce(sum(col("df").cast("double") *
          (col("df") - 1L).cast("double") / lit(2.0)), lit(0.0)),
        coalesce(sum(col("df")), lit(0L)))
      .head()
    val candFull = st.getDouble(0)
    val indexRows = st.getLong(1)
    // gate 1: quadratic term too small to beat the prefix machinery —
    // take the single-pass count-join WITHOUT building the prefix index
    if (candFull <= quadBudget * indexRows) return jaccardPairsOn(docsIn, minJ)
    // rank shingles within each doc by (df asc, s) and keep the t-prefix;
    // size filter t·|A| ≤ |B| ≤ |A|/t is applied at the candidate join
    // same 1e-9 ceil slack as the join bounds: an overshooting ceil here
    // would SHORTEN the prefix below the theorem's minimum length
    val prefixLen = (col("n_sh") - ceil(lit(minJ) * col("n_sh") - lit(1e-9)) + 1).cast(IntegerType)
    val ranked = inv.join(dfreq, "s")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))))
      .filter(col("rn") <= prefixLen)
      .select(col("doc_id"), col("n_sh"), col("s"), col("rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // gate 2 probe: candidate-join output size from the prefix index
    // (linear over the persisted index); per-row product in Double for
    // the same overflow reason as gate 1
    val candPrefix = ranked.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c").cast("double") *
        (col("c") - 1L).cast("double") / lit(2.0)), lit(0.0)).as("cand"))
      .head().getDouble(0)
    // gate 2: prefix must cut the candidate volume >= minPruneFactor-fold
    // to pay its per-candidate premium (calibration in the scaladoc).
    // candPrefix = 0 stays on the (trivially empty) prefix path:
    // 0 * inf = NaN > x compares false
    if (candPrefix * minPruneFactor > candFull) {
      ranked.unpersist()
      return jaccardPairsOn(docsIn, minJ)
    }
    // join keys renamed per side: same-lineage `s === s` tempts the
    // analyzer into a trivially-true predicate (self-join ambiguity)
    val a = ranked.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"),
      col("s").as("s_a"), col("rn").as("rn_a"))
    val b = ranked.select(col("doc_id").as("b_id"), col("n_sh").as("b_n"),
      col("s").as("s_b"), col("rn").as("rn_b"))
    // required overlap for J >= t: inter/(a_n+b_n-inter) >= t  <=>
    // inter >= t/(1+t)·(a_n+b_n); positional bound must be able to reach
    // it. Every pruning-side ceil carries a 1e-9 slack: 0.9 is not exact
    // in binary fp, so ceil(0.9·10) = ceil(9.000000000000002) = 10 would
    // silently over-prune exactly-at-threshold pairs — the verify step
    // protects against loose bounds, never tight ones.
    val required = ceil(lit(minJ / (1 + minJ)) * (col("a_n") + col("b_n")) - lit(1e-9))
    val candIds = a.join(b,
        col("s_a") === col("s_b") && col("a_id") < col("b_id") &&
          col("b_n") >= ceil(lit(minJ) * col("a_n") - lit(1e-9)) &&
          col("a_n") >= ceil(lit(minJ) * col("b_n") - lit(1e-9)) &&
          lit(1) + least(col("a_n") - col("rn_a"), col("b_n") - col("rn_b")) >= required)
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
      // eager LOCAL CHECKPOINT, not persist(): materializes the (small by
      // construction: the probe bounded it) candidate set NOW so the BIG
      // prefix index can be dropped below, truncates the quadratic-join
      // lineage, and — unlike a CacheManager persist, which lives until an
      // explicit unpersist/clearCache — its RDD-level blocks are freed by
      // the ContextCleaner once the returned DataFrame is GC'd, so
      // repeated library calls do not accumulate session-lifetime caches.
      // Trade-off: localCheckpoint data is not recoverable on executor
      // loss; the exposure window is a single query.
      .localCheckpoint(true)
    ranked.unpersist()
    // exact verification on the candidate set only; arrays come straight
    // off the (broadcast-small per candidate volume) scan
    candIds
      .join(docsSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(docsSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("inter", sortedIntersectCount(col("a_sh"), col("b_sh")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= minJ)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }
  /** Shared CTE chain ending in `jp(a_id, b_id, jaccard)` — the exact
    * pair set at threshold `minJ`; reused by the pair query and the
    * cluster/keep oracles. */
  private def jaccardPairsCte(minJ: Double): String =
    s"""d AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents),
        sized AS (SELECT doc_id, sh, len(sh) AS n_sh FROM d),
        inv AS (SELECT doc_id, n_sh, unnest(sh) AS s FROM sized),
        pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n,
                         b.n_sh AS b_n, count(*) AS inter
                  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2, 3, 4),
        jp AS (SELECT a_id, b_id,
                      CAST(inter AS DOUBLE) / CAST(a_n + b_n - inter AS DOUBLE) AS jaccard
               FROM pairs
               WHERE CAST(inter AS DOUBLE) / CAST(a_n + b_n - inter AS DOUBLE) >= $minJ)"""

  def jaccardPairsSql(minJ: Double = 0.5): String =
    s"""WITH ${jaccardPairsCte(minJ)}
        SELECT a_id, b_id, jaccard FROM jp"""

  // --- MinHash --------------------------------------------------------
  // h_s(shingle) = (a_s * chash(shingle) + b_s) mod P with a_s = 2s+3,
  // b_s = 5s+7: products stay < 2^36 (no BIGINT overflow in either
  // engine). Empty shingle set -> sentinel P (larger than any hash).

  def minhashOneSql(fps: String, seed: Int): String = {
    val a = 2L * seed + 3
    val b = 5L * seed + 7
    s"coalesce(list_min(list_transform($fps, f -> ($a * f + $b) % $P)), $P)"
  }

  /** (doc_id, mh_0..mh_{k-1}) — the signature computed the scale-shaped
    * way: explode shingles to rows, hash each shingle ONCE with the
    * native PolyHash, then k codegen'd `min` aggregates. Longs-only on
    * purpose: adding the shingle array to the aggregate (e.g. via
    * `first(sh)`) demotes it to a SortAggregate that sorts and shuffles
    * every exploded row WITH its array — measured 10x the whole
    * signature cost. Consumers that need the arrays re-derive them
    * narrowly from the scan (the native expression is cheaper than
    * shuffling them). */
  private[operators] def sigTable(spark: SparkSession, dir: String, k: Int): DataFrame =
    sigTableFrom(Tables.loadWide(spark, dir, "documents"), k)

  /** Signature pass over any (doc_id, text) frame — the streaming
    * sig-store twin computes each arriving batch's signatures through
    * exactly this plan, so store-served and in-plan signatures are
    * bit-identical by construction. */
  private[graft] def sigTableFrom(docs: DataFrame, k: Int): DataFrame =
    sigFromFps(docs
      .select(col("doc_id"), explode_outer(shingles(col("text"))).as("s"))
      .withColumn("fp", chash(col("s"))), k)

  /** The modality-generic MinHash core: k min-aggregates over a
    * (doc_id, fp) long-fingerprint frame. Text shingles arrive via
    * [[sigTableFrom]]; decoded-audio sample shingles via
    * [[graft.operators.Multimodal.audioShingleFps]]. A null fp (an
    * empty shingle set exploded with explode_outer) aggregates to the
    * sentinel P. */
  private[graft] def sigFromFps(fps: DataFrame, k: Int): DataFrame = {
    val aggs = (0 until k).map { s =>
      val a = 2L * s + 3
      val b = 5L * s + 7
      coalesce(min((lit(a) * col("fp") + lit(b)) % lit(P)), lit(P)).as(s"mh_$s")
    }
    fps.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document MinHash signature, unnested to (doc_id, seed, minhash)
    * rows so the oracle can compare it as a flat table. */
  def minhashSignatures(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val sig = sigTable(spark, dir, k)
      .select(col("doc_id"),
        array((0 until k).map(s => col(s"mh_$s")): _*).as("sig"))
    sig.select(col("doc_id"), posexplode(col("sig")).as(Seq("seed", "minhash")))
      .orderBy(col("doc_id"), col("seed"))
  }
  def minhashSignaturesSql(k: Int = 8): String = {
    val sigs = (0 until k).map(s => minhashOneSql("fps", s)).mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, list_transform(${shinglesSql("text")}, s -> ${chashSql("s")}) AS fps
                   FROM documents),
        sig AS (SELECT doc_id, $sigs AS sig FROM d)
        SELECT doc_id, CAST(i - 1 AS INT) AS seed, sig[i] AS minhash
        FROM sig, unnest(generate_series(1, $k)) AS t(i)"""
  }

  /** MinHash-LSH near-dup pairs: band the k-row signature into bands of
    * `r` rows, hash each band, equi-join on (band, band_hash) to get
    * candidates, then verify with exact Jaccard >= minJ. The band join is
    * the only wide op and its key space grows with corpus size — no
    * quadratic blowup for non-similar docs. */
  /** Ids-only banded-LSH candidate pairs: every (a_id < b_id) band-hash
    * collision, deduplicated across bands. The cheap-filter half of the
    * filter-and-verify shape — [[lshPairs]] verifies with shingle
    * Jaccard, [[editDistVerify]] with edit distance; neither verifier's
    * payload rides through the band explode or the self-join shuffle. */
  /** The band self-join over a prepared (doc_id, mh_0..mh_{k-1})
    * signature frame — shared by the in-plan path and the streaming
    * sig-store serving path. */
  private[graft] def bandJoinCandidates(sig: DataFrame, k: Int, r: Int): DataFrame =
    bandJoinCandidatesFromBanded(bandedRows(sig, k, r))

  /** (doc_id, band, bh) rows from a (doc_id, mh_0..mh_{k-1}) signature
    * frame — the banded form is ALSO the streaming signature store's
    * at-rest layout (partitioned by `band`), so store-served and in-plan
    * band joins share one hash definition. */
  private[graft] def bandedRows(sig: DataFrame, k: Int, r: Int): DataFrame = {
    require(k % r == 0, "bands must tile the signature")
    val nBands = k / r
    // band hash = polynomial combine of the band's minhashes mod P
    def bandHash(band: Int): Column =
      (0 until r).map(i => col(s"mh_${band * r + i}"))
        .foldLeft(lit(0L): Column)((acc, h) => (acc * lit(131L) + h) % lit(P))
    sig.select(col("doc_id"),
      posexplode(array((0 until nBands).map(bandHash): _*)).as(Seq("band", "bh")))
  }

  /** The band-collision self-join over prepared (doc_id, band, bh) rows:
    * every (a_id < b_id) band-hash collision, deduplicated across
    * bands. Taking the BANDED frame (not the signature frame) lets the
    * streaming store serve candidates straight off its band-partitioned
    * layout without reconstituting mh columns. */
  private[graft] def bandJoinCandidatesFromBanded(banded: DataFrame): DataFrame = {
    val a = banded.select(col("doc_id").as("a_id"), col("band"), col("bh"))
    val b = banded.select(col("doc_id").as("b_id"),
      col("band").as("band_b"), col("bh").as("bh_b"))
    a.join(b,
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  private def lshCandidateIds(spark: SparkSession, dir: String,
                              k: Int, r: Int): DataFrame = {
    val sig = sigTable(spark, dir, k).persist()
    // eager materialization: both sides of the band self-join scan this
    // cache; built lazily inside one action, each side races to compute
    // the uncached partitions and the whole signature pass runs twice
    // (measured 2x the operator). 5000 rows - the count is free.
    sig.count()
    bandJoinCandidates(sig, k, r)
  }

  def lshPairs(spark: SparkSession, dir: String, k: Int = 8, r: Int = 2,
               minJ: Double = 0.5): DataFrame = {
    // candidate generation on IDS ONLY — the shingle arrays would
    // otherwise ride through the band explode (x nBands), the self-join
    // shuffle (both sides) and the dedup shuffle; fetching them back by
    // a post-dedup equi-join moves each array exactly once
    val candIds = lshCandidateIds(spark, dir, k, r)
    verifyJaccard(spark, dir, candIds, minJ)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Exact-Jaccard verification of an (a_id, b_id) candidate frame.
    * Shingle arrays for verification come straight off the scan (narrow,
    * native expression) — never through an aggregate or the band join.
    * Sorted per document so the intersect count is a native two-pointer
    * pass (ArrayIntersect is interpreted + allocating: measured 10x the
    * candidate join on a millions-of-candidates corpus). */
  private def verifyJaccard(spark: SparkSession, dir: String,
                            candIds: DataFrame, minJ: Double): DataFrame = {
    val docsSh = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), array_sort(shingles(col("text"))).as("sh"))
    candIds
      .join(docsSh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(docsSh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("inter", sortedIntersectCount(col("a_sh"), col("b_sh")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("a_sh")) + size(col("b_sh")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= minJ)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** LSH pairs served from a PREPARED BANDED frame — the band-partitioned
    * streaming signature store's serving path: candidates come from the
    * store's own (doc_id, band, bh) layout, verification fetches shingles
    * narrowly like [[lshPairs]]. */
  private[graft] def lshPairsFromBanded(spark: SparkSession, dir: String,
                                        banded: DataFrame,
                                        minJ: Double = 0.5): DataFrame =
    verifyJaccard(spark, dir, bandJoinCandidatesFromBanded(banded), minJ)

  /** Representative keep over an arbitrary verified near-dup pair frame:
    * connected components, drop every non-minimum member. */
  private[graft] def keepFromPairs(spark: SparkSession, dir: String,
                                   pairs: DataFrame): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    val drops = connectedComponents(
        pairs.select(col("a_id").as("u"), col("b_id").as("v")))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of LSH-pairs → connected components → representative
    * keep — the serving contract of the streaming signature store. */
  def lshDedupKeepSql(k: Int = 8, r: Int = 2, minJ: Double = 0.5): String =
    s"""WITH RECURSIVE ${lshPairsCte(k, r, minJ)},
        e AS (SELECT a_id AS u, b_id AS v FROM ljp
              UNION SELECT b_id, a_id FROM ljp),
        reach(src, node) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM e) n
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
        comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1)
        SELECT d.doc_id, d.source FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM comp c
                          WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id)"""

  /** Native |A∩B| over per-document sorted shingle arrays. */
  private def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.plans.SortedIntersectCount(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))
  def lshPairsSql(k: Int = 8, r: Int = 2, minJ: Double = 0.5): String =
    s"""WITH ${lshPairsCte(k, r, minJ)}
        SELECT a_id, b_id, jaccard FROM ljp"""

  /** The [[lshPairsSql]] pipeline as a CTE chain ending in `ljp`, so
    * composites (the streaming sig-store keep) can extend it. */
  private def lshPairsCte(k: Int, r: Int, minJ: Double): String = {
    val nBands = k / r
    val sigs = (0 until k).map(s => minhashOneSql("fps", s)).mkString("[", ", ", "]")
    val bandHashes = (0 until nBands).map { band =>
      (0 until r).map(i => s"sig[${band * r + i + 1}]")
        .foldLeft("CAST(0 AS BIGINT)")((acc, h) => s"(($acc) * 131 + $h) % $P")
    }.mkString("[", ", ", "]")
    s"""d AS (SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents),
        f AS (SELECT doc_id, sh, list_transform(sh, s -> ${chashSql("s")}) AS fps FROM d),
        sig AS (SELECT doc_id, sh, $sigs AS sig FROM f),
        banded AS (SELECT doc_id, sh, CAST(i - 1 AS INT) AS band, bhs[i] AS bh
                   FROM (SELECT doc_id, sh, $bandHashes AS bhs FROM sig),
                        unnest(generate_series(1, $nBands)) AS t(i)),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                        a.sh AS a_sh, b.sh AS b_sh
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        scored AS (SELECT a_id, b_id,
                   CAST(len(list_intersect(a_sh, b_sh)) AS DOUBLE) /
                   CAST(len(a_sh) + len(b_sh) - len(list_intersect(a_sh, b_sh)) AS DOUBLE) AS jaccard
                   FROM cand),
        ljp AS (SELECT a_id, b_id, jaccard FROM scored WHERE jaccard >= $minJ)"""
  }

  // --- SimHash --------------------------------------------------------

  val SimBits = 30 // chash yields ~30 usable bits (mod 1e9+7)

  /** (doc_id, simhash) — 30-bit SimHash over word tokens: token hash
    * votes +1/-1 per bit, signature bit i set iff the vote sum is
    * positive. Computed the scale-shaped way: explode tokens, one native
    * PolyHash per token, then 30 codegen'd conditional-sum aggregates
    * (the nested-HOF formulation is interpreted and allocation-bound). */
  private[operators] def simhashTable(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val toks = when(length(trim(col("text"))) === 0,
      array().cast(ArrayType(StringType))).otherwise(split(trim(col("text")), "\\s+"))
    val ex = docs.select(col("doc_id"), explode_outer(toks).as("t"))
      .withColumn("h", chash(col("t")))
    val votes = (0 until SimBits).map { i =>
      sum(when(col("h").isNull, lit(0))
        .when(shiftright(col("h"), i) % 2 === 1, lit(1))
        .otherwise(lit(-1))).as(s"v_$i")
    }
    ex.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map(i =>
          when(col(s"v_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
  def simhashSql(c: String): String = {
    val toks = s"CASE WHEN length(trim($c)) = 0 THEN [] ELSE regexp_split_to_array(trim($c), '\\s+') END"
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(generate_series(0, ${SimBits - 1}), i ->
          CASE WHEN list_reduce(list_prepend(0,
            list_transform($toks, t ->
              CASE WHEN CAST(floor(${chashSql("t")} / (1 << i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)),
            (a, v) -> a + v) > 0
          THEN CAST(1 AS BIGINT) << i ELSE 0 END)),
        (acc, x) -> acc + x)"""
  }

  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    simhashTable(spark, dir).orderBy(col("doc_id"))
  def simhashSignaturesSql: String =
    s"SELECT doc_id, ${simhashSql("text")} AS simhash FROM documents"

  /** SimHash near-dup pairs by banded Hamming join: split the signature
    * into `nBands` bands; Hamming distance <= nBands-1 guarantees two
    * near-dups share >= 1 exact band (pigeonhole), so candidates come
    * from an equi-join on (band, band_bits); verify with bit_count(xor).
    */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 1,
                   nBands: Int = 2): DataFrame = {
    val bandWidth = SimBits / nBands
    val sigs = simhashTable(spark, dir).persist() // read by both join sides
    sigs.count() // eager for the same reason as lshPairs
    def band(i: Int): Column =
      floor(col("simhash") / shiftleft(lit(1L), i * bandWidth)).cast(LongType) % (1L << bandWidth)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(band): _*)).as(Seq("band", "bits")))
    val a = banded.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"),
      col("band"), col("bits"))
    val b = banded.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"),
      col("band").as("band_b"), col("bits").as("bits_b"))
    a.join(b, col("band") === col("band_b") && col("bits") === col("bits_b") &&
        col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming",
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .orderBy(col("a_id"), col("b_id"))
  }
  def simhashPairsSql(maxHamming: Int = 1, nBands: Int = 2): String = {
    val bandWidth = SimBits / nBands
    val bands = (0 until nBands)
      .map(i => s"(CAST(floor(simhash / (CAST(1 AS BIGINT) << ${i * bandWidth})) AS BIGINT) % ${1L << bandWidth})")
      .mkString("[", ", ", "]")
    s"""WITH sigs AS (SELECT doc_id, ${simhashSql("text")} AS simhash FROM documents),
        banded AS (SELECT doc_id, simhash, CAST(i - 1 AS INT) AS band, bs[i] AS bits
                   FROM (SELECT doc_id, simhash, $bands AS bs FROM sigs),
                        unnest(generate_series(1, $nBands)) AS t(i)),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                        a.simhash AS a_sig, b.simhash AS b_sig
                 FROM banded a JOIN banded b
                   ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, bit_count(xor(a_sig, b_sig)) AS hamming
        FROM cand WHERE bit_count(xor(a_sig, b_sig)) <= $maxHamming"""
  }

  /** Duplicated-span detection — the exact-substring-dedup primitive
    * (north star; the fixed-width-window analogue of suffix-array
    * substring dedup a la Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): every sliding `w`-word window of every
    * document, grouped corpus-wide; spans occurring >= minOcc times come
    * back with occurrence/document counts and the earliest containing
    * doc. A training pipeline drops or rewrites these spans.
    *
    * Scale shape: window construction is NARROW — a per-document
    * transform/slice over the token array (no shuffle, no self-join);
    * the only wide op is the one (span) count shuffle, partial-aggregated
    * map-side. Cost is O(total_tokens · w) with no quadratic term, so the
    * pass survives 100 TB; output is bounded by the corpus's repeated-
    * span vocabulary. (A per-token lead()-window form would shuffle every
    * token by doc_id first — strictly worse.) */
  def spanDedup(spark: SparkSession, dir: String, w: Int = 5,
                minOcc: Long = 2): DataFrame = {
    spanTable(Tables.loadWide(spark, dir, "documents"), w)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") >= minOcc)
      .orderBy(col("span"))
  }

  def spanDedupSql(w: Int = 5, minOcc: Long = 2): String =
    s"""WITH ${spanCteSql(w)}
        SELECT span, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
               min(doc_id) AS first_doc
        FROM s GROUP BY 1 HAVING count(*) >= $minOcc"""

  /** (doc_id, span) for every sliding w-word window — the narrow span
    * builder shared by spanDedup and decontaminate. */
  private[graft] def spanTable(docs: DataFrame, w: Int): DataFrame = {
    // filter the tokenizer's phantom '' (whitespace-edged text) BEFORE
    // forming spans, mirrored in the CTE below — the words() contract
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.words(col("text")).as("words0"))
      .select(col("doc_id"), expr("filter(words0, x -> x <> '')").as("words"))
      .filter(size(col("words")) >= w) // shorter docs have no w-span
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("words")) - lit(w - 1)),
          i => array_join(slice(col("words"), i, lit(w)), " "))).as("span"))
  }

  /** The spanTable twin as a DuckDB CTE body named `s(doc_id, span)`. */
  private def spanCteSql(w: Int): String =
    s"""d AS (SELECT doc_id,
          list_filter(${graft.functions.TextFunctions.wordsSql("text")}, x -> x <> '') AS words
        FROM documents),
        s AS (SELECT doc_id,
                unnest(list_transform(generate_series(1, len(words) - ${w - 1}),
                  i -> array_to_string(words[i:i+${w - 1}], ' '))) AS span
              FROM d WHERE len(words) >= $w)"""

  /** spanTable with the window's 1-based word position kept — the input
    * to maximal-span chaining. Same narrow shape (per-doc slice, no
    * shuffle). */
  private[operators] def spanTablePos(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.words(col("text")).as("words0"))
      .select(col("doc_id"), expr("filter(words0, x -> x <> '')").as("words"))
      .filter(size(col("words")) >= w)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("words")) - lit(w - 1)),
          i => array_join(slice(col("words"), i, lit(w)), " "))))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("span"))

  /** VARIABLE-LENGTH span dedup — maximal duplicated spans (north star:
    * the practical analogue of suffix-array exact-substring dedup, Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": report maximal repeated regions, not fixed windows; cf.
    * /root/reference semantics only via the fixed-w primitive above).
    *
    * A w-word window is DUPLICATED when its text occurs >= minOcc times
    * corpus-wide (spanDedup's criterion). Within a document, runs of
    * consecutive duplicated windows (positions p, p+1, ...) chain into
    * one maximal island covering words [span_start, span_start +
    * span_words - 1]. Every repeated substring of >= w words lies inside
    * some island, so the islands are a COVER of the maximal-repeated-
    * substring regions — adjacent distinct repeats merge (the island as
    * a whole need not repeat verbatim), which over-removes slightly:
    * exactly the safe direction for training-data dedup.
    *
    * Scale shape: window construction is narrow; the span-count shuffle
    * is partial-aggregated map-side; the repeated-span vocabulary
    * (bounded by the corpus's repeated phrases, small in real text)
    * BROADCASTS back onto a recomputed narrow span stream — the corpus
    * never shuffles to discover which of its windows are duplicated
    * (decontaminate's shape). Only the duplicated windows — the rare
    * hits — shuffle by doc_id for chaining, and the final groupBy reuses
    * that window partitioning (hashpartitioning(doc_id) satisfies the
    * (doc_id, grp) clustering), so chaining costs ONE shuffle of hits.
    * If a pathological corpus made the repeated vocabulary huge, the
    * broadcast degrades to a shuffled hash join — AQE's call, still
    * never quadratic. */
  def maximalSpans(spark: SparkSession, dir: String, w: Int = 5,
                   minOcc: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadWide(spark, dir, "documents")
    val repeated = broadcast(
      spanTablePos(docs, w)
        .groupBy(col("span")).agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= minOcc).select(col("span")))
    val dup = spanTablePos(docs, w).join(repeated, Seq("span"), "left_semi")
    // consecutive positions share (pos - row_number): one island per run
    val grp = col("pos") -
      row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
    dup.withColumn("grp", grp)
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("n_windows"),
        (col("n_windows") + lit(w - 1)).as("span_words"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  def maximalSpansSql(w: Int = 5, minOcc: Long = 2): String =
    s"""WITH d AS (SELECT doc_id,
          list_filter(${graft.functions.TextFunctions.wordsSql("text")}, x -> x <> '') AS words
        FROM documents),
        sp AS (SELECT doc_id, i AS pos, array_to_string(words[i:i+${w - 1}], ' ') AS span
               FROM d, unnest(generate_series(1, len(words) - ${w - 1})) AS t(i)
               WHERE len(words) >= $w),
        r AS (SELECT span FROM sp GROUP BY 1 HAVING count(*) >= $minOcc),
        dup AS (SELECT doc_id, pos FROM sp WHERE span IN (SELECT span FROM r)),
        isl AS (SELECT doc_id, pos,
                       pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM dup)
        SELECT doc_id, min(pos) AS span_start, count(*) AS n_windows,
               count(*) + ${w - 1} AS span_words
        FROM isl GROUP BY doc_id, grp"""

  /** Benchmark DECONTAMINATION (north star: before training, drop corpus
    * documents that overlap an evaluation set — n-gram-overlap decontam
    * as in public LLM training reports): flag every training document
    * (doc_id >= benchBelow) sharing at least one w-word span with the
    * benchmark set (doc_id < benchBelow), with the count of distinct
    * shared spans as the contamination score.
    *
    * Scale shape: the benchmark side is SMALL by definition — its
    * distinct spans broadcast, so the probe is a broadcast hash join
    * against the training corpus's narrow span stream: the corpus
    * reaches the join with NO shuffle (plan-asserted in PlanSpec). The
    * distinct-shared-span count runs AFTER the join, so the only rows
    * that ever shuffle are the contamination HITS — at a 100 TB corpus
    * that is one scan + a shuffle of the (rare) matches, never the
    * span stream. (Deduping the corpus spans BEFORE the join reads
    * nicer but hash-shuffles every span of every document — measured as
    * the dominant exchange, and exactly what this shape deletes.) */
  def decontaminate(spark: SparkSession, dir: String, w: Int = 4,
                    benchBelow: Long = 10): DataFrame = {
    val spans = spanTable(Tables.loadWide(spark, dir, "documents"), w)
    val benchSpans = broadcast(
      spans.filter(col("doc_id") < benchBelow)
        .select(col("span").as("b_span")).distinct())
    spans.filter(col("doc_id") >= benchBelow)
      .join(benchSpans, col("span") === col("b_span"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("span")).as("n_shared_spans"))
      .orderBy(col("doc_id"))
  }

  def decontaminateSql(w: Int = 4, benchBelow: Long = 10): String =
    s"""WITH ${spanCteSql(w)},
        bench AS (SELECT DISTINCT span FROM s WHERE doc_id < $benchBelow),
        train AS (SELECT DISTINCT doc_id, span FROM s WHERE doc_id >= $benchBelow)
        SELECT t.doc_id, count(*) AS n_shared_spans
        FROM train t JOIN bench b ON t.span = b.span
        GROUP BY 1"""

  /** Bloom-pruned decontamination — [[decontaminate]]'s exact result via
    * a compact-sketch prefilter. [[decontaminate]] broadcasts the bench
    * side's DISTINCT SPANS; that works while the benchmark suite is
    * small, but a full eval-suite union (hundreds of millions of spans)
    * outgrows an exact broadcast set long before it outgrows a Bloom
    * filter: m bits cover n keys at fp ≈ (1−e^{−kn/m})^k, so ~1.2 GB of
    * bits screens a BILLION bench spans at fp ≈ 1% — still broadcastable.
    *
    * Shape: [[graft.plans.BloomAgg]] folds the bench spans' xxhash64
    * keys into one binary row (map-side-combined OR-merge); the corpus
    * span stream probes it with the codegen'd
    * [[graft.plans.BloomContains]] DURING ITS SCAN (broadcast nested
    * loop of a 1-row side — no shuffle, no join machinery); only the
    * hits — true matches plus the fp-rate's false positives — continue
    * to the exact verify join, which keeps the result EXACT: Bloom has
    * no false negatives, and false positives die in the verify. The
    * oracle is therefore [[decontaminateSql]] verbatim.
    *
    * 100 TB: the corpus-side span stream never shuffles (same plan
    * property PlanSpec asserts for [[decontaminate]]); what changed is
    * the broadcast payload — bits instead of strings — and the verify
    * join's input, now |hits| instead of |corpus spans|. */
  private[graft] def bloomAggCol(c: Column, mBits: Int, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.BloomAgg(Bridge.expression(c), mBits, k)
      .toAggregateExpression())
  }
  private[graft] def bloomContainsCol(bits: Column, h: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.BloomContains(
      Bridge.expression(bits), Bridge.expression(h), k))
  }

  /** The bench side's Bloom bits as driver-held model state (the same
    * O(model)-collect contract as the ANN codebooks): mBits/8 bytes
    * regardless of bench size, for embedding into a STREAMING plan as a
    * literal — a stream can't re-aggregate a static side per batch, and
    * bits-as-literal is exactly how a production job ships a
    * pre-built filter with the plan. */
  private[graft] def bloomBitsFor(spark: SparkSession, dir: String, w: Int,
                                  benchBelow: Long, mBits: Int, k: Int): Array[Byte] =
    spanTable(Tables.loadWide(spark, dir, "documents"), w)
      .filter(col("doc_id") < benchBelow)
      .agg(bloomAggCol(xxhash64(col("span")), mBits, k).as("bits"))
      .head().getAs[Array[Byte]](0)

  def bloomDecontaminate(spark: SparkSession, dir: String, w: Int = 4,
                         benchBelow: Long = 10, mBits: Int = 1 << 20,
                         k: Int = 5): DataFrame = {
    def bloomAgg(c: Column): Column = bloomAggCol(c, mBits, k)
    def bloomContains(bits: Column, h: Column): Column =
      bloomContainsCol(bits, h, k)
    val spans = spanTable(Tables.loadWide(spark, dir, "documents"), w)
    val bench = spans.filter(col("doc_id") < benchBelow)
    val bits = bench.agg(bloomAgg(xxhash64(col("span"))).as("bits"))
    val hits = spans.filter(col("doc_id") >= benchBelow)
      .crossJoin(broadcast(bits))
      .filter(bloomContains(col("bits"), xxhash64(col("span"))))
    val benchSpans = broadcast(
      bench.select(col("span").as("b_span")).distinct())
    hits
      .join(benchSpans, col("span") === col("b_span"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("span")).as("n_shared_spans"))
      .orderBy(col("doc_id"))
  }

  /** PARAGRAPH-LEVEL first-occurrence dedup — the CCNet shape (Wenzek et
    * al., "CCNet", LREC 2020): split each document into paragraphs,
    * drop every paragraph whose exact content already appeared earlier
    * in the corpus (corpus order = (doc_id, paragraph index)), and
    * reassemble what survives. This is the boilerplate-removal pass of a
    * web-crawl pipeline — repeated headers/footers/navigation vanish
    * from all but their first carrier — and is DISTINCT from span dedup
    * (which drops EVERY duplicated w-gram occurrence regardless of
    * position and ignores paragraph structure).
    *
    * The fixture corpus has no newlines, so the query materializes the
    * crawl scenario deterministically: every document gains a shared
    * boilerplate paragraph, and every third document a second one. The
    * oracle applies the same enrichment.
    *
    * Scale shape: ONE hash shuffle of (paragraph, doc_id, idx) for the
    * first-occurrence window — paragraphs, not documents, are the
    * shuffle unit, and the reassembly groupBy rides the same doc_id
    * partitioning. Exact-content partitioning is fine at 100 TB because
    * a paragraph is bounded (a xxhash64 pre-key drops the shuffle width
    * further when paragraphs are large; content equality is what CCNet
    * hashes anyway). Fully-deduplicated documents survive with empty
    * text (n_kept = 0), never silently disappear. */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val boiler1 = "subscribe to our newsletter for updates and follow the project"
    val boiler2 = "all rights reserved terms of service apply to every page"
    val enriched = concat(col("text"), lit("\n" + boiler1),
      when(col("doc_id") % 3 === 0, lit("\n" + boiler2)).otherwise(lit("")))
    val paras = graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), posexplode(split(enriched, "\n")))
      .withColumnRenamed("pos", "para_idx")
      .withColumnRenamed("col", "para")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para")).orderBy(col("doc_id"), col("para_idx"))
    paras.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("rn") === 1,
            struct(col("para_idx"), col("para"))))),
          s => s.getField("para")), "\n").as("text_deduped"))
      .orderBy(col("doc_id"))
  }

  def paragraphDedupSql: String = {
    val boiler1 = "subscribe to our newsletter for updates and follow the project"
    val boiler2 = "all rights reserved terms of service apply to every page"
    s"""WITH e AS (SELECT doc_id,
            text || chr(10) || '$boiler1' ||
            CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$boiler2' ELSE '' END AS t
          FROM documents WHERE text IS NOT NULL),
        sp AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM e),
        p AS (SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, parts[i] AS para
              FROM sp, unnest(generate_series(1, len(parts))) AS u(i)),
        r AS (SELECT doc_id, para_idx, para,
              row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
              FROM p)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_paras,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
            ORDER BY para_idx), '') AS text_deduped
        FROM r GROUP BY doc_id"""
  }

  /** Connected components over an undirected edge list via the
    * alternating LARGE-STAR / SMALL-STAR contraction of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC 2014) — the
    * O(log^2 n)-round algorithm (O(log n) in practice), NOT naive
    * min-label propagation, whose round count is the graph DIAMETER:
    * near-dup graphs at 100 TB contain long template-drift chains
    * (doc_i ~ doc_{i+1} for thousands of i) where propagation needs
    * thousands of shuffles and star contraction a dozen.
    *
    * Each round is two phases over the canonical (u < v, distinct) edge
    * list, both pure equi-shuffles of (long, long) rows:
    *   large-star: every node links its LARGER neighbors to its
    *     neighborhood minimum (cuts tall chains into shallow trees);
    *   small-star: every node links its SMALLER neighbors and itself to
    *     the minimum of the smaller set (flattens trees into stars).
    * Each phase is a groupBy(node).min + an equi-join back onto the edge
    * stream — no arrays, no driver-side graph. The per-round
    * `localCheckpoint(true)` is load-bearing twice over: it truncates a
    * lineage that would otherwise double every round, and it makes the
    * convergence action read materialized blocks.
    * Converged state (proven in the paper): a disjoint union of stars
    * whose centers are the component minima.
    *
    * Fixed-point detection costs ONE aggregate action per round — the
    * (exact count, order-independent checksum = sum of xxhash64(u, v)
    * widened to decimal so ANSI sum can't overflow) pair of the
    * canonical edge set, equal across consecutive rounds iff (modulo a
    * 2^-64-scale checksum collision) the sets are equal. The earlier
    * shape paid count() PLUS a full except() anti-join — two extra
    * shuffles per round on the critical path of every clustering query.
    * The except() survives as a single post-loop assert backing the
    * checksum, so a collision fails loudly instead of mis-clustering.
    *
    * Output: one row per node that appears in any edge —
    * (doc_id, cluster_id = min doc_id of its component). */
  private[graft] def connectedComponents(pairs: DataFrame,
                                         driverEdgeCap: Int = DriverCap.CcDriverEdgeCap)
      : DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("c"), least(col("u"), col("mn")).as("m"))
      canon(s.join(mins, col("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("v") < col("u"))
      val mins = s.groupBy(col("u")).agg(min(col("v")).as("m"))
      val attach = s.join(mins.withColumnRenamed("u", "c"), col("u") === col("c"))
        .select(col("v").as("u"), col("m").as("v"))
      canon(attach.union(mins.select(col("u"), col("m").as("v"))))
    }
    def stats(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0)))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    // LAZY checkpoint: the probe below computes its partitions into it,
    // so an above-cap run's first stats() reads them back instead of
    // re-running the expensive canon(pairs) lineage.
    val canonical = canon(pairs).localCheckpoint(eager = false)
    // bounded fetch: if every canonical edge fits under the cap, the
    // component minima come from a driver union-find (one job instead
    // of 2-3 per contraction round); the star-contraction output after
    // convergence is exactly the star {(min, node)} + root self-rows,
    // which is what the union-find emits
    val probe = DriverCap.collect(canonical, driverEdgeCap)
    if (probe.isDefined) {
      val head = probe.get
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      head.foreach { e =>
        val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val nodes = head.iterator.flatMap(e => Iterator(e.getLong(0), e.getLong(1)))
        .toArray.distinct
      val spark = pairs.sparkSession
      import spark.implicits._
      return nodes.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster_id")
    }
    var edges = canonical // stats() materializes the lazy checkpoint
    var (cnt, sig) = stats(edges)
    var prev: DataFrame = null
    var converged = cnt == 0L
    var round = 0
    while (!converged && round < 50) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val (ncnt, nsig) = stats(next)
      converged = ncnt == cnt && nsig.compareTo(sig) == 0
      prev = edges
      edges = next
      cnt = ncnt
      sig = nsig
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $round rounds")
    // checksum backstop, paid ONCE after the loop (counts already match,
    // so one-directional emptiness proves set equality)
    require(prev == null || edges.except(prev).isEmpty,
      "connectedComponents checksum collision: count+hash matched across " +
        s"round $round but the edge sets differ")
    edges.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .union(edges.select(col("u"), col("u")).distinct()
        .toDF("doc_id", "cluster_id"))
  }

  /** Duplicate CLUSTERS from exact near-dup pairs: the step a real
    * training pipeline needs between pair detection and row dropping —
    * near-duplication is transitive in effect (A~B, B~C means one
    * surviving copy of the whole group), so representatives must be
    * chosen per connected component, not per pair (dropping b_id of
    * every pair over-deletes: in a triangle {A,B,C} it keeps only A but
    * also mis-keeps nothing to compare C against once B is gone — and
    * under a chain it deletes docs whose only duplicate was itself
    * deleted). Cluster id = min doc_id of the component. */
  def dupClusters(spark: SparkSession, dir: String, minJ: Double = 0.5): DataFrame =
    connectedComponents(
        jaccardPairsOn(Tables.loadWide(spark, dir, "documents"), minJ)
          .select(col("a_id").as("u"), col("b_id").as("v")))
      .orderBy(col("doc_id"))

  def dupClustersSql(minJ: Double = 0.5): String =
    s"""WITH RECURSIVE ${jaccardPairsCte(minJ)},
        e AS (SELECT a_id AS u, b_id AS v FROM jp
              UNION SELECT b_id, a_id FROM jp),
        reach(src, node) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM e) n
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node)
        SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1"""

  /** Representative selection: keep every document that is not a
    * non-representative member of a duplicate cluster (the component's
    * min doc_id survives; untouched documents pass through). The drop
    * list is ids-only; the anti-join is left to the planner — at scale
    * the duplicate fraction of a web corpus is large enough that forcing
    * a broadcast would be wrong, and AQE picks one when the list is
    * genuinely small. */
  def dedupKeep(spark: SparkSession, dir: String, minJ: Double = 0.5): DataFrame = {
    val docs = Tables.loadWide(spark, dir, "documents")
    val drops = dupClusters(spark, dir, minJ)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  def dedupKeepSql(minJ: Double = 0.5): String =
    s"""WITH RECURSIVE ${jaccardPairsCte(minJ)},
        e AS (SELECT a_id AS u, b_id AS v FROM jp
              UNION SELECT b_id, a_id FROM jp),
        reach(src, node) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM e) n
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
        comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1)
        SELECT d.doc_id, d.source FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM comp c
                          WHERE c.doc_id = d.doc_id AND c.doc_id <> c.cluster_id)"""

  /** Content-defined-chunk dedup (the storage-dedup shape applied to
    * corpus near-dedup): split every document at Rabin-style rolling-
    * hash boundaries (graft.plans.CdcChunks — boundaries depend only on
    * LOCAL content, so chunks re-align after any insertion, where
    * fixed-offset chunking shifts every boundary downstream of an
    * edit), then keep each chunk's first occurrence in
    * (doc_id, position) order. Reports per-document chunk accounting:
    * duplicated chunks measure how much of the document is redundant
    * byte-range-wise — finer than paragraph dedup (which needs exact
    * paragraph boundaries) and cheaper than shingle Jaccard (no pair
    * join).
    *
    * Scale shape: chunking is narrow native codegen; ONE
    * (chunk → first-occurrence) window shuffle keyed by chunk content
    * (WindowGroupLimit ships one row per chunk per partition), one
    * per-doc rollup. At 100 TB you'd key the shuffle on a chunk HASH
    * rather than the text (swap the window key for poly_hash(chunk));
    * the fixture keys content directly so the oracle is readable. */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.Bridge
    val docs = Tables.loadWide(spark, dir, "documents")
    val ch = docs.filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(Bridge.column(graft.plans.CdcChunks(
          Bridge.expression(col("text"))))).as(Seq("idx", "chunk")))
    val flags = ch.withColumn("rn", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("idx"))))
    val perDoc = flags.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_chunks"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_dup"))
      .orderBy(col("doc_id"))
  }

  /** The oracle recomputes the w=8 rolling hash as the direct 8-term
    * polynomial sum (coefficients 31^k mod 1e9+7 as literals; BIGINT-
    * safe: 8 · 1.1e6 · 5e8 < 2^63). */
  def cdcDedupSql: String =
    """WITH t AS (SELECT doc_id, text AS t, length(text) AS n
         FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       h AS (SELECT doc_id, t, n,
         CASE WHEN n >= 8 THEN list_filter(list_transform(generate_series(8, n),
           i -> CASE WHEN (CAST(ord(substr(t, i-7, 1)) AS BIGINT) * 512613922
                         + CAST(ord(substr(t, i-6, 1)) AS BIGINT) * 887503681
                         + CAST(ord(substr(t, i-5, 1)) AS BIGINT) * 28629151
                         + CAST(ord(substr(t, i-4, 1)) AS BIGINT) * 923521
                         + CAST(ord(substr(t, i-3, 1)) AS BIGINT) * 29791
                         + CAST(ord(substr(t, i-2, 1)) AS BIGINT) * 961
                         + CAST(ord(substr(t, i-1, 1)) AS BIGINT) * 31
                         + CAST(ord(substr(t, i, 1)) AS BIGINT)) % 1000000007 % 64 = 0
                THEN i END), x -> x IS NOT NULL)
         ELSE [] END AS b
         FROM t),
       cuts AS (SELECT doc_id, t,
         list_concat(list_concat([0], list_filter(b, x -> x < n)), [n]) AS c
         FROM h),
       ex AS (SELECT doc_id,
         unnest(list_transform(generate_series(1, len(c) - 1),
           j -> struct_pack(idx := j, ch := substr(t, c[j] + 1, c[j+1] - c[j])))) AS u
         FROM cuts),
       flat AS (SELECT doc_id, u.idx AS idx, u.ch AS ch FROM ex),
       flags AS (SELECT doc_id,
         row_number() OVER (PARTITION BY ch ORDER BY doc_id, idx) AS rn
         FROM flat),
       perdoc AS (SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM flags GROUP BY 1)
       SELECT d.doc_id,
         coalesce(p.n_chunks, 0) AS n_chunks,
         coalesce(p.n_kept, 0) AS n_kept,
         coalesce(p.n_chunks, 0) - coalesce(p.n_kept, 0) AS n_dup
       FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id"""

  // --- Candidate→exact-verify (LSH + edit distance) -------------------

  /** Two-stage near-dup pairs — the production record-linkage shape:
    * banded MinHash-LSH PROPOSES candidates (minJ = 0: every band
    * collision), char-level Levenshtein on the raw text CONFIRMS. LSH
    * alone mistakes bag-of-shingles overlap for textual closeness; edit
    * distance is the order-sensitive ground truth but is quadratic per
    * pair — so it runs on candidates only, never all pairs (Gravano et
    * al., VLDB 2001: approximate string joins = cheap filter + exact
    * verify). A pair survives when dist ≤ relPct% of the LONGER text —
    * cross-multiplied integers, no fp threshold. Both engines compute
    * classic Levenshtein over an all-ASCII corpus: exact agreement.
    *
    * Scale shape: candidate generation is [[lshCandidateIds]]' ids-only
    * band join (the Jaccard verify would be pure waste here — edit
    * distance IS the verifier); texts are fetched per SIDE by id
    * equi-joins (each text moves once). The verify itself is banded:
    * the per-pair acceptance bound `dist ≤ ⌊maxLen·relPct/100⌋` is
    * passed to Levenshtein as its THRESHOLD, so each pair costs
    * O(minLen·bound) cells with early exit instead of the full
    * O(m·n) table — any pair the bound would reject is rejected
    * without finishing the table (Spark's threshold form returns -1).
    * A |lenA−lenB| > bound prefilter rejects for free what the DP
    * cannot accept (edit distance ≥ length difference). */
  def editDistVerify(spark: SparkSession, dir: String, k: Int = 8, r: Int = 2,
                     relPct: Int = 25): DataFrame = {
    val cands = lshCandidateIds(spark, dir, k, r)
    val t = Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    cands
      .join(t.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(t.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      // integer bound: dist*100 <= maxLen*relPct  <=>  dist <= floor(maxLen*relPct/100)
      .withColumn("__bound", (greatest(length(col("a_text")), length(col("b_text")))
        * lit(relPct)).divide(lit(100)).cast("int"))
      .filter(abs(length(col("a_text")) - length(col("b_text"))) <= col("__bound"))
      .withColumn("dist", expr("levenshtein(a_text, b_text, __bound)"))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist").cast(LongType).as("dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  def editDistVerifySql(k: Int = 8, r: Int = 2, relPct: Int = 25): String =
    s"""WITH pairs AS (${lshPairsSql(k, r, minJ = 0.0)})
        SELECT p.a_id, p.b_id,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        FROM pairs p
        JOIN documents a ON a.doc_id = p.a_id
        JOIN documents b ON b.doc_id = p.b_id
        WHERE levenshtein(a.text, b.text) * 100 <=
              greatest(length(a.text), length(b.text)) * $relPct"""

  // --- Span masking (dedup by removal, not by dropping docs) ----------

  /** SPAN-MASK dedup — remove the duplicated SUBSTRINGS, keep the
    * documents (Lee et al. 2022's remediation: dropping whole docs for
    * one boilerplate paragraph wastes the unique remainder). Contract:
    * a w-word window is duplicated when its text occurs ≥ 2 times
    * corpus-wide; the FIRST occurrence in (doc_id, pos) order is the
    * keeper; every token covered by at least one NON-keeper duplicated
    * window is masked out. Output per document: token counts and the
    * surviving text (tokens joined by ' ' in original order).
    *
    * Scale shape: one span-keyed shuffle ranks occurrences (the same
    * shuffle [[spanDedup]] pays; at 100 TB the span key would be a
    * 64-bit hash — text keys here keep the oracle exact); covered
    * indices are the rare hits only; the rebuild is one doc_id-keyed
    * aggregation over the corpus's token stream — never quadratic, no
    * driver-side text. */
  def spanMask(spark: SparkSession, dir: String, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.loadWide(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.words(col("text")).as("words0"))
      .select(col("doc_id"), expr("filter(words0, x -> x <> '')").as("words"))
    val nonKeeper = spanTablePos(docs, w)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("span")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") > 1)
    val covered = nonKeeper
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("idx"))
      .distinct()
    val tokenRows = toks
      .select(col("doc_id"), posexplode(col("words")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("idx"), col("tok"))
    val kept = tokenRows.join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(idx, tok))), s -> s.tok)"),
          " ").as("masked_text"))
    toks.select(col("doc_id"), size(col("words")).cast(LongType).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_masked"),
        coalesce(col("masked_text"), lit("")).as("masked_text"))
      .orderBy(col("doc_id"))
  }

  def spanMaskSql(w: Int = 5): String =
    s"""WITH d AS (SELECT doc_id,
          list_filter(${graft.functions.TextFunctions.wordsSql("text")}, x -> x <> '') AS words
        FROM documents),
        sp AS (SELECT doc_id, i AS pos, array_to_string(words[i:i+${w - 1}], ' ') AS span
               FROM d, unnest(generate_series(1, len(words) - ${w - 1})) AS t(i)
               WHERE len(words) >= $w),
        nk AS (SELECT doc_id, pos FROM (
                 SELECT doc_id, pos,
                        row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
                 FROM sp) r WHERE rn > 1),
        cov AS (SELECT DISTINCT doc_id, idx
                FROM nk, unnest(generate_series(pos, pos + ${w - 1})) AS t(idx)),
        tok AS (SELECT doc_id, i AS idx, words[i] AS tk
                FROM d, unnest(generate_series(1, len(words))) AS t(i)),
        kept AS (SELECT t.doc_id, t.idx, t.tk
                 FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
                 WHERE c.idx IS NULL),
        perdoc AS (SELECT doc_id, count(*) AS n_kept,
                          string_agg(tk, ' ' ORDER BY idx) AS masked_text
                   FROM kept GROUP BY 1)
        SELECT d.doc_id, CAST(len(d.words) AS BIGINT) AS n_tokens,
               CAST(len(d.words) AS BIGINT) - coalesce(p.n_kept, 0) AS n_masked,
               coalesce(p.masked_text, '') AS masked_text
        FROM d LEFT JOIN perdoc p ON d.doc_id = p.doc_id"""
}
