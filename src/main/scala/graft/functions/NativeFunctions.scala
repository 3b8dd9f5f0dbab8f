package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import graft.plans.{CharTrigrams, CleanTextExpr, CmsAgg, CodesCosine, CodesDot, CosineSimilarity, KeywordClassifyExpr, KmvMins, LangIdExpr, NfcNormalize, PolyHash, QuantileSketch, SortedIntersectCountLong, Sq8Encode, TopFreq, TopKByScore}

/** Column builders for graft's native Catalyst expressions — usable on
  * any session (no FunctionRegistry dependency; the SQL names
  * `poly_hash` / `cosine_sim` are additionally registered via
  * GraftExtensions for the SQL surface). */
object NativeFunctions {
  def polyHash(c: Column): Column =
    Bridge.column(PolyHash(Bridge.expression(c)))
  /** Single-pass stopword/CJK language ID over LOWERCASED text. */
  def langId(c: Column): Column =
    Bridge.column(LangIdExpr(Bridge.expression(c)))
  /** One-pass P1 clean_text (whitespace collapse, charset strip, trim). */
  def cleanText(c: Column): Column =
    Bridge.column(CleanTextExpr(Bridge.expression(c)))
  /** One-pass C1 keyword classifier over the LOWERCASED 500-char prefix. */
  def keywordClassify(c: Column): Column =
    Bridge.column(KeywordClassifyExpr(Bridge.expression(c)))
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))
  /** KMV sketch aggregate: k smallest distinct longs, sorted. */
  def kmvMins(c: Column, k: Int): Column =
    Bridge.column(KmvMins(Bridge.expression(c), k).toAggregateExpression())
  /** Heap top-k aggregate: best k (score, id) pairs, (score DESC, id ASC). */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKByScore(Bridge.expression(score), Bridge.expression(id), k)
      .toAggregateExpression())
  /** Misra-Gries frequent-items summary: <= cap (item, cnt) counters,
    * ordered (cnt DESC, item ASC); exact while distinct items <= cap. */
  def topFreq(item: Column, cap: Int): Column =
    Bridge.column(TopFreq(Bridge.expression(item), cap).toAggregateExpression())
  /** All char-trigram slots (non-distinct, code-point windows), one pass. */
  def charTrigrams(c: Column): Column =
    Bridge.column(CharTrigrams(Bridge.expression(c)))
  /** Unicode canonical composition (NFC), codegen'd; pass-through fast
    * path for already-normalized text. */
  def nfcNormalize(c: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(c)))
  /** KLL-style quantile sketch aggregate over longs: lower-quantile
    * values at `probs`, exact while the group fits in k. */
  def quantileSketch(c: Column, k: Int, probs: Seq[Double]): Column =
    Bridge.column(QuantileSketch(Bridge.expression(c), k, probs).toAggregateExpression())
  /** Count-Min sketch aggregate: depth×width counter matrix over bigint
    * keys, flattened row-major. Probe with [[graft.operators.Sketches
    * .cmsEstimate]] (min over rows — never an under-count). */
  def cmsAgg(c: Column, depth: Int, width: Int): Column =
    Bridge.column(CmsAgg(Bridge.expression(c), depth, width).toAggregateExpression())
  /** SQ8 codes: clamp(floor(x·64)+64, 0, 127) per dim — exact
    * power-of-two scale, bit-reproducible cross-engine. */
  def sq8Encode(c: Column): Column =
    Bridge.column(Sq8Encode(Bridge.expression(c)))
  /** Integer dot of two code arrays (SQ8 symmetric score), exact long. */
  def codesDot(a: Column, b: Column): Column =
    Bridge.column(CodesDot(Bridge.expression(a), Bridge.expression(b)))
  /** |A ∩ B| of two SORTED distinct bigint arrays — allocation-free
    * two-pointer count (the long twin of sorted_intersect_count). */
  def sortedIntersectCountLong(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCountLong(Bridge.expression(a), Bridge.expression(b)))
  /** Cosine over centered SQ8 codes: exact integer sums + one sqrt each
    * side — bit-identical cross-engine. */
  def codesCosine(a: Column, b: Column, center: Int): Column =
    Bridge.column(CodesCosine(Bridge.expression(a), Bridge.expression(b), center))
}
