package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass P1 clean_text: the result of
  * `trim(regexp_replace(regexp_replace(s, '\s+', ' '), '[^\w\s.,\-():]', ''))`
  * under java.util.regex semantics, in one scan of the UTF-8 bytes
  * instead of two regex passes plus a trim.
  *
  * Equivalence to the regex form: Java's `\s` (no
  * UNICODE_CHARACTER_CLASS) is exactly the six ASCII characters
  * [ \t\n\x0B\f\r] and `\w` is [A-Za-z0-9_], so every character that
  * survives is ASCII and every non-ASCII code point (NBSP, ideographs,
  * supplementary code points) is dropped whole. In UTF-8 an ASCII
  * byte is always an ASCII character and every byte of a multibyte
  * sequence is >= 0x80, so a byte scan sees the same characters the
  * regexes see. The collapse runs BEFORE the strip in the regex form,
  * so a dropped character still separates two whitespace runs
  * ("a é b" -> "a  b"): a run is consecutive whitespace in the
  * INPUT. `trim` strips spaces only; after the collapse every
  * whitespace character is a space, so trimming is dropping leading
  * and trailing spaces of the output.
  */
case class CleanTextExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"clean_text expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    CleanText.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CleanText.eval($c)")

  override def prettyName: String = "clean_text"
  override protected def withNewChildInternal(newChild: Expression): CleanTextExpr =
    copy(child = newChild)
}

object CleanText {

  private val isSpace: Array[Boolean] = Array.tabulate(128)(c => " \t\n\u000B\f\r".indexOf(c) >= 0)
  private val keep: Array[Boolean] = Array.tabulate(128)(c =>
    Character.isLetterOrDigit(c) || "_.,-():".indexOf(c) >= 0)

  def eval(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n)
    var len = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 0 && isSpace(b)) {
        // one space per input run; none before the first kept character
        if (!inRun && len > 0) { out(len) = ' '; len += 1 }
        inRun = true
      } else {
        inRun = false
        if (b >= 0 && keep(b)) { out(len) = b; len += 1 }
      }
      i += 1
    }
    while (len > 0 && out(len - 1) == ' ') len -= 1
    UTF8String.fromBytes(out, 0, len)
  }
}

/** Native one-pass C1 keyword classifier over the LOWERCASED 500-char
  * prefix (the caller passes `lower(substring(s, 1, 500))`): for each
  * label, the number of matches `regexp_extract_all(prefix, pattern)`
  * would return, then argmax with first-label-wins ties and "other"
  * when no label hits. NULL in, NULL out: the caller maps NULL to the
  * fallback (a NULL text hits no label in the regex form).
  *
  * Replaces eight alternation scans with one byte scan. Equivalence to
  * the regex counts: java.util.regex `find()` takes the leftmost
  * position where some alternative matches, there the FIRST
  * alternative in pattern order that matches, and resumes after the
  * match (no overlap). The scan keeps one resume position per label
  * and, at each byte, tries that label's alternatives in pattern order
  * only once the label's resume position is reached — the eight
  * independent scans, interleaved. Every alternative is lowercase
  * ASCII letters and spaces (checked when the table is built), and in
  * UTF-8 such bytes occur only as those characters, so byte positions
  * find exactly the matches character positions do.
  *
  * The keyword table is derived from [[graft.functions.TextFunctions
  * .labels]], the single source of truth that the oracle's
  * `classifySql` also reads.
  */
case class KeywordClassifyExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"keyword_classify expects string, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    KeywordClassify.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KeywordClassify.eval($c)")

  override def prettyName: String = "keyword_classify"
  override protected def withNewChildInternal(newChild: Expression): KeywordClassifyExpr =
    copy(child = newChild)
}

object KeywordClassify {

  val Fallback = "other"

  /** The alternatives of one `(a|b|...)` label pattern, in order. */
  def alternatives(pattern: String): Seq[String] = {
    require(pattern.startsWith("(") && pattern.endsWith(")"),
      s"label pattern must be one parenthesized alternation: $pattern")
    val alts = pattern.substring(1, pattern.length - 1).split("\\|", -1).toSeq
    alts.foreach(a => require(a.nonEmpty && a.forall(c => (c >= 'a' && c <= 'z') || c == ' '),
      s"alternative '$a' of $pattern must be lowercase ASCII letters and spaces"))
    alts
  }

  private val labels = graft.functions.TextFunctions.labels
  private val names: Array[UTF8String] =
    (labels.map(_._1) :+ Fallback).map(UTF8String.fromString).toArray

  // every alternative, in (label, pattern) order, bucketed by first byte
  private val (altLabel, altBytes): (Array[Int], Array[Array[Byte]]) = {
    val all = for ((l, li) <- labels.zipWithIndex; a <- alternatives(l._2))
      yield (li, a.getBytes("US-ASCII"))
    (all.map(_._1).toArray, all.map(_._2).toArray)
  }
  private val byFirstByte: Array[Array[Int]] = Array.tabulate(128)(b =>
    altBytes.indices.filter(a => altBytes(a)(0) == b).toArray)

  def eval(in: UTF8String): UTF8String = {
    val base = in.getBaseObject
    val off = in.getBaseOffset
    val n = in.numBytes
    val counts = new Array[Int](labels.length)
    val resume = new Array[Int](labels.length)
    var p = 0
    while (p < n) {
      val b = Platform.getByte(base, off + p)
      if (b >= 0) {
        val cands = byFirstByte(b)
        var k = 0
        while (k < cands.length) {
          val a = cands(k)
          val l = altLabel(a)
          if (resume(l) <= p) {
            val pat = altBytes(a)
            if (p + pat.length <= n) {
              var j = 1
              while (j < pat.length && Platform.getByte(base, off + p + j) == pat(j)) j += 1
              if (j == pat.length) { counts(l) += 1; resume(l) = p + pat.length }
            }
          }
          k += 1
        }
      }
      p += 1
    }
    var best = names.length - 1
    var bestC = 0
    var l = 0
    while (l < counts.length) {
      if (counts(l) > bestC) { best = l; bestC = counts(l) }
      l += 1
    }
    names(best)
  }
}
