package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar text operators (SURVEY §2.2, §2.3, §2.12 + north-star text
  * analysis).
  *
  * Every operator here exposes BOTH a Column builder (the engine) and a
  * DuckDB SQL fragment builder (the oracle). Keeping the two side by side
  * is what makes the whole surface oracle-checkable: the SQL is the spec,
  * the Column is the implementation, and the driver's DuckDB compare pins
  * them together. Every Column form is codegen'd — no UDFs, no
  * higher-order functions — so it stays inside WholeStageCodegen at
  * scale. Most are built-in expressions; four are graft.plans kernels
  * that do in one scan what their SQL twins do with regexes:
  * [[cleanText]] (CleanTextExpr), [[classify]] (KeywordClassifyExpr),
  * [[langId]] (LangIdExpr) and [[fingerprint]] (PolyHash).
  */
object TextFunctions {

  // --- P1 clean_text (reference: /root/reference/src/utils.py:162-178) ---
  // collapse whitespace runs -> single space; strip chars outside
  // [\w\s.,\-():]; trim. Engine side: one native byte scan
  // (graft.plans.CleanTextExpr), equal to the SQL twin's two regexes
  // under Java regex semantics (see the kernel's doc).
  def cleanText(c: Column): Column = NativeFunctions.cleanText(c)
  def cleanTextSql(c: String): String =
    s"trim(regexp_replace(regexp_replace($c, '\\s+', ' ', 'g'), '[^\\w\\s.,\\-():]', '', 'g'))"

  // --- token count: whitespace tokenization (north star: text analysis) ---
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))
  def tokenCountSql(c: String): String =
    s"CASE WHEN length(trim($c)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim($c), '\\s+')) END"

  // --- subword tokenization: BPE-ish regex segmentation (north star:
  //     token counting for training-data pipelines). Splits into
  //     letter-runs, digit-runs, and single punctuation marks — the
  //     pre-tokenization pass of a byte-pair encoder. ---
  val subwordPat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit(subwordPat), lit(0)))
  def subwordCountSql(c: String): String =
    s"len(regexp_extract_all($c, '$subwordPat'))"

  // --- document fingerprint: order-sensitive polynomial rolling hash over
  //     characters, mod 1e9+7. Stand-in for the reference's content hashes
  //     (src/app.py:142 uses python hash()); ours is engine-independent and
  //     reproducible anywhere. ---
  def fingerprint(c: Column): Column = NativeFunctions.polyHash(c)
  def fingerprintSql(c: String): String =
    s"CASE WHEN length($c) = 0 THEN 0 ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"generate_series(1, length($c))), (acc, i) -> (acc * 31 + ascii(substr($c, i, 1))) % 1000000007) END"

  /** Count of regex hits — the scoring primitive of qualityScore. */
  def hitCount(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0)))

  private def argmaxLabelSql(scored: Seq[(String, String)], fallback: String): String = {
    // first-wins ties: label X wins iff score>0 and >= all later scores
    val branches = scored.zipWithIndex.map { case ((name, s), i) =>
      val later = scored.drop(i + 1).map(_._2)
      val geLater = if (later.isEmpty) "TRUE"
        else s"$s >= greatest(${later.mkString(", ")})"
      s"WHEN $s > 0 AND $geLater THEN '$name'"
    }
    s"CASE ${branches.mkString(" ")} ELSE '$fallback' END"
  }

  // --- C1 classifier (reference: src/utils.py:5-33): 9-label keyword
  //     scorer over the first 500 chars (truncation per src/utils.py:28).
  //     Deterministic core; an LLM backend can plug in behind the same
  //     Column->Column interface (SURVEY §2.11). These patterns are THE
  //     keyword table: the oracle counts them with regexes, and
  //     graft.plans.KeywordClassify builds its scan table from them. ---
  val labels: Seq[(String, String)] = Seq(
    "invoice" -> "(invoice|amount due|bill to|subtotal|total due)",
    "contract" -> "(agreement|party|parties|hereby|terms and conditions|witnesseth)",
    "receipt" -> "(receipt|cash tendered|change due|cashier|thank you for shopping)",
    "form" -> "(checkbox|applicant|please fill|signature line|form)",
    "report" -> "(report|summary|findings|analysis|conclusion)",
    "transcript" -> "(transcript|grade|course|semester|gpa)",
    "cover letter" -> "(dear hiring|position|i am writing|sincerely yours)",
    "resume" -> "(experience|education|skills|employment history|objective)")

  /** Engine side: ONE native scan (graft.plans.KeywordClassifyExpr)
    * over the lowered prefix instead of eight regexp_extract_all
    * passes — same counts, same first-label-wins argmax. A NULL text
    * hits no label, so it is "other", as in the SQL twin. */
  def classify(c: Column): Column =
    coalesce(NativeFunctions.keywordClassify(lower(substring(c, 1, 500))),
      lit(graft.plans.KeywordClassify.Fallback))
  def classifySql(c: String): String = {
    val in = s"lower(substr($c, 1, 500))"
    argmaxLabelSql(
      labels.map { case (n, p) => n -> s"len(regexp_extract_all($in, '$p'))" },
      "other")
  }

  // --- language ID: stopword-hit heuristic + CJK script detection (north
  //     star). Order en,fr,es,de,zh; first-wins ties; no hits -> 'und'.
  //     Word lists live in graft.plans.LangId (the native kernel); the
  //     regex patterns here are DERIVED from them so the engine's
  //     single-pass scan and the oracle's regex counts can't desync. ---
  val langStopwords: Seq[(String, String)] =
    graft.plans.LangId.langWords.map { case (n, ws) =>
      n -> s"\\b(${ws.mkString("|")})\\b"
    } :+ ("zh" -> "[\\x{4e00}-\\x{9fff}]")

  /** Engine side: ONE native codegen'd scan (graft.plans.LangIdExpr)
    * instead of five regexp_extract_all passes — same result by the
    * word-run equivalence argued in the expression's doc. */
  def langId(c: Column): Column = NativeFunctions.langId(lower(c))
  def langIdSql(c: String): String = {
    val in = s"lower($c)"
    argmaxLabelSql(
      langStopwords.map { case (n, p) => n -> s"len(regexp_extract_all($in, '$p'))" },
      "und")
  }

  // --- quality score: bounded composite of length / stopword-density /
  //     alpha-ratio (north star: quality scoring for training-data
  //     pipelines). Identical double arithmetic on both sides. ---
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast(DoubleType)
    val lenScore = least(lit(1.0), nTok / lit(50.0))
    val stops = hitCount(lower(c), langStopwords.head._2).cast(DoubleType)
    val stopScore = least(lit(1.0), (stops / greatest(nTok, lit(1.0))) * lit(5.0))
    val alphaRatio = when(length(c) === 0, lit(0.0)).otherwise(
      length(regexp_replace(c, "[^A-Za-z ]", "")).cast(DoubleType) /
        length(c).cast(DoubleType))
    lenScore * lit(0.5) + stopScore * lit(0.25) + alphaRatio * lit(0.25)
  }
  def qualityScoreSql(c: String): String = {
    val nTok = s"CAST(${tokenCountSql(c)} AS DOUBLE)"
    val lenScore = s"least(1.0, $nTok / 50.0)"
    val stops = s"CAST(len(regexp_extract_all(lower($c), '${langStopwords.head._2}')) AS DOUBLE)"
    val stopScore = s"least(1.0, ($stops / greatest($nTok, 1.0)) * 5.0)"
    val alphaRatio = s"CASE WHEN length($c) = 0 THEN 0.0 ELSE " +
      s"CAST(length(regexp_replace($c, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / CAST(length($c) AS DOUBLE) END"
    s"(($lenScore) * 0.5 + ($stopScore) * 0.25 + ($alphaRatio) * 0.25)"
  }

  // --- E1 field extractors (reference: src/agents.py:159-206 + prompt
  //     rules src/utils.py:57-89). Deterministic regex cores implementing
  //     the prompt's normalization rules (dates->YYYY-MM-DD,
  //     amounts->numeric, phones +-prefixed). Each extractor is a raw
  //     first-group match (`...Match`, "" when absent) finished by a
  //     cheap normalization that reads the match more than once
  //     (`matched`, `amountOf`, `dateOf`, `phoneOf`); DocPipeline
  //     projects the raw matches on their own so each regex runs once
  //     per row. ---
  val amountPat = "([0-9]+\\.[0-9][0-9])"
  // First-pass amount: sign-permissive. A captured negative fails X1
  // validation ("negative amount") and the feedback-aware retry pass
  // re-scans with the non-negative `amountPat` — the deterministic
  // analogue of the reference's feedback-driven re-prompt.
  val signedAmountPat = "(-?[0-9]+\\.[0-9][0-9])"
  val emailPat = "([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+)"
  val isoDatePat = "([0-9][0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9])"
  val phonePat = "(\\+?[0-9][0-9 ()-]{6,}[0-9])"
  val firstTokenPat = "^(\\w+)"

  /** No match ("") -> NULL. */
  def matched(m: Column): Column = nullif(m, lit(""))

  def amountMatch(c: Column): Column = regexp_extract(c, amountPat, 1)
  def signedAmountMatch(c: Column): Column = regexp_extract(c, signedAmountPat, 1)
  def amountOf(m: Column): Column = matched(m).cast(DoubleType)

  def extractAmount(c: Column): Column = amountOf(amountMatch(c))
  def extractAmountSql(c: String): String =
    s"CAST(nullif(regexp_extract($c, '$amountPat', 1), '') AS DOUBLE)"

  def extractAmountSignedSql(c: String): String =
    s"CAST(nullif(regexp_extract($c, '$signedAmountPat', 1), '') AS DOUBLE)"

  def emailMatch(c: Column): Column = regexp_extract(c, emailPat, 1)
  def extractEmail(c: Column): Column = matched(emailMatch(c))
  def extractEmailSql(c: String): String =
    s"nullif(regexp_extract($c, '$emailPat', 1), '')"

  def dateMatch(c: Column): Column = regexp_extract(c, isoDatePat, 1)
  def dateOf(m: Column): Column = to_date(matched(m))
  def extractDate(c: Column): Column = dateOf(dateMatch(c))
  def extractDateSql(c: String): String =
    s"CAST(nullif(regexp_extract($c, '$isoDatePat', 1), '') AS DATE)"

  /** Phone normalization per prompt rule src/utils.py:64: ensure leading +.
    * ISO dates are blanked first — `2024-01-31` is digits+hyphens and
    * would otherwise satisfy the phone shape. */
  def phoneMatch(c: Column): Column =
    regexp_extract(regexp_replace(c, isoDatePat, " "), phonePat, 1)
  def phoneOf(m: Column): Column = {
    val raw = matched(m)
    when(raw.isNull, lit(null).cast(StringType))
      .when(raw.startsWith("+"), raw)
      .otherwise(concat(lit("+"), raw))
  }
  def extractPhone(c: Column): Column = phoneOf(phoneMatch(c))
  def extractPhoneSql(c: String): String = {
    val noDates = s"regexp_replace($c, '$isoDatePat', ' ', 'g')"
    val raw = s"nullif(regexp_extract($noDates, '$phonePat', 1), '')"
    s"CASE WHEN $raw IS NULL THEN NULL WHEN $raw LIKE '+%' THEN $raw ELSE '+' || $raw END"
  }

  def firstTokenMatch(c: Column): Column = regexp_extract(c, firstTokenPat, 1)
  def firstToken(c: Column): Column = matched(firstTokenMatch(c))
  def firstTokenSql(c: String): String =
    s"nullif(regexp_extract($c, '$firstTokenPat', 1), '')"

  // --- validation X1 (reference: src/agents.py:209-263, prompt checks
  //     src/utils.py:114-118): format checks over extracted fields.
  //     A field is invalid only when present AND malformed. ---
  def validEmail(c: Column): Column =
    c.isNull || c.rlike("^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$")
  def validEmailSql(c: String): String =
    s"($c IS NULL OR regexp_matches($c, '^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$$'))"

  def validAmount(c: Column): Column =
    c.isNull || (c >= lit(0.0))
  def validAmountSql(c: String): String =
    s"($c IS NULL OR $c >= 0.0)"

  // --- PII scrubbing (north star: redaction before a corpus becomes
  //     training data). Order matters and mirrors extractPhone's
  //     date-blanking rationale: emails first (their digits must not
  //     feed the greedy phone pattern), then ISO dates (a date is
  //     DOB-grade PII, and '2024-01-31' is digits+hyphens — without its
  //     own token the phone pattern would mislabel it [PHONE]), then
  //     phone-shaped digit runs. Same regexes as the E1 extractors, so
  //     what extraction can find, scrubbing provably removes — each
  //     under its own token. ---
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      c, emailPat, "[EMAIL]"), isoDatePat, "[DATE]"), phonePat, "[PHONE]")
  def scrubPiiSql(c: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($c, '$emailPat', '[EMAIL]', 'g'), " +
      s"'$isoDatePat', '[DATE]', 'g'), '$phonePat', '[PHONE]', 'g')"

  // --- the engine's ONE whitespace word tokenizer (lowercased trimmed
  //     \s+ split). A phantom '' element survives for empty input AND
  //     for whitespace-EDGED input (trim strips spaces only, so "\ta b"
  //     splits to ["", "a", "b"]) — every caller must filter '' before
  //     deriving anything (counts, bigrams, spans), identically on both
  //     engines. langTopWords, tfidfKeywords, docRepetition, docChunks
  //     and Dedup.spanTable all tokenize through this pair so engine and
  //     oracle can never desynchronize per-query. ---
  def words(c: Column): Column =
    split(lower(trim(c)), "\\s+")
  def wordsSql(c: String): String =
    s"regexp_split_to_array(lower(trim($c)), '\\s+')"
}
