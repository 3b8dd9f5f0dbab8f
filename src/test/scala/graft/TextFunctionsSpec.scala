package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any =
    Seq(text).toDF("t").select(c(col("t"))).collect()(0).get(0)

  /** Seeded pseudo-random strings over a mixed alphabet (printable +
    * whitespace + unicode) for property-style checks without a
    * property-testing dependency. */
  private def randomStrings(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc XYZ123.,-():!@#$%^&*\t\né世"
    (0 until n).map(_ => (0 until rnd.nextInt(40)).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("cleanText collapses whitespace and strips charset (P1)") {
    assert(one("hello,   world (x) - y.", cleanText) == "hello, world (x) - y.")
    assert(one("a\t\tb!!@#c", cleanText) == "a bc")
  }

  test("cleanText matches a reference-faithful reimplementation (property)") {
    // reference clean_text (utils.py:162-178): collapse whitespace THEN
    // strip charset THEN trim. Deliberately NOT idempotent: stripping a
    // char between two spaces recreates a double space — we preserve the
    // reference's semantics, quirk included.
    def ref(s: String): String =
      s.replaceAll("\\s+", " ").replaceAll("[^\\w\\s.,\\-():]", "").trim
    val inputs = randomStrings(60)
    val got = inputs.toDF("t").select(cleanText(col("t")).as("c")).as[String].collect()
    assert(got.toSeq == inputs.map(ref))
  }

  test("classify: keyword scorer picks the right label, ties first-wins") {
    assert(one("INVOICE: amount due on receipt of this bill to you", classify) == "invoice")
    assert(one("this agreement between the parties hereby", classify) == "contract")
    assert(one("nothing to see here", classify) == "other")
    // one 'invoice' hit and one 'report' hit -> earliest label wins
    assert(one("invoice findings", classify) == "invoice")
  }

  // The regex forms the native cleanText / classify kernels replaced,
  // kept verbatim as the reference the kernels are pinned to.
  private def regexCleanText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(c, "\\s+", " "), "[^\\w\\s.,\\-():]", ""))
  private def regexLabelCounts(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val in = lower(substring(c, 1, 500))
    array(labels.map(l => hitCount(in, l._2)): _*)
  }
  /** First-label-wins argmax over the regex counts; no hit -> "other".
    * A NULL text counts NULL for every label, which is no hit: the
    * regex form and the oracle's CASE both answer "other". */
  private def regexClassify(counts: Seq[Any]): String = {
    val cs = counts.map(c => if (c == null) 0 else c.asInstanceOf[Int])
    if (cs.max <= 0) "other" else labels(cs.indexOf(cs.max))._1
  }

  /** Runs kernel and regex forms side by side in one Spark projection. */
  private def assertKernelsMatchRegex(inputs: Seq[String]): Unit = {
    val rows = inputs.map(Option(_)).toDF("t").select(
      col("t"), cleanText(col("t")).as("k_clean"), regexCleanText(col("t")).as("r_clean"),
      classify(col("t")).as("k_class"), regexLabelCounts(col("t")).as("r_counts"))
      .collect()
    assert(rows.length == inputs.length)
    for (r <- rows) {
      val in = Option(r.getString(0)).map(_.flatMap(ch =>
        if (ch < ' ' || ch > '~') f"\\u${ch.toInt}%04X" else ch.toString))
      assert(r.get(1) == r.get(2), s"cleanText on $in")
      assert(r.getString(3) == regexClassify(r.getSeq[Any](4)), s"classify on $in")
    }
  }

  test("native cleanText and classify equal their regex forms on edge inputs") {
    val javaSpaces = " \t\n\u000B\f\r"
    val pad = "x" * 492
    assertKernelsMatchRegex(Seq(
      null, "", " ", "   ", javaSpaces, javaSpaces * 3,
      s"${javaSpaces}a${javaSpaces}b$javaSpaces",
      "a\u000Bb\fc\rd\ne\tf", "\u000B\u000B x \f\f",
      // non-ASCII whitespace is not Java's \s: dropped, and it splits runs
      "a\u00A0b", "\u2003x\u3000y\u2028z\u0085w", "a \u00A0 b", " \u00e9 x \u00e9 ",
      // supplementary code points (letters among them) are dropped whole
      "a\uD83D\uDE00b", "\uD835\uDC00bc \uD83D\uDE00 d",
      "keep .,-():_ drop !@#$%^&*[]{}/\\'\"<>?|~`+=;",
      // upper-case keywords, and lowercasings that leave or reach ASCII
      "INVOICE Amount Due", "TERMS AND CONDITIONS", "\u0130NVOICE", "S\u212AILLS",
      // overlapping alternatives: leftmost, first alternative, no overlap
      "parties party partyparties", "information form informal", "subtotal due",
      "amount due bill to", "total duetotal due", "report invoice",
      "receipt receipt invoice", "course course transcript form",
      "i am writingi am writing position", "gradegpa semester dear hiring",
      // a keyword straddling the 500-char cut, one ending on it, one
      // just inside (the trailing "report" is always past the cut)
      "x" * 496 + " invoice report", pad + "x invoice report",
      pad + " invoice report", pad.drop(1) + " invoice report",
      // multibyte characters before the cut: the prefix counts characters
      "\u00e9" * 300 + "x" * 190 + " invoice", "\u4e16" * 495 + " form",
      "\uD83D\uDE00" * 490 + " form", "\uD83D\uDE00" * 496 + " form"))
  }

  test("native cleanText and classify equal their regex forms (property)") {
    val alts = labels.flatMap(l => graft.plans.KeywordClassify.alternatives(l._2))
    val alphabet = alts ++ alts.map(_.toUpperCase) ++ Seq("inv", "part", "ies",
      "in", "ation", "sub", "total", "x", "_", ".", ",", "-", "(", ")", ":", "!",
      "@", " ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0", "\u00e9",
      "\u4e16", "\uD83D\uDE00", "\u0130", "42")
    val rnd = new scala.util.Random(11)
    val inputs = (0 until 300).map(_ =>
      (0 until rnd.nextInt(160)).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString(if (rnd.nextBoolean()) " " else ""))
    assert(inputs.count(_.length > 500) >= 30, "the property must cross the 500-char cut")
    assertKernelsMatchRegex(inputs ++ randomStrings(100))
  }

  test("keyword table: alternatives come from TextFunctions.labels, lowercase ASCII only") {
    import graft.plans.KeywordClassify.alternatives
    assert(alternatives(labels.head._2) ==
      Seq("invoice", "amount due", "bill to", "subtotal", "total due"))
    for (bad <- Seq("(Invoice|bill)", "(a.b)", "(ab|)", "invoice", "(caf\u00e9)"))
      assertThrows[IllegalArgumentException](alternatives(bad))
  }

  test("langId: stopword heuristic") {
    assert(one("the cat is on the mat and it is flat", langId) == "en")
    assert(one("你好世界", langId) == "zh")
    assert(one("zzz qqq", langId) == "und")
    // first-wins tie: one en hit ("the") vs one fr hit ("le")
    assert(one("the le", langId) == "en")
    // "un" counts for BOTH fr and es (shared stopword, like both regexes)
    assert(one("un un la", langId) == "fr")
    assert(one("un un los", langId) == "es")
  }

  test("langId native scan matches the regex-count reference (property)") {
    // the pre-round-12 implementation: five regexp_extract_all counts
    // over lower(s) + first-wins argmax — re-run here verbatim via
    // java.util.regex as the ground truth for the single-pass kernel
    def ref(s: String): String = {
      val in = s.toLowerCase
      val scores = langStopwords.map { case (_, p) =>
        val m = java.util.regex.Pattern.compile(p).matcher(in)
        var c = 0; while (m.find()) c += 1; c
      }
      val best = scores.max
      if (best <= 0) "und"
      else langStopwords(scores.indexOf(best))._1
    }
    // word-salad + boundary torture: underscores glue runs, digits are
    // word chars, CJK mixes into latin, accents break runs on BOTH sides
    val alphabet = Seq("the", "le", "el", "der", "un", "une", "a", "y",
      "of", "es", "los", "世", "界", "été", "the_", "_the", "9the",
      "the9", "un-", ",", ".", "-", "_", "  ", "\t", "\n", "THE", "Le",
      "athe", "thea", "x", "", "了")
    val rnd = new scala.util.Random(7)
    val inputs = (0 until 400).map(_ =>
      (0 until rnd.nextInt(12)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString(
        if (rnd.nextBoolean()) " " else ""))
    for (s <- inputs) {
      val got = graft.plans.LangId.eval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s.toLowerCase)).toString
      assert(got == ref(s), s"input: <$s>")
    }
  }

  test("field extractors implement the prompt normalization rules (E1)") {
    val t = "Pay 123.45 to bob@x.co by 2024-01-31, call 555-123-4567"
    assert(one(t, extractAmount) == 123.45)
    assert(one(t, extractEmail) == "bob@x.co")
    assert(one(t, extractDate).toString == "2024-01-31")
    assert(one(t, extractPhone) == "+555-123-4567") // + prefixed per rule
    assert(one("call +1 555 0000", extractPhone) == "+1 555 0000") // already prefixed
  }

  test("validators: present-and-malformed only (X1)") {
    assert(one("x", _ => validEmail(lit(null).cast("string"))) == true)
    assert(one("x", _ => validEmail(lit("bad@@"))) == false)
    assert(one("x", _ => validEmail(lit("a@b.c"))) == true)
    assert(one("x", _ => validAmount(lit(-1.0))) == false)
  }

  test("tokenCount and fingerprint: empty-string edge") {
    assert(one("", tokenCount) == 0)
    assert(one("a b  c", tokenCount) == 3)
    assert(one("", fingerprint) == 0L)
    // polynomial hash: "ab" = (0*31+97)*31+98 mod 1e9+7
    assert(one("ab", fingerprint) == (97L * 31 + 98) % 1000000007L)
  }

  test("scrubPii redacts what the E1 extractors can find, leaves clean text alone") {
    val s = one("pay 12.50 to bob.smith+x@corp.example.org or call +1 (415) 555-0133 now",
      scrubPii).asInstanceOf[String]
    assert(s == "pay 12.50 to [EMAIL] or call [PHONE] now")
    assert(one("no pii here, just words.", scrubPii) == "no pii here, just words.")
    // a date is digits+hyphens — it must come out as [DATE], never
    // mislabeled [PHONE] (the extractPhone date-blanking rationale)
    assert(one("report dated 2024-01-31 follows", scrubPii) ==
      "report dated [DATE] follows")
    // the scrubbed text yields nothing to the extractors
    val clean = Seq(s).toDF("t")
      .select(extractEmail(col("t")).as("e"), extractPhone(col("t")).as("p"))
      .collect()(0)
    assert(clean.isNullAt(0) && clean.isNullAt(1))
  }

  test("quality score bounded [0,1] (property)") {
    val qs = randomStrings(60).toDF("t")
      .select(qualityScore(col("t")).as("q")).as[Double].collect()
    assert(qs.forall(q => q >= 0.0 && q <= 1.0 + 1e-9))
  }

  test("nfcNormalize: composes decomposed accents, idempotent, identity on ASCII, null-safe") {
    import graft.functions.NativeFunctions.nfcNormalize
    val rows = Seq(
      ("e\u0301 cafe\u0301", "\u00e9 caf\u00e9"), // decomposed -> composed
      ("\u00e9 already", "\u00e9 already"),     // composed unchanged
      ("plain ascii", "plain ascii"),
      ("", ""))
    val out = rows.map(_._1).toDF("t")
      .select(nfcNormalize(col("t")).as("s")).as[String].collect()
    assert(out.toSeq == rows.map(_._2))
    // idempotence: normalizing the output is a no-op
    val twice = rows.map(_._2).toDF("t")
      .select(nfcNormalize(nfcNormalize(col("t"))).as("s")).as[String].collect()
    assert(twice.toSeq == rows.map(_._2))
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(nfcNormalize(col("t")).as("s")).collect()
    assert(nulls(0).isNullAt(0))
  }
}
