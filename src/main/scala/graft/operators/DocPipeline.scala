package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.TextFunctions._

/** The reference's 7-agent document ETL pipeline, set-oriented
  * (SURVEY §3.1): parse → clean → classify → schema lookup → extract →
  * validate (bounded retry) → persist → respond.
  *
  * Design stance (SURVEY §7): the unit of work is a DataFrame of N
  * documents, not one document per request. Every stage is a pure
  * `DataFrame => DataFrame`; per-row failure is a nullable `error` column
  * (the reference's short-circuit convention, src/agents.py:87 et al.) —
  * a failed row flows to the sink untouched, it never kills the job.
  *
  * Scale posture: the whole pipeline is narrow (embarrassingly parallel
  * per document) except the schema lookup, which is a broadcast join
  * against a by-construction-tiny schema table. No driver-side per-row
  * work; the retry loop is a bounded (MAX_RETRIES=1, src/agents.py:33)
  * driver-side split-recompute-union over DataFrames.
  */
object DocPipeline {

  val MaxRetries = 1 // reference: src/agents.py:33

  /** Stage guard implementing the reference's error short-circuit
    * (src/agents.py:87,110,165,213,271): apply `op` only where no prior
    * stage failed. */
  def guarded(op: Column, passthrough: Column, error: Column): Column =
    when(error.isNull, op).otherwise(passthrough)

  /** Built-in extraction schema table (SURVEY §1.4): doc_type -> schema
    * JSON + description. Broadcast-tiny by construction (one row per
    * doc_type label), mirroring the Pinecone schema index's role.
    *
    * Field sets are differentiated per doc_type so the J1→E1 dataflow
    * edge carries real information: extraction emits only the fields the
    * RETRIEVED schema asks for (reference builds the extraction prompt
    * from the retrieved schema, src/agents.py:159-206 + src/utils.py:36-89).
    * A doc_type with no schema record falls back to an empty fields map =
    * advisory mode, "extract all recognizable fields" (E6 quirk,
    * src/utils.py:42-47). */
  val fieldDescriptions: Map[String, String] = Map(
    "amount" -> "monetary amount", "email" -> "contact email",
    "date" -> "primary date", "phone" -> "contact phone")
  val schemaFieldSets: Seq[(String, Seq[String])] = Seq(
    "invoice" -> Seq("amount", "date", "email"),
    "contract" -> Seq("date", "email", "phone"),
    "receipt" -> Seq("amount", "date"),
    "form" -> Seq("email", "phone"),
    "report" -> Seq("date"),
    "transcript" -> Seq("date", "email"),
    "cover letter" -> Seq("email"),
    "resume" -> Seq("email", "phone"))

  /** The built-in index rows as pure data (shared with
    * SchemaRetrieval's cascade + oracle). */
  val schemaRows: Seq[(String, String, String)] =
    schemaFieldSets.map { case (dt, fields) =>
      val fieldsJson = fields.sorted
        .map(f => s""""$f":"${fieldDescriptions(f)}"""").mkString(",")
      (dt,
        s"""{"fields":{$fieldsJson},"description":"$dt extraction schema"}""",
        s"Extraction schema for $dt documents")
    }

  /** Doc types whose schema explicitly requests `field` (SQL-side twin of
    * the map_contains_key gate; schema_json is a function of doc_type, so
    * the oracle can gate on doc_type directly). */
  def typesWanting(field: String): Seq[String] =
    schemaFieldSets.collect { case (dt, fs) if fs.contains(field) => dt }

  /** SQL predicate: does this row's schema request `field`? Advisory mode
    * (no schema record for the doc_type -> empty fields map) wants
    * everything. */
  def wantSql(field: String): String = {
    val all = schemaFieldSets.map(_._1).map(t => s"'$t'").mkString(", ")
    val want = typesWanting(field).map(t => s"'$t'").mkString(", ")
    s"(doc_type IS NULL OR doc_type NOT IN ($all) OR doc_type IN ($want))"
  }

  /** The built-in index as literal lookup maps (the degenerate broadcast
    * of an 8-row dimension — see schemaLookup). */
  private val schemaJsonByType: Column =
    map(schemaRows.flatMap { case (dt, js, _) => Seq(lit(dt), lit(js)) }: _*)
  private val schemaDescByType: Column =
    map(schemaRows.flatMap { case (dt, _, d) => Seq(lit(dt), lit(d)) }: _*)

  /** Stage 1-2: ingest + parse. For the parquet corpus the text is already
    * parsed (FIXTURES.md); binary formats route through
    * sources.BinaryIngest. Seeds the envelope columns. */
  def ingest(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(lit("mem://docs/"), col("doc_id"), lit(".txt")).as("file_path"),
      col("text").as("raw_text"),
      // pre-clean text retained for field extraction: the reference
      // cleans before extracting, but P1's charset strips '@' so emails
      // could never survive — normalized per the quirk ledger (SURVEY §7)
      col("text").as("text_orig"),
      lit(null).cast(StringType).as("error"),
      lit(0).as("retry_count"))
      .withColumn("error",
        when(col("raw_text").isNull || length(trim(col("raw_text"))) === 0,
          lit("Parsing produced empty text")).otherwise(col("error")))
      // R2 log envelope (src/app.py:60-95): per-row human-readable
      // stage log, appended by each stage below
      .withColumn("logs", array(
        when(col("error").isNull, lit("parsing: ok"))
          .otherwise(concat(lit("parsing: "), col("error")))))

  /** Append a stage log line (R2), noting skips on errored rows. */
  private def logStage(df: DataFrame, stage: String): DataFrame =
    df.withColumn("logs", array_append(col("logs"),
      when(col("error").isNull, lit(s"$stage: ok"))
        .otherwise(lit(s"$stage: skipped (error)"))))

  /** Stage 3: clean_text (P1). */
  def clean(df: DataFrame): DataFrame =
    logStage(df.withColumn("raw_text",
      guarded(cleanText(col("raw_text")), col("raw_text"), col("error"))), "clean")

  /** Stage 4: classification (C1, deterministic core). */
  def classifyStage(df: DataFrame): DataFrame =
    logStage(df.withColumn("doc_type",
      guarded(classify(col("raw_text")), lit(null).cast(StringType), col("error"))),
      "classification")

  /** Stage 5: schema lookup (J1) — broadcast left join on doc_type
    * (strategy 1), literal fallback schema (strategy 3; the reference's
    * buggy fallback-without-schema is deliberately normalized per SURVEY
    * quirk ledger: ours carries a real empty schema). */
  def schemaLookup(spark: SparkSession, df: DataFrame): DataFrame =
    // r13: the schema "table" is a handful of LITERAL rows, so the
    // broadcast left join degenerates to a literal map lookup — same
    // left-join semantics (try_element_at is NULL on a missing or NULL
    // key, exactly the join miss the coalesce fallbacks catch), no
    // BroadcastExchange build per query, and — the enabling win — no
    // Join node, so the doc-pipeline family's sort-the-base ordering
    // (see runSorted) survives EliminateSorts, which drops any Sort
    // below a Join. Results are byte-identical: DocPipelineSpec's
    // schemaLookup value tests and the unchanged oracle rows pin it.
    df.withColumn("schema_json",
        coalesce(try_element_at(schemaJsonByType, col("doc_type")),
          lit("""{"fields":{},"description":"fallback"}""")))
      .withColumn("schema_description",
        coalesce(try_element_at(schemaDescByType, col("doc_type")),
          concat(lit("Default schema for "), coalesce(col("doc_type"), lit("unknown")), lit(" documents"))))
      // E5 schema unwrap (src/agents.py:170-171) through VariantType
      // (SURVEY §1.2 maps the reference's jsonb to variant): the schema
      // document is parse_json'ed ONCE into the shredded binary
      // encoding, and every downstream field gate (want(), the
      // explicit-amount validation check) reads the fields object out
      // of the variant — the dynamic-JSON posture of the doc pipeline's
      // J1→E1 edge, same access pattern as events_props_variant. The
      // map target type is the bridge: variant_get pulls the `fields`
      // object as the same map from_json produced, so hashes are
      // unchanged while the plan carries variant.
      .withColumn("schema_variant", parse_json(col("schema_json")))
      .withColumn("schema_fields",
        try_variant_get(col("schema_variant"), "$.fields", "map<string,string>"))

  /** Does this row's retrieved schema request `field`? Advisory mode
    * (empty/unparseable fields map — the fallback schema, or E6's
    * degraded prompt path) requests everything. */
  private def want(field: String): Column =
    col("schema_fields").isNull ||
      size(map_keys(col("schema_fields"))) === 0 ||
      map_contains_key(col("schema_fields"), lit(field))

  /** Stage 6: extraction (E1 deterministic core): regex field extractors +
    * prompt normalization rules, GATED by the retrieved schema's fields
    * map (schema-driven extraction: the J1→E1 edge carries the field
    * set, matching the reference's schema-built prompt,
    * src/agents.py:159-206). structured_data = JSON with empty fields
    * suppressed (P7; to_json drops nulls).
    *
    * `feedbackAware=true` is the retry pass (X3): the extractor consumes
    * the failed pass's `prev_feedback` — on "negative amount" it re-scans
    * with the non-negative pattern (the deterministic analogue of
    * re-prompting with validator feedback, src/agents.py:48-59,159-180).
    *
    * The raw regex matches get their own projection and every
    * normalization reads them from there: `nullif` and the phone `+`
    * rule reference their input more than once, and CollapseProject
    * does not inline a non-trivial expression into several references
    * — so each pattern is scanned once per row instead of once per
    * reference. The optimized ingest-to-persist plan held 18
    * regexp_extract before, and holds 6 now: one per pattern, the
    * retry's non-negative amount included (PlanSpec pins it). */
  def extract(df: DataFrame, feedbackAware: Boolean = false): DataFrame = {
    val t = col("text_orig") // fields from pre-clean text (see ingest)
    val c = col("raw_text")  // text stats from the cleaned text
    val amount0 = signedAmountMatch(t)
    val amount =
      if (!feedbackAware) amount0
      else when(array_contains(col("prev_feedback"), "negative amount"),
        amountMatch(t)).otherwise(amount0)
    def gated(field: String, m: Column): Column =
      guarded(when(want(field), m), lit(null).cast(StringType), col("error"))
    df.select(col("*"),
        gated("amount", amount).as("m_amount"),
        gated("email", emailMatch(t)).as("m_email"),
        gated("date", dateMatch(t)).as("m_date"),
        gated("phone", phoneMatch(t)).as("m_phone"),
        guarded(firstTokenMatch(c), lit(null).cast(StringType), col("error")).as("m_first_token"))
      .withColumn("x_amount", amountOf(col("m_amount")))
      .withColumn("x_email", matched(col("m_email")))
      .withColumn("x_date", dateOf(col("m_date")))
      .withColumn("x_phone", phoneOf(col("m_phone")))
      .withColumn("x_first_token", matched(col("m_first_token")))
      .withColumn("x_n_tokens", guarded(tokenCount(c), lit(null).cast(IntegerType), col("error")))
      .withColumn("structured_data", structuredData)
      .drop("m_amount", "m_email", "m_date", "m_phone", "m_first_token")
  }

  /** P7 envelope: extraction output as JSON with empty fields suppressed
    * (to_json drops nulls). Recomputed after the retry pass rewrites
    * x_amount. */
  private def structuredData: Column =
    guarded(
      to_json(struct(
        col("x_amount").as("amount"), col("x_email").as("email"),
        col("x_date").as("date"), col("x_phone").as("phone"),
        col("x_first_token").as("first_token"), col("x_n_tokens").as("n_tokens"))),
      lit(null).cast(StringType), col("error"))

  /** Stage 7: validation (X1 deterministic constraints). A field is
    * invalid when present AND malformed — plus `missing amount` when the
    * schema EXPLICITLY requests an amount and none was extracted
    * (advisory mode requires nothing, so the unschema'd path keeps the
    * reference's lenient semantics).
    *
    * The feedback list is a `concat` of one- or zero-element arrays, not
    * `array_compact` over nullable slots: array_compact is a
    * `filter(lambda)` higher-order function, a CodegenFallback, and a
    * Project holding one falls out of whole-stage codegen. With it, the
    * two Projects that held validation_feedback (2 of the 12 in the
    * ingest-to-persist plan) ran outside the fused loop, each through a
    * per-task UnsafeProjection, and split the chain into 3 codegen
    * stages; without it the chain is one stage (PlanSpec pins it). */
  def validate(df: DataFrame): DataFrame = {
    val explicitlyWantsAmount =
      col("schema_fields").isNotNull &&
        map_contains_key(col("schema_fields"), lit("amount"))
    val none = array().cast(ArrayType(StringType))
    def flag(cond: Column, msg: String): Column =
      when(cond, array(lit(msg))).otherwise(none)
    val feedback = concat(
      flag(!validEmail(col("x_email")), "malformed email"),
      flag(!validAmount(col("x_amount")), "negative amount"),
      flag(explicitlyWantsAmount && col("x_amount").isNull, "missing amount"),
      flag(col("x_n_tokens").isNotNull && col("x_n_tokens") === 0, "empty extraction"))
    df.withColumn("validation_feedback", guarded(feedback, none, col("error")))
      .withColumn("is_valid",
        guarded(size(col("validation_feedback")) === 0, lit(false), col("error")))
  }

  /** Stages 6-7 with the bounded retry loop (X2/X3, SURVEY §2.8) in the
    * FUSED single-pass form: because the deterministic extractor's
    * feedback-aware re-extraction is itself a column expression, the
    * whole retry pass stays in-plan — recompute only what feedback can
    * change (x_amount on "negative amount"), bump retry_count, rebuild
    * the envelope, revalidate. One narrow pass, no persist, no
    * split/union, nothing materialized (the round-2 version cached the
    * full wide envelope — logs array, schema structs, text columns —
    * before the split; the cache write cost 10-38x the query).
    *
    * Revalidating the WHOLE frame is sound: validation is a
    * deterministic function of the stage columns, and untouched rows
    * recompute to identical values. Documents still invalid after the
    * budget proceed to persistence anyway (reference routes
    * retries-exhausted past validation, src/agents.py:42-44). */
  def extractValidateWithRetry(df: DataFrame): DataFrame = {
    require(MaxRetries == 1,
      "fused retry pass and the v0->v1 oracle CTEs both encode exactly one " +
        "feedback-aware retry; generalize extractValidateGeneric + the oracle " +
        "builder together before bumping MaxRetries")
    val p0 = validate(extract(df))
    val retrying = col("error").isNull && !col("is_valid")
    // X3: the only feedback the deterministic extractor acts on is
    // "negative amount" -> re-scan with the non-negative pattern; every
    // other field re-extracts to the identical value, so only x_amount
    // (and what derives from it) is rewritten. The re-scan's raw match
    // is projected on its own, as in extract.
    val rescan = retrying && array_contains(col("validation_feedback"), "negative amount")
    validate(
      p0.withColumn("m_amount", when(rescan && want("amount"), amountMatch(col("text_orig"))))
        .withColumn("retry_count",
          when(retrying, lit(MaxRetries)).otherwise(col("retry_count")))
        .withColumn("x_amount", when(rescan, amountOf(col("m_amount"))).otherwise(col("x_amount")))
        .drop("m_amount")
        .withColumn("structured_data",
          when(retrying, structuredData).otherwise(col("structured_data"))))
  }

  /** The GENERIC bounded retry loop — driver-side split/recompute/union,
    * exactly MaxRetries iterations — kept for extraction backends whose
    * re-extraction is NOT expressible in-plan (a real LLM re-prompt via
    * Inference.LlmBackend). The fused form above is the default pipeline
    * path; RetrySpec asserts the two agree on the deterministic
    * extractor. At 100 TB the persist becomes a checkpoint of a NARROW
    * projection (doc_id + decision columns), never the full envelope. */
  def extractValidateGeneric(df: DataFrame): DataFrame = {
    var cur = validate(extract(df)).persist()
    // eager materialization: the ok/bad split below reads this cache from
    // two branches of ONE action — built lazily, each branch races to
    // compute the uncached partitions and the whole upstream pipeline
    // runs twice (the round-1 trap; see verify skill notes)
    cur.count()
    for (i <- 1 to MaxRetries) {
      val ok = cur.filter(col("error").isNotNull || col("is_valid"))
      val bad = cur.filter(col("error").isNull && !col("is_valid"))
        .withColumn("retry_count", lit(i))
      // re-extraction WITH the validator's feedback wired into the
      // extractor (X3): a retried row can genuinely flip to valid
      // (retry_count already updated; drop stage outputs, keep envelope)
      val cols = df.columns
      val retried = validate(extract(
        bad.select(cols.map(col) :+ col("validation_feedback").as("prev_feedback"): _*),
        feedbackAware = true)).drop("prev_feedback")
      cur = ok.unionByName(retried)
    }
    cur
  }

  /** Stage 8: persistence (K2 shape) — pre-generated deterministic id +
    * storage URL, set-oriented (the DB-generated-uuid round trip does not
    * exist in bulk writes; same information, generated in the plan). */
  def persist(df: DataFrame): DataFrame =
    df.withColumn("record_id",
        guarded(md5(concat(col("file_path"), coalesce(col("raw_text"), lit("")))),
          lit(null).cast(StringType), col("error")))
      .withColumn("file_url",
        guarded(concat(lit("mem://store/documents/"),
          element_at(split(col("file_path"), "/"), -1)),
          lit(null).cast(StringType), col("error")))
      .withColumn("created_at", current_timestamp())
      .transform(logStage(_, "persistence"))

  /** Stage 9: response envelope (R1, src/agents.py:297-324). */
  def respond(df: DataFrame): DataFrame =
    df.select(
      col("doc_id"),
      col("error").isNull.as("success"),
      col("error"),
      col("doc_type"),
      col("record_id"),
      col("file_url"),
      col("structured_data"),
      col("is_valid"),
      col("retry_count"),
      col("x_amount"), col("x_email"), col("x_date"), col("x_phone"),
      col("x_first_token"), col("x_n_tokens"),
      col("logs"))

  /** Full pipeline over any (doc_id, text) frame — batch OR streaming:
    * since the retry pass was fused into column logic (round 3), every
    * stage is stateless-narrow except the stream-static broadcast schema
    * join, so the same composition runs under Structured Streaming
    * unchanged (StreamOps.streamDocPipeline). */
  def runOnDocs(spark: SparkSession, docs: DataFrame): DataFrame =
    respond(persist(extractValidateWithRetry(
      schemaLookup(spark, classifyStage(clean(ingest(docs)))))))

  /** Full pipeline over a fixture dir's `documents` table. */
  def run(spark: SparkSession, dir: String): DataFrame =
    runOnDocs(spark, Tables.loadWide(spark, dir, "documents"))

  /** r13: SORT THE BASE, NOT THE RESULT. A trailing orderBy's
    * RangePartitioning samples its child with a SEPARATE job, so the
    * whole per-row chain (clean, classify, extract regexes, prompt
    * concat) ran twice — measured 1.34 s -> 0.75 s on llm_prompts at
    * sf0.1. Sorting the two-column base first yields the identical
    * doc_id-ordered output: every later stage is a projection or a
    * broadcast-left join (both preserve partition contents and order)
    * and AQE coalesces only CONTIGUOUS range partitions. The sample job
    * re-reads only the cheap base. Output equality AND order are pinned
    * by R13EarlySortSpec against the late-sort form. */
  private def runSorted(spark: SparkSession, dir: String): DataFrame =
    runOnDocs(spark,
      Tables.loadWideSorted(spark, dir, "documents", "doc_id"))

  /** Oracle-checkable projection of the pipeline (excludes the
    * wall-clock `created_at`). */
  def pipelineQuery(spark: SparkSession, dir: String): DataFrame =
    runSorted(spark, dir).select(
      col("doc_id"), col("success"), col("doc_type"), col("record_id"),
      col("file_url"), col("x_first_token"), col("x_n_tokens"),
      col("is_valid"), col("retry_count"))

  /** DuckDB oracle for pipelineQuery: the full stage chain composed from
    * the TextFunctions SQL builders. Mirrors stage order exactly —
    * error gate on RAW text, then clean, classify(cleaned), schema-gated
    * extraction (want* predicates are the SQL twin of the
    * map_contains_key gate — schema_json is a function of doc_type),
    * validation, the feedback-aware retry pass, deterministic
    * persistence ids. The oracle reproduces BOTH extraction passes: the
    * signed first-pass amount, and the retry's non-negative re-scan
    * gated on "negative amount" feedback. */
  def pipelineOracleSql: String =
    s"WITH ${pipelineOracleCtes("documents", "text")} ${pipelineOracleSelect}"

  /** The CTE chain (ext0 → gated → v0 → v1) shared by every
    * pipeline-shaped oracle; composes after a WITH that may already hold
    * an enrichment CTE. */
  def pipelineOracleCtes(table: String, textCol: String): String = {
    val err = s"($textCol IS NULL OR length(trim($textCol)) = 0)"
    val cleaned = cleanTextSql(textCol)
    s"""ext0 AS (
          SELECT doc_id, $textCol AS t_orig,
            NOT $err AS success,
            CASE WHEN $err THEN NULL ELSE ${classifySql(cleaned)} END AS doc_type,
            CASE WHEN $err THEN NULL ELSE
              md5('mem://docs/' || doc_id || '.txt' || coalesce($cleaned, '')) END AS record_id,
            CASE WHEN $err THEN NULL ELSE
              'mem://store/documents/' || doc_id || '.txt' END AS file_url,
            CASE WHEN $err THEN NULL ELSE ${firstTokenSql(cleaned)} END AS x_first_token,
            CASE WHEN $err THEN NULL ELSE ${tokenCountSql(cleaned)} END AS x_n_tokens
          FROM $table),
        gated AS (
          SELECT *,
            CASE WHEN NOT success THEN NULL
                 WHEN ${wantSql("email")} THEN ${extractEmailSql("t_orig")} END AS x_email,
            CASE WHEN NOT success THEN NULL
                 WHEN ${wantSql("date")} THEN ${extractDateSql("t_orig")} END AS x_date,
            CASE WHEN NOT success THEN NULL
                 WHEN ${wantSql("phone")} THEN ${extractPhoneSql("t_orig")} END AS x_phone,
            CASE WHEN NOT success THEN NULL
                 WHEN ${wantSql("amount")} THEN ${extractAmountSignedSql("t_orig")} END AS x_amount0
          FROM ext0),
        v0 AS (
          SELECT *,
            success AND ${validEmailSql("x_email")} AND ${validAmountSql("x_amount0")}
              AND NOT ($wantsAmtSql AND x_amount0 IS NULL)
              AND NOT coalesce(x_n_tokens = 0, FALSE) AS is_valid0,
            NOT ${validAmountSql("x_amount0")} AS neg_amount0
          FROM gated),
        v1 AS (
          SELECT *,
            CASE WHEN is_valid0 OR NOT success THEN x_amount0
                 WHEN neg_amount0 THEN
                   CASE WHEN ${wantSql("amount")} THEN ${extractAmountSql("t_orig")} END
                 ELSE x_amount0 END AS x_amount
          FROM v0)"""
  }

  private def wantsAmtSql: String =
    s"doc_type IN (${typesWanting("amount").map(t => s"'$t'").mkString(", ")})"

  def pipelineOracleSelect: String =
    s"""SELECT doc_id, success, doc_type, record_id, file_url,
          x_first_token, x_n_tokens,
          CASE WHEN NOT success THEN FALSE
               WHEN is_valid0 THEN TRUE
               ELSE ${validEmailSql("x_email")} AND ${validAmountSql("x_amount")}
                 AND NOT ($wantsAmtSql AND x_amount IS NULL)
                 AND NOT coalesce(x_n_tokens = 0, FALSE) END AS is_valid,
          CASE WHEN success AND NOT is_valid0 THEN $MaxRetries ELSE 0 END AS retry_count
        FROM v1"""

  /** R2 log envelope, oracle-visible: the per-row stage log as a joined
    * string (array<string> compares poorly across Arrow bridges). */
  def pipelineLogsQuery(spark: SparkSession, dir: String): DataFrame =
    runSorted(spark, dir) // sort-the-base: see runSorted
      .select(col("doc_id"), array_join(col("logs"), "|").as("logs_str"))
  def pipelineLogsOracleSql: String = {
    val err = "(text IS NULL OR length(trim(text)) = 0)"
    s"""SELECT doc_id,
        CASE WHEN $err THEN
          'parsing: Parsing produced empty text|clean: skipped (error)|classification: skipped (error)|persistence: skipped (error)'
        ELSE 'parsing: ok|clean: ok|classification: ok|persistence: ok' END AS logs_str
        FROM documents"""
  }

  // --- Enriched corpus: makes the schema-driven + retry paths ----------
  // fixture-visible. The word-salad fixture has no amounts/emails/dates
  // and no classifier keywords, so we inject them as pure functions of
  // doc_id, IDENTICALLY in Spark and the oracle (same device as the
  // json_repair query). doc_id%9 picks the classifier keyword (residue 8
  // = none -> "other" -> fallback schema -> advisory extract-all);
  // doc_id%7==0 omits the amount (retries-exhausted path for amount-
  // requiring schemas); doc_id%3==0 makes it negative (fixed on retry).

  /** One keyword per classifier label, each hitting exactly one label
    * pattern (verified disjoint against TextFunctions.labels). */
  private val enrichKeywords: Seq[String] = Seq(
    "invoice", "agreement", "receipt", "checkbox", "findings",
    "transcript", "dear hiring", "employment history")

  def enrichedDocs(spark: SparkSession, dir: String): DataFrame =
    enrichedFrom(Tables.loadWide(spark, dir, "documents"))

  /** [[enrichedDocs]] over the range-sorted base — the sort-the-base
    * form (see [[runSorted]]); the enrichment is a pure projection, so
    * the doc_id order and the pinned spread carry through. */
  def enrichedDocsSorted(spark: SparkSession, dir: String): DataFrame =
    enrichedFrom(Tables.loadWideSorted(spark, dir, "documents", "doc_id"))

  private def enrichedFrom(docs: DataFrame): DataFrame = {
    val kw = element_at(
      array((enrichKeywords :+ "").map(lit): _*),
      (col("doc_id") % 9).cast(IntegerType) + 1)
    val amount = when(col("doc_id") % 7 =!= 0,
      concat(lit(" total "),
        when(col("doc_id") % 3 === 0, lit("-")).otherwise(lit("")),
        ((col("doc_id") % 90) + 10).cast(StringType), lit(".25")))
      .otherwise(lit(""))
    docs.withColumn("text",
      concat(kw, lit(" "), col("text"), amount,
        lit(" user"), col("doc_id").cast(StringType), lit("@example.com"),
        lit(" on 2024-03-1"), (col("doc_id") % 9).cast(StringType),
        lit(" tel 555-0100")))
  }

  /** SQL twin of enrichedDocs as a CTE named `enriched`. */
  def enrichedCte: String = {
    val kw = enrichKeywords.zipWithIndex
      .map { case (k, i) => s"WHEN $i THEN '$k'" }.mkString(" ")
    s"""enriched AS (SELECT doc_id,
          (CASE doc_id % 9 $kw ELSE '' END) || ' ' || text ||
          (CASE WHEN doc_id % 7 <> 0 THEN ' total ' ||
             (CASE WHEN doc_id % 3 = 0 THEN '-' ELSE '' END) ||
             CAST(doc_id % 90 + 10 AS VARCHAR) || '.25' ELSE '' END) ||
          ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ||
          ' on 2024-03-1' || CAST(doc_id % 9 AS VARCHAR) || ' tel 555-0100'
          AS text
        FROM documents)"""
  }

  private def pipelineOver(spark: SparkSession, docs: DataFrame): DataFrame =
    extractValidateWithRetry(
      schemaLookup(spark, classifyStage(clean(ingest(docs)))))

  /** Schema-driven extraction, oracle-visible (E1+E5): different
    * doc_types emit different field sets, driven by the PARSED
    * schema_json fields map — the J1→E1 edge carries real information. */
  def schemaExtractQuery(spark: SparkSession, dir: String): DataFrame =
    pipelineOver(spark, enrichedDocsSorted(spark, dir))
      .select(col("doc_id"), col("doc_type"), // sort-the-base: see runSorted
        array_join(array_sort(map_keys(col("schema_fields"))), ",").as("schema_keys"),
        col("x_amount"), col("x_email"), col("x_date"), col("x_phone"))

  def schemaExtractOracleSql: String = {
    val keysCase = schemaFieldSets
      .map { case (dt, fs) => s"WHEN '$dt' THEN '${fs.sorted.mkString(",")}'" }
      .mkString(" ")
    s"""WITH $enrichedCte, ${pipelineOracleCtes("enriched", "text")}
        SELECT doc_id, doc_type,
          CASE doc_type $keysCase ELSE '' END AS schema_keys,
          x_amount, x_email, x_date, x_phone
        FROM v1"""
  }

  /** Schema INDUCTION — the reverse of J1's schema retrieval: parse
    * every persisted `structured_data` JSON back into a map and count,
    * per doc_type, how often each field actually materialized. This is
    * how a real deployment discovers what its dynamic jsonb column
    * (README.md:91-100's `structured_data`) actually contains — the
    * observed schema, vs the advisory one the prompts requested (E6's
    * degraded path makes the requested schema unreliable BY DESIGN, so
    * observation is the only trustworthy source).
    *
    * Scale shape: narrow JSON parse + explode of ≤6 keys per row, one
    * (doc_type, field) count shuffle of tiny rows. */
  def schemaProfileQuery(spark: SparkSession, dir: String): DataFrame =
    pipelineOver(spark, enrichedDocs(spark, dir))
      // r13: filter on the CHEAP null gate, not the derived JSON.
      // structured_data = guarded(to_json(struct(...)), null, error) and
      // to_json of a non-null struct is never null, so the two
      // predicates are equivalent — but a filter on structured_data gets
      // SUBSTITUTED through every projection by predicate pushdown, and
      // with schemaLookup's join barrier gone (literal lookup, r13) the
      // rewritten condition inlined the classify tree 162× into one
      // scan-level Filter (3 MB condition, 58 MiB task binaries,
      // measured 258 s). The error gate pushes down as the cheap
      // raw-text null check it is.
      .filter(col("error").isNull)
      .select(col("doc_type"),
        explode(map_keys(from_json(col("structured_data"),
          MapType(StringType, StringType)))).as("field"))
      .groupBy(col("doc_type"), col("field"))
      .agg(count(lit(1)).as("n_present"))
      .orderBy(col("doc_type"), col("field"))

  /** DuckDB twin: recompute key presence from the extraction columns
    * (structured_data is exactly the non-null x_* fields, P7). */
  def schemaProfileOracleSql: String =
    s"""WITH $enrichedCte, ${pipelineOracleCtes("enriched", "text")},
        k AS (SELECT doc_type,
                unnest(list_filter([
                  CASE WHEN x_amount IS NOT NULL THEN 'amount' END,
                  CASE WHEN x_email IS NOT NULL THEN 'email' END,
                  CASE WHEN x_date IS NOT NULL THEN 'date' END,
                  CASE WHEN x_phone IS NOT NULL THEN 'phone' END,
                  CASE WHEN x_first_token IS NOT NULL THEN 'first_token' END,
                  CASE WHEN x_n_tokens IS NOT NULL THEN 'n_tokens' END],
                  x -> x IS NOT NULL)) AS field
              FROM v1 WHERE success)
        SELECT doc_type, field, count(*) AS n_present
        FROM k GROUP BY 1, 2"""

  /** Pipeline observability (the reference's `/stats` endpoint made
    * real: src/app.py:177-188 returns static env config; ours aggregates
    * the actual envelopes): per doc_type — document count, success/valid
    * counts, retry consumption, token volume. */
  def pipelineStatsQuery(spark: SparkSession, dir: String): DataFrame =
    respond(persist(pipelineOver(spark, enrichedDocs(spark, dir))))
      .groupBy(col("doc_type"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("success"), 1L).otherwise(0L)).as("n_success"),
        sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("retry_count") > 0, 1L).otherwise(0L)).as("n_retried"),
        sum(coalesce(col("x_n_tokens").cast(LongType), lit(0L))).as("n_tokens_sum"))
      .orderBy(col("doc_type"))

  def pipelineStatsOracleSql: String =
    s"""WITH $enrichedCte, ${pipelineOracleCtes("enriched", "text")},
        resp AS ($pipelineOracleSelect)
        SELECT doc_type,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE success) AS BIGINT) AS n_success,
               CAST(count(*) FILTER (WHERE is_valid) AS BIGINT) AS n_valid,
               CAST(count(*) FILTER (WHERE retry_count > 0) AS BIGINT) AS n_retried,
               CAST(coalesce(sum(x_n_tokens), 0) AS BIGINT) AS n_tokens_sum
        FROM resp GROUP BY 1"""

  /** Compact fields-map JSON per doc_type (the inner object of
    * schema_json; '{}' for types without a schema record). */
  def fieldsJsonFor(dt: String): String =
    schemaFieldSets.toMap.get(dt)
      .map(fs => fs.sorted.map(f => s""""$f":"${fieldDescriptions(f)}"""")
        .mkString("{", ",", "}"))
      .getOrElse("{}")

  /** LLM prompt surface, oracle-visible (utils.py:5-33,36-89 via
    * graft.functions.Prompts): per document, the classification prompt
    * (first 500 chars of the cleaned text) and the extraction prompt the
    * NEXT extraction call would receive — schema fields map, document
    * text, and the validator's feedback block when pass 0 failed (X3's
    * re-prompt, agents.py:48-59). This is what a real Inference backend
    * gets handed; the DuckDB twin proves the strings byte-identical. */
  def promptsQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Prompts
    val base = validate(extract(schemaLookup(spark, // sort-the-base: see runSorted
      classifyStage(clean(ingest(enrichedDocsSorted(spark, dir)))))))
    base.select(col("doc_id"),
      Prompts.classificationPrompt(col("raw_text")).as("classify_prompt"),
      Prompts.extractionPrompt(col("doc_type"), to_json(col("schema_fields")),
        col("raw_text"), col("validation_feedback")).as("extract_prompt"))
  }

  def promptsOracleSql: String = {
    import graft.functions.Prompts
    val cleaned = cleanTextSql("text")
    val fieldsCase = schemaFieldSets.map(_._1)
      .map(dt => s"WHEN '$dt' THEN '${fieldsJsonFor(dt)}'")
      .mkString("CASE doc_type ", " ", " ELSE '{}' END")
    // feedback array mirrors validate(): order = email, amount, missing, empty
    val feedbackArr =
      s"""list_filter([
          CASE WHEN NOT ${validEmailSql("x_email")} THEN 'malformed email' END,
          CASE WHEN NOT ${validAmountSql("x_amount0")} THEN 'negative amount' END,
          CASE WHEN $wantsAmtSql AND x_amount0 IS NULL THEN 'missing amount' END,
          CASE WHEN coalesce(x_n_tokens = 0, FALSE) THEN 'empty extraction' END
        ], x -> x IS NOT NULL)"""
    s"""WITH $enrichedCte,
        c0 AS (SELECT doc_id, text AS t_orig, $cleaned AS ct,
                 (text IS NULL OR length(trim(text)) = 0) AS err
               FROM enriched),
        typed AS (SELECT *, CASE WHEN err THEN NULL ELSE ${classifySql("ct")} END AS doc_type
                  FROM c0),
        gated AS (SELECT *,
            CASE WHEN err THEN NULL
                 WHEN ${wantSql("email")} THEN ${extractEmailSql("t_orig")} END AS x_email,
            CASE WHEN err THEN NULL
                 WHEN ${wantSql("amount")} THEN ${extractAmountSignedSql("t_orig")} END AS x_amount0,
            CASE WHEN err THEN NULL ELSE ${tokenCountSql("ct")} END AS x_n_tokens
          FROM typed),
        fbk AS (SELECT *, CASE WHEN err THEN [] ELSE $feedbackArr END AS feedback,
                  $fieldsCase AS fields_json
                FROM gated)
        SELECT doc_id,
          ${Prompts.classificationPromptSql("ct")} AS classify_prompt,
          ${Prompts.extractionPromptSql("doc_type", "fields_json", "ct",
            Prompts.feedbackBlockSql("feedback"))} AS extract_prompt
        FROM fbk"""
  }

  /** The retry loop doing real work, oracle-visible (X2/X3): negative
    * first-pass amounts flip to valid on the feedback-aware retry
    * (retry_count=1, is_valid=true); docs whose schema requires an
    * amount that the text lacks exhaust retries and persist anyway
    * (retry_count=1, is_valid=false). */
  def retryFixQuery(spark: SparkSession, dir: String): DataFrame =
    pipelineOver(spark, enrichedDocsSorted(spark, dir))
      .select(col("doc_id"), col("doc_type"), col("x_amount"),
        col("is_valid"), col("retry_count")) // sort-the-base: see runSorted

  def retryFixOracleSql: String =
    s"""WITH $enrichedCte, ${pipelineOracleCtes("enriched", "text")}
        SELECT doc_id, doc_type, x_amount,
          CASE WHEN NOT success THEN FALSE
               WHEN is_valid0 THEN TRUE
               ELSE ${validEmailSql("x_email")} AND ${validAmountSql("x_amount")}
                 AND NOT ($wantsAmtSql AND x_amount IS NULL)
                 AND NOT coalesce(x_n_tokens = 0, FALSE) END AS is_valid,
          CASE WHEN success AND NOT is_valid0 THEN $MaxRetries ELSE 0 END AS retry_count
        FROM v1"""
}
