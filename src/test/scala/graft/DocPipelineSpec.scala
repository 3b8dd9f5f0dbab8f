package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.DocPipeline

/** Golden pipeline tests (FIXTURES.md §B): success path, error
  * short-circuit, validation-retry, retries-exhausted-still-persists. */
class DocPipelineSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private lazy val corpusDir: String = {
    val dir = Scratch.dir("pipe").toString
    Seq(
      // clean invoice: amount, email, date, phone all extractable
      (0L, "INVOICE amount due 250.00 bill to sam@acme.io on 2024-03-01 call 555-111-2222", "en", "s0", 10L),
      // empty text -> parse error short-circuit
      (1L, "", "en", "s1", 0L),
      // raw text is all stripped charset: cleaned text is empty ->
      // n_tokens=0 -> "empty extraction" validation failure + retry
      (2L, "@@@@ $$$$ %%%%", "en", "s2", 10L),
      // plain other doc, nothing extractable, still valid (absent fields ok)
      (3L, "just some plain words here", "en", "s3", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val out = DocPipeline.run(spark, corpusDir).collect()
    .map(r => r.getLong(0) -> r).toMap

  test("success path: classification + extraction + envelope (R1)") {
    val r = out(0L)
    assert(r.getBoolean(1)) // success
    assert(r.getString(3) == "invoice") // doc_type
    assert(r.getString(4) != null) // record_id
    assert(r.getString(5).startsWith("mem://store/documents/")) // file_url
    val sd = r.getString(6) // structured_data JSON
    assert(sd.contains("\"amount\":250.0"))
    assert(sd.contains("\"email\":\"sam@acme.io\""))
    assert(sd.contains("\"date\":\"2024-03-01\""))
    assert(r.getBoolean(7)) // is_valid
    assert(r.getInt(8) == 0) // retry_count
  }

  test("error short-circuit: failed row flows to the sink untouched (P5)") {
    val r = out(1L)
    assert(!r.getBoolean(1)) // success=false
    assert(r.getString(2) == "Parsing produced empty text")
    assert(r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)) // no downstream fields
  }

  test("validation failure: bounded retry then persists anyway (X2/X3)") {
    val r = out(2L)
    assert(r.getBoolean(1)) // still success (validation failure != error)
    assert(!r.getBoolean(7)) // is_valid=false (empty extraction)
    assert(r.getInt(8) == DocPipeline.MaxRetries) // exactly one retry
    assert(r.getString(4) != null) // persisted anyway (record_id)
  }

  test("absent fields are valid (present-and-malformed rule)") {
    val r = out(3L)
    assert(r.getBoolean(1) && r.getBoolean(7) && r.getInt(8) == 0)
  }

  test("retry loop terminates in <= MaxRetries+1 extraction passes and is deterministic") {
    val again = DocPipeline.run(spark, corpusDir).collect().map(r => r.getLong(0) -> r).toMap
    for (id <- out.keys) {
      assert(out(id).toSeq.dropRight(1) == again(id).toSeq.dropRight(1)) // all but created_at
    }
  }

  test("prompt builders: advisory fallback, feedback block, validation prompt") {
    import graft.functions.Prompts
    val row = Seq(("invoice", """{"amount":"monetary amount"}""",
      "INVOICE total 5.00", Seq("negative amount"), """{"amount":-5.0}"""))
      .toDF("dt", "fj", "text", "fb", "xj")
      .select(
        Prompts.extractionPrompt(col("dt"), col("fj"), col("text"), col("fb")).as("ep"),
        Prompts.extractionPrompt(col("dt"), lit("{}"), col("text"),
          lit(null).cast("array<string>")).as("ep_advisory"),
        Prompts.validationPrompt(col("dt"), col("fj"), col("xj")).as("vp"))
      .collect()(0)
    val ep = row.getString(0)
    assert(ep.contains("Document Type: invoice"))
    assert(ep.contains("""{"amount":"monetary amount"}"""))
    assert(ep.contains("Previous extraction had issues:\n- negative amount"))
    val adv = row.getString(1)
    assert(adv.contains(Prompts.AdvisoryLine) && !adv.contains("Previous extraction"))
    val vp = row.getString(2)
    assert(vp.contains("Validation Agent") && vp.contains("""{"amount":-5.0}"""))
  }

  test("driver contract: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("fused retry pass == generic split/recompute/union loop") {
    // the enriched corpus exercises every retry path: negative amounts
    // that flip valid on retry, missing-amount retries-exhausted rows,
    // error rows, advisory-mode rows
    def prep(d: org.apache.spark.sql.DataFrame) =
      DocPipeline.schemaLookup(spark,
        DocPipeline.classifyStage(DocPipeline.clean(DocPipeline.ingest(d))))
    val docs = DocPipeline.enrichedDocs(spark, TestSession.sfDir)
    val outCols = Seq("doc_id", "doc_type", "x_amount", "x_email", "x_date",
      "x_phone", "structured_data", "validation_feedback", "is_valid", "retry_count")
    val fused = DocPipeline.extractValidateWithRetry(prep(docs))
      .select(outCols.map(col): _*).orderBy("doc_id").collect()
    val generic = DocPipeline.extractValidateGeneric(prep(docs))
      .select(outCols.map(col): _*).orderBy("doc_id").collect()
    spark.catalog.clearCache() // generic persists
    assert(fused.length == generic.length && fused.nonEmpty)
    fused.zip(generic).foreach { case (f, g) => assert(f == g) }
  }

  test("schema lookup carries VariantType on the J1→E1 edge (jsonb posture)") {
    import org.apache.spark.sql.types.{VariantType, MapType, StringType}
    val docs = Seq((0L, "INVOICE amount due 9.99")).toDF("doc_id", "text")
    val staged = DocPipeline.schemaLookup(spark,
      DocPipeline.classifyStage(DocPipeline.clean(DocPipeline.ingest(docs))))
    // the schema document is parsed ONCE into a variant column and the
    // fields map downstream gates read is derived FROM the variant
    assert(staged.schema("schema_variant").dataType == VariantType)
    assert(staged.schema("schema_fields").dataType ==
      MapType(StringType, StringType))
    val row = staged.filter(col("doc_type") === "invoice")
      .select(col("schema_fields")).head()
    val fields = row.getMap[String, String](0)
    assert(fields.contains("amount"), s"variant-derived fields map: $fields")
  }

  test("schema induction + stats: observed fields subset the envelope; counts reconcile") {
    val prof = DocPipeline.schemaProfileQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val known = Set("amount", "email", "date", "phone", "first_token", "n_tokens")
    assert(prof.nonEmpty && prof.forall(p => known(p._2)))
    val stats = DocPipeline.pipelineStatsQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    spark.catalog.clearCache() // pipelineStatsQuery persists
    assert(stats.map(_._2).sum == 500L) // every doc lands in exactly one type
    stats.foreach { case (_, n, ok, valid, retried) =>
      assert(ok <= n && valid <= ok && retried <= ok)
    }
    // no observed field count can exceed its type's successful docs
    val okByType = stats.map(s => Option(s._1).getOrElse("") -> s._3).toMap
    prof.foreach { case (dt, _, cnt) =>
      assert(cnt <= okByType(Option(dt).getOrElse("")))
    }
  }
}
