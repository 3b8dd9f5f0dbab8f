package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{DocPipeline, SchemaRetrieval}

/** r13 "sort the base, not the result": the per-row doc-pipeline
  * queries moved their determinism orderBy from the RESULT to the
  * two-column BASE (a trailing orderBy's RangePartitioning samples its
  * child with a separate job, running the whole regex/prompt chain
  * twice). Everything between the base and the output is a projection
  * or a broadcast-left join — order-preserving — so the collected
  * output must be byte-identical INCLUDING ROW ORDER to the late-sort
  * form. The order is also pinned at the plan level: the final physical
  * plan must report an output ordering led by the id column ascending,
  * so an exchange or join added later between the base sort and the
  * output fails here even where the fixture's few partitions would
  * happen to come back in order. */
class R13EarlySortSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  private def assertSortedAndEqual(now: DataFrame, lateSort: DataFrame): Unit = {
    val a = now.collect().toSeq.map(_.toSeq)
    val b = lateSort.collect().toSeq.map(_.toSeq)
    assert(a.nonEmpty && a == b)
    val ids = a.map(_.head.asInstanceOf[Long])
    assert(ids == ids.sorted, "output not doc_id-ordered")
    assertOrderedById(now)
  }

  /** The executed (final adaptive) plan's outputOrdering leads with the
    * frame's first column, ascending. */
  private def assertOrderedById(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val idCol = df.columns.head
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val lead = plan.outputOrdering.headOption
    assert(lead.exists(o => o.direction == Ascending && (o.child match {
      case a: Attribute => a.name == idCol
      case _ => false
    })), s"output ordering $lead does not lead with $idCol ASC:\n${plan.toString.take(3000)}")
  }

  test("llm_prompts: early-sort output == late-sort output, in order") {
    assertSortedAndEqual(
      DocPipeline.promptsQuery(spark, dir),
      DocPipeline.promptsQuery(spark, dir).orderBy(col("doc_id")))
  }

  test("pipeline_envelope + pipeline_logs: early-sort == late-sort") {
    assertSortedAndEqual(
      DocPipeline.pipelineQuery(spark, dir),
      DocPipeline.pipelineQuery(spark, dir).orderBy(col("doc_id")))
    assertSortedAndEqual(
      DocPipeline.pipelineLogsQuery(spark, dir),
      DocPipeline.pipelineLogsQuery(spark, dir).orderBy(col("doc_id")))
  }

  test("schema_extract + retry_fix: early-sort == late-sort") {
    assertSortedAndEqual(
      DocPipeline.schemaExtractQuery(spark, dir),
      DocPipeline.schemaExtractQuery(spark, dir).orderBy(col("doc_id")))
    assertSortedAndEqual(
      DocPipeline.retryFixQuery(spark, dir),
      DocPipeline.retryFixQuery(spark, dir).orderBy(col("doc_id")))
  }

  test("schema_cascade: early-sort == late-sort") {
    assertSortedAndEqual(
      SchemaRetrieval.cascade(spark, dir),
      SchemaRetrieval.cascade(spark, dir).orderBy(col("doc_id")))
  }

  test("narrow per-row queries: early-sort == late-sort, in order") {
    val byId = Seq("doc_profile", "doc_quality", "doc_classify", "doc_tokens",
      "pii_scrub", "doc_splits", "blocklist_filter", "text_normalize",
      "metadata_sanitize", "json_repair")
    byId.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val idCol = df.columns.head
      assertSortedAndEqual(df, df.orderBy(col(idCol)))
    }
  }
}
