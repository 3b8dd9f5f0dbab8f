package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** BOUNDED DRIVER EXECUTION: the one probe behind every operator that
  * runs as driver arithmetic when its input fits a cap and as a
  * distributed loop otherwise. The corpus pass that builds the input
  * stays distributed either way. Each operator keeps its own cap
  * parameter (0 forces the fallback); the defaults are this table.
  * NodeCap also bounds PageRank's nodes and HNSW's entry set, EdgeCap
  * (one budget summed over a walk's phases) PageRank's edges. */
private[graft] object DriverCap {
  // cap                                row shape                      driver size
  val NodeCap: Int = 1 << 16           // (vec_id, 64-float embedding) ~16 MB
  val EdgeCap: Int = 1 << 20           // (phase, src, dst)            ~20 MB
  val MmrDriverPoolCap: Int = 1 << 14  // (qid, vec_id, embedding, rel) ~4 MB
  val CcDriverEdgeCap: Int = 1 << 17   // canonical (u, v)             ~2 MB
  val BpeDriverVocabCap: Int = 1 << 17 // (word, freq)                 a few MB
  val MaxPerceptronHist: Int = 1 << 16 // (y, x1, x2, cnt)             ~2 MB
  val TrigramProfileCap: Int = 1 << 14 // (lang, trigram)              < 1 MB
  val FpPushdownLimit: Int = 10000     // (fp, bucket) of a stream batch < 1 MB

  /** `df.collect()` — same rows, same order — iff `df` has ≤ `cap`
    * rows, else None. ONE Spark job over every partition (plus whatever
    * shuffle stages `df`'s plan needs, as for any action); each task
    * ships at most `cap + 1` rows, and the first task result that pushes
    * the running total past `cap` drops every row held and cancels the
    * rest of the job. */
  def collect(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val qe = df.queryExecution
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    SQLExecution.withNewExecutionId(qe, Some("driverCap")) {
      val rdd = qe.executedPlan.execute()
      val taken = new Array[Array[InternalRow]](rdd.getNumPartitions)
      var total = 0L
      val over = Promise[Unit]()
      // the handler runs on the scheduler's event thread, one result at a time
      val job = rdd.sparkContext.submitJob(rdd,
        (it: Iterator[InternalRow]) => it.take(cap + 1).map(_.copy()).toArray,
        taken.indices,
        (i: Int, rows: Array[InternalRow]) => if (!over.isCompleted) {
          total += rows.length
          if (total > cap) {
            taken.indices.foreach(taken(_) = null)
            over.success(())
          } else taken(i) = rows
        },
        ())
      Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
        Duration.Inf)
      if (over.isCompleted) { job.cancel(); None }
      else { job.value.get.get; Some(taken) }
    }.map(_.flatMap(_.iterator.map(toRow)))
  }
}
