package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.EmbeddingStore

class EmbeddingStoreSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  test("upsert: last writer wins by id, new ids appended") {
    val existing = Seq((1L, "a", 1), (2L, "b", 1)).toDF("vec_id", "payload", "v")
    val updates = Seq((2L, "b2", 2), (3L, "c", 2)).toDF("vec_id", "payload", "v")
    val out = EmbeddingStore.upsert(existing, updates).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("upsert with seq: ties inside updates resolve to highest seq") {
    val existing = Seq((1L, "a", 0L)).toDF("vec_id", "payload", "seq")
    val updates = Seq((1L, "u1", 1L), (1L, "u2", 2L)).toDF("vec_id", "payload", "seq")
    val out = EmbeddingStore.upsert(existing, updates, seqCol = Some("seq")).collect()
    assert(out.length == 1 && out(0).getString(1) == "u2")
  }

  test("upsert with seq: NULL seq still beats the existing store row") {
    val existing = Seq((1L, "stale", 5L)).toDF("vec_id", "payload", "seq")
    val updates = Seq((1L, "fresh", Option.empty[Long]))
      .toDF("vec_id", "payload", "seq")
    val out = EmbeddingStore.upsert(existing, updates, seqCol = Some("seq")).collect()
    assert(out.length == 1 && out(0).getString(1) == "fresh")
  }

  test("upsert with seq: null seq loses to a seq'd update for the same id") {
    val existing = Seq((1L, "stale", 0L)).toDF("vec_id", "payload", "seq")
    val updates = Seq((1L, "unseq", Option.empty[Long]), (1L, "seq1", Some(1L)))
      .toDF("vec_id", "payload", "seq")
    val out = EmbeddingStore.upsert(existing, updates, seqCol = Some("seq")).collect()
    assert(out.length == 1 && out(0).getString(1) == "seq1")
  }

  test("upsert with seq: a NEGATIVE seq update still replaces the store row (wave beats seq)") {
    val existing = Seq((1L, "stale", 0L)).toDF("vec_id", "payload", "seq")
    val updates = Seq((1L, "downgrade", -2L)).toDF("vec_id", "payload", "seq")
    val out = EmbeddingStore.upsert(existing, updates, seqCol = Some("seq")).collect()
    assert(out.length == 1 && out(0).getString(1) == "downgrade")
  }

  test("upsert with seq: NULL seq LOSES to an explicit Long.MinValue seq (no sentinel collision)") {
    val existing = Seq.empty[(Long, String, Long)].toDF("vec_id", "payload", "seq")
    val updates = Seq((1L, "unseq", Option.empty[Long]),
      (1L, "minval", Some(Long.MinValue))).toDF("vec_id", "payload", "seq")
    val out = EmbeddingStore.upsert(existing, updates, seqCol = Some("seq")).collect()
    assert(out.length == 1 && out(0).getString(1) == "minval")
  }

  test("upsert with seq: equal-seq tie keeps exactly one row (arbitrary)") {
    val existing = Seq.empty[(Long, String, Long)].toDF("vec_id", "payload", "seq")
    val updates = Seq((1L, "t1", 1L), (1L, "t2", 1L)).toDF("vec_id", "payload", "seq")
    val out = EmbeddingStore.upsert(existing, updates, seqCol = Some("seq")).collect()
    assert(out.length == 1 && Set("t1", "t2").contains(out(0).getString(1)))
  }

  test("upsertToStore round-trips through parquet") {
    val dir = Scratch.dir("store").toString + "/emb"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("vec_id", "payload")
    EmbeddingStore.upsertToStore(spark, dir, v1)
    val v2 = Seq((2L, "b2")).toDF("vec_id", "payload")
    EmbeddingStore.upsertToStore(spark, dir, v2)
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b2"))
  }

  test("deterministic schema id (S7 normalized)") {
    val df = Seq(("invoice", """{"fields":{}}""")).toDF("dt", "js")
    val id1 = df.select(EmbeddingStore.schemaId(col("dt"), col("js"))).collect()(0).getString(0)
    val id2 = df.select(EmbeddingStore.schemaId(col("dt"), col("js"))).collect()(0).getString(0)
    assert(id1 == id2 && id1.startsWith("invoice_schema_"))
  }
}
