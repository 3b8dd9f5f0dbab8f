package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.operators.Events

class StreamOpsSpec extends AnyFunSuite {
  import TestSession.spark

  test("streaming tumbling counts equal the batch result on a replayed stream") {
    val streamed = StreamOps.streamTumblingQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSet
    val batch = Events.tumbling(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("a fixture file replaced in-session is restaged: the tumbling twin " +
    "replays the new file, not the one staged before the rewrite") {
    import java.nio.file.Paths
    val dir = Scratch.dir("srestage")
    StoreCatalog.linkTree(Paths.get(TestSession.sfDir), dir)
    def streamed = StreamOps.streamTumblingQuery(spark, dir.toString)
      .collect().map(_.toSeq).toSet
    val before = streamed
    TestSession.replaceTableByMove(dir, "events", col("event_id") % 3 =!= 2)
    val after = streamed
    val batch = Events.tumbling(spark, dir.toString).collect().map(_.toSeq).toSet
    assert(after != before, "the rewrite did not change the answer")
    assert(after == batch, "the stream replayed the file staged before the rewrite")
  }

  test("stream-stream interval join equals the batch range join on a replayed stream") {
    val streamed = StreamOps.streamRangeJoinQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSet
    val batch = Events.clicksBeforePurchase(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark removes re-delivered events") {
    // replay the same file twice by unioning two reads of the stream dir
    // through a dedup stage: batch-side check of the streaming op's
    // semantics using a duplicated static frame run through the same plan
    val dir = Scratch.dir("stream").toString
    import spark.implicits._
    def put(name: String, rows: Seq[(Long, String, String)]): Unit = {
      // FileStreamSource does not recurse into subdirectories: write via
      // a staging dir, then move the single part file up as a plain file
      val stage = s"$dir/stage_$name"
      rows.toDF("event_id", "ts_s", "event_type")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/in/$name"))
      Thread.sleep(20) // distinct mtimes -> deterministic file order
    }
    put("b1.parquet", Seq((1L, "2024-01-01 00:00:00", "click"),
      (2L, "2024-01-01 00:01:00", "view")))
    put("b2.parquet", Seq((2L, "2024-01-01 00:01:00", "view"), // re-delivery
      (3L, "2024-01-01 00:02:00", "click")))
    val stream = spark.readStream
      .schema("event_id LONG, event_type STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
    val out = StreamOps.runToMemory(spark, stream, "dedup_test", mode = "append")
    val ids = out.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"got $ids") // dup 2 suppressed once
  }

  test("streaming document pipeline: full 7-stage ETL on a file stream equals the batch pipeline") {
    import spark.implicits._
    val drop = Scratch.dir("drop").toString
    def putTxt(name: String, text: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$drop/$name"),
        text.getBytes("UTF-8"))
      Thread.sleep(20)
    }
    putTxt("a.txt", "INVOICE amount due 99.50 bill to kim@acme.io on 2024-05-01")
    putTxt("b.txt", "agreement between parties dated 2024-06-02 call 555-222-3333")
    val streamed = StreamOps.runToMemory(spark,
      StreamOps.streamDocPipeline(spark, drop),
      s"stream_pipe_${java.util.UUID.randomUUID().toString.replace("-", "")}",
      mode = "append")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    // batch twin over the same files through the same ingest + id scheme
    val bin = graft.sources.BinaryIngest.ingest(spark,
      graft.sources.BinaryIngest.readBinary(spark, drop))
    val docs = bin.select(xxhash64(col("file_path")).as("doc_id"),
      col("raw_text").as("text"))
    val batch = graft.operators.DocPipeline.runOnDocs(spark, docs)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(streamed.keySet == batch.keySet && streamed.size == 2)
    streamed.keys.foreach(id => assert(streamed(id) == batch(id)))
    // the streamed envelope really went through classification + extraction
    assert(streamed.values.exists(_.contains("invoice")))
  }

  test("streaming upsert sink: per-micro-batch last-writer-wins into the store") {
    import spark.implicits._
    val dir = Scratch.dir("supsert").toString
    val in = s"$dir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def put(name: String, rows: Seq[(Long, Int)]): Unit = {
      val stage = s"$dir/stage_$name"
      rows.toDF("vec_id", "label").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$in/$name"))
      Thread.sleep(20) // distinct mtimes -> deterministic batch order
    }
    put("b1.parquet", Seq((1L, 10), (2L, 20)))
    put("b2.parquet", Seq((2L, 21), (3L, 30))) // batch 2 overwrites id 2
    val updates = spark.readStream
      .schema("vec_id LONG, label INT")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val store = s"$dir/store"
    StreamOps.streamUpsertToStore(spark, updates, store)
    val out = spark.read.parquet(store).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 10, 2L -> 21, 3L -> 30))
  }

  test("flatMapGroupsWithState: per-user running totals accumulate across micro-batches") {
    import spark.implicits._
    val totals = StreamOps.runToMemory(spark,
      StreamOps.runningUserTotals(StreamOps.eventsStream(spark, TestSession.sfDir)).toDF(),
      "running_totals", mode = "append")
    // the fixture replays as one micro-batch here, so the last update per
    // user must equal the batch aggregate
    val last = totals.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("n_events"),
        org.apache.spark.sql.functions.col("total_cents"))).as("m"))
      .selectExpr("user_id", "m.n_events", "m.total_cents")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = Tables.load(spark, TestSession.sfDir, "events")
      .selectExpr("user_id", "CAST(round(value * 100) AS LONG) AS cents")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("cents").as("c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(last == batch)
  }

  test("streaming-maintained LSH index serves the batch vector_lsh_topk ranks") {
    val served = StreamOps.streamLshTopKQuery(spark, TestSession.sfDir)
    val batch = graft.operators.Similarity
      .lshTopK(spark, TestSession.sfDir, bitsOpt = Some(6))
    assert(served.collect().map(_.toSeq).toSeq ==
      batch.collect().map(_.toSeq).toSeq)
    assert(served.count() > 0)
  }

  test("LSH store serve scan prunes to the probed bucket partitions only") {
    val served = StreamOps.streamLshTopKQuery(spark, TestSession.sfDir)
    val scans = served.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.partitionSchema.fieldNames.contains("bucket") => s
    }
    assert(scans.nonEmpty, "expected a scan over the bucket-partitioned store")
    // the partition filter (bucket IN probes) must reach the scan so only
    // probed bucket directories are listed and read
    assert(scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "bucket"))),
      s"partition filters missing: ${scans.map(_.partitionFilters)}")
    // and the pruned selection must actually be a strict subset of buckets
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected > 0 && selected < (1 << 6),
      s"expected a pruned partition list, got $selected")
  }

  test("stream-static decontaminate equals the batch operator on a replayed stream") {
    val streamed = StreamOps.streamDecontaminateQuery(spark, TestSession.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Dedup.decontaminate(spark, TestSession.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming sessionization produces bounded session state") {
    val sessions = StreamOps.runToMemory(spark,
      StreamOps.sessionCounts(StreamOps.eventsStream(spark, TestSession.sfDir)),
      "sessions_test")
    assert(sessions.count() > 0)
    // session starts must be unique per user
    val dup = sessions.groupBy("user_id", "session_start").count()
      .filter(col("count") > 1).count()
    assert(dup == 0)
  }

  test("streaming funnel state machine equals the batch funnel on the fixture") {
    import graft.operators.Events
    val streamed = StreamOps.streamFunnelQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val batch = Events.funnel(spark, TestSession.sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch)
    // stage counts must be monotone non-increasing down the funnel
    val ns = streamed.sortBy(_._1).map(_._3)
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("streaming funnel: strict order enforced across micro-batches (crafted log)") {
    import graft.operators.Events
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // FileStreamSource replays files in MODIFICATION-TIME order (ties
    // arbitrary — the earlier form of this test wrote one multi-part
    // parquet dir and flaked on tie order). Write each micro-batch as
    // its own single part file with an explicit, strictly increasing
    // mtime so the replay order is pinned — and cross-batch state carry
    // (u1's view in batch 1 enabling its click in batch 2) is actually
    // exercised.
    val base = Scratch.dir("sfunnel")
    val streamDir = Files.createDirectory(base.resolve("events.parquet"))
    def writeBatch(rows: Seq[(Long, String, Long, String, Double, String)],
                   name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sfunnel_part").toString
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(Seq(
      (0L, "2024-01-01 10:00:00", 1L, "view", 0.0, "{}"),
      // u2's click precedes its view: must stall at stage 1
      (3L, "2024-01-01 09:00:00", 2L, "click", 0.0, "{}")),
      "b1.parquet", 1000000L)
    writeBatch(Seq(
      (1L, "2024-01-01 10:05:00", 1L, "click", 0.0, "{}"),
      (2L, "2024-01-01 10:10:00", 1L, "purchase", 0.0, "{}"),
      (4L, "2024-01-01 10:00:00", 2L, "view", 0.0, "{}"),
      (5L, "2024-01-01 11:00:00", 2L, "purchase", 0.0, "{}")),
      "b2.parquet", 2000000L)
    val out = StreamOps.streamFunnelQuery(spark, base.toString).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out("view") == 2)
    assert(out("click_after_view") == 1)     // u1 only, via cross-batch state
    assert(out("purchase_after_click") == 1) // u2's purchase lacks a click after view
    // and it agrees with the batch operator on the same crafted log
    val batch = Events.funnel(spark, base.toString).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == batch)
  }

  test("event-time timeout evicts dormant per-user state (bounded streaming state)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // Two micro-batches. Batch 1 carries u1 (early) and u9 (60 days
    // later — its max ts advances the watermark for batch 2). Batch 2
    // carries u3. With a 1-day idle gap, u1's timeout (day 2) is far
    // below batch 2's watermark (day 60 - 2h), so u1's state must be
    // REMOVED during batch 2 — state tracks users active within the
    // horizon, not all users ever seen.
    val base = Scratch.dir("sevict")
    val streamDir = Files.createDirectory(base.resolve("in"))
    def writeBatch(rows: Seq[(Long, String, String)], name: String,
                   mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sevict_part").toString
      rows.toDF("user_id", "event_type", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("user_id", "event_type", "ts")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(Seq(
      (1L, "view", "2024-01-01 10:00:00"),
      (9L, "view", "2024-03-01 10:00:00")), "b1.parquet", 1000000L)
    writeBatch(Seq(
      (3L, "view", "2024-03-01 12:00:00")), "b2.parquet", 2000000L)
    val events = spark.readStream
      .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    val q = StreamOps.funnelUpdates(events, idleGapMs = 24L * 3600 * 1000)
      .writeStream.format("memory").queryName("evict_funnel")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); spark.conf.set(key, prev) }
    val stateRows = q.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .lastOption.map(_.numRowsTotal)
    // u9 and u3 live inside the horizon; u1 evicted -> exactly 2 rows
    assert(stateRows.contains(2L),
      s"expected 2 live state rows after eviction, got $stateRows")
    // every user still emitted its stage-1 row before/while being tracked
    val emitted = spark.table("evict_funnel")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(emitted == Set(1L, 9L, 3L))
  }

  test("multi-batch out-of-order replay: late rows behind the watermark are dropped") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // Pins the INTENDED late-data semantics the single-file fixtures
    // never exercise (one file = one micro-batch, watermark can't
    // advance mid-data — see StreamOps.stagedStreamDirs): once batch 1's
    // max event time pushes the watermark past a row's timestamp plus
    // the 2 h delay, that row arriving in batch 2 is DROPPED — it
    // neither resurrects evicted state nor perturbs emitted totals.
    val base = Scratch.dir("slate")
    val streamDir = Files.createDirectory(base.resolve("in"))
    def writeBatch(rows: Seq[(Long, String, Double)], name: String,
                   mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("slate_part").toString
      rows.toDF("user_id", "ts_s", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
        .select("user_id", "ts", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    // batch 1: u1 early; u9 ten days later (advances the watermark to
    // Jan 11 08:00 for batch 2)
    writeBatch(Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (9L, "2024-01-11 10:00:00", 1.0)), "b1.parquet", 1000000L)
    // batch 2: u1 again at Jan 1 11:00 — 10 days behind the watermark,
    // must be dropped; u3 is fresh and must be counted
    writeBatch(Seq(
      (1L, "2024-01-01 11:00:00", 5.0),
      (3L, "2024-01-11 12:00:00", 2.0)), "b2.parquet", 2000000L)
    val events = spark.readStream
      .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(streamDir.toString)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    val q = StreamOps.runningUserTotals(events).toDF()
      .writeStream.format("memory").queryName("late_totals")
      .outputMode("append").start()
    try q.processAllAvailable()
    finally { q.stop(); spark.conf.set(key, prev) }
    val perUser = spark.table("late_totals")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_cents"))).as("m"))
      .selectExpr("user_id", "m.n_events AS n", "m.total_cents AS c")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // u1's late 5.00 row vanished: still one event, 100 cents
    assert(perUser(1L) == (1L, 100L), s"late row leaked into $perUser")
    assert(perUser(3L) == (1L, 200L) && perUser(9L) == (1L, 100L), perUser.toString)
  }

  test("streaming exactly-once JDBC sink: a replayed epoch writes no dupes") {
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "DuckDB JDBC driver not on classpath")
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    // Two-file stream, checkpointed. The first run's foreachBatch body
    // CRASHES AFTER the exactly-once write of epoch 0 commits but before
    // the streaming checkpoint records the epoch — the at-least-once
    // window. The restarted run replays epoch 0 with the same epochId;
    // the epoch-keyed stage-and-merge must absorb it.
    val base = Scratch.dir("sjdbc")
    val streamDir = Files.createDirectory(base.resolve("in"))
    def writeBatch(ids: Seq[Long], name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sjdbc_part").toString
      ids.toDF("event_id").coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(0L until 10L, "b1.parquet", 1000000L)
    writeBatch(10L until 15L, "b2.parquet", 2000000L)
    val url = s"jdbc:duckdb:$base/sink.db"
    val chk = s"$base/chk"
    def source = spark.readStream.schema("event_id LONG")
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    // run 1: write epoch 0 via the sink, then die before the checkpoint
    // commit can record it
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.runStream(source, checkpointDir = Some(chk)) {
        _.foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
          graft.operators.Sinks.writeJdbcExactlyOnce(
            batch, url, "events_sunk", "event_id", s"epoch_$epochId")
          if (epochId == 0) throw new RuntimeException("injected crash after sink write")
        }
      }
    }
    assert(crashed.getMessage.contains("injected crash"))
    // the runner never deletes a caller's checkpoint, not even after a
    // failed run: epoch 0's offsets are still there to resume from
    assert(Files.exists(Paths.get(chk, "offsets", "0")))
    // the crashed epoch's rows ARE durable (the sink committed)
    assert(graft.operators.Sinks.readJdbc(spark, url, "events_sunk").count() == 10)
    // run 2, same checkpoint: epoch 0 REPLAYS with the same epochId,
    // then epoch 1 proceeds — exactly 15 rows, no dupes
    StreamOps.runStream(source, checkpointDir = Some(chk)) {
      _.foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        graft.operators.Sinks.writeJdbcExactlyOnce(
          batch, url, "events_sunk", "event_id", s"epoch_$epochId")
      }
    }
    val got = graft.operators.Sinks.readJdbc(spark, url, "events_sunk")
      .select(col("event_id").cast("long")).as[Long].collect().sorted.toSeq
    assert(got == (0L until 15L), s"exactly-once violated across replay: $got")
  }

  test("stream_sink_jdbc twin: sunk table equals the event stream, reps idempotent") {
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "DuckDB JDBC driver not on classpath")
    val once = StreamOps.streamSinkJdbcQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = Tables.load(spark, TestSession.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
      .collect().map(_.toSeq).toSeq
    assert(once == batch && once.nonEmpty)
    // a second full replay into the same database must not duplicate
    val again = StreamOps.streamSinkJdbcQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(again == batch)
  }

  test("store-backed exact dedup: later batches drop content admitted by earlier ones") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import graft.functions.TextFunctions.fingerprint
    val base = Scratch.dir("sdedupstore")
    val streamDir = Files.createDirectory(base.resolve("documents.parquet"))
    def writeBatch(rows: Seq[(Long, String)], name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sdedup_part").toString
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    // batch 1: two copies of A (within-batch collapse -> min id 0), one B
    writeBatch(Seq((0L, "alpha beta"), (1L, "alpha beta"), (2L, "gamma")),
      "b1.parquet", 1000000L)
    // batch 2: another copy of A (cross-batch drop) and new content C
    writeBatch(Seq((3L, "alpha beta"), (4L, "delta")), "b2.parquet", 2000000L)
    val got = StreamOps.streamExactDedupStoreQuery(spark, base.toString)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 2L, 4L), s"store dedup survivors: $got")
  }

  test("stream-scored anomalies equal the batch z-scores on the fixture") {
    import graft.operators.Events
    val key = (r: org.apache.spark.sql.Row) => r.toSeq.toList
    val streamed = StreamOps.streamAnomaliesQuery(spark, TestSession.sfDir)
      .collect().map(key).toSeq
    val batch = Events.anomalies(spark, TestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming ANN store: per-bucket compaction preserves serving results") {
    // the store accretes one file per micro-batch per bucket — the
    // layout-hygiene composition a continuously-ingesting store runs:
    // compactPartitioned per bucket dir, serving unchanged after
    val before = StreamOps.streamLshTopKQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val store = TestSession.servedStore(StreamOps.lshStore(spark, TestSession.sfDir, 6))
    val rewritten = graft.operators.Sinks.compactPartitioned(spark, store,
      targetBytes = 1L << 30)
    assert(rewritten > 0, "expected the store's buckets to compact")
    // bucket=* structure intact: hive partition dirs survive the rewrite
    val buckets = new java.io.File(store).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(buckets.nonEmpty)
    // each compacted bucket holds ONE parquet part (fixture-sized data)
    buckets.foreach { b =>
      val parts = b.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${b.getName}: ${parts.length} parts")
    }
    val after = StreamOps.streamLshTopKQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("streaming bloom decontamination equals the exact-broadcast batch result") {
    val bloom = StreamOps.streamBloomDecontaminateQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = graft.operators.Dedup.decontaminate(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bloom == exact && bloom.nonEmpty)
  }

  test("store-backed near-dup: cross-batch signatures feed the LSH keep, matching batch") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = Scratch.dir("sneardupstore")
    val streamDir = Files.createDirectory(base.resolve("documents.parquet"))
    def writeBatch(rows: Seq[(Long, String)], name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sneardup_part").toString
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    // batch 1 admits the representative; batch 2 carries a NEAR dup of
    // it (one word changed) — detecting that pair requires the batch-1
    // signatures to still be in the store when batch 2 is served
    writeBatch(Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different words entirely unrelated text")),
      "b1.parquet", 1000000L)
    writeBatch(Seq(
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "another separate topic about nothing shared here")),
      "b2.parquet", 2000000L)
    val streamed = StreamOps.streamNearDupStoreQuery(spark, base.toString)
      .collect().map(_.getLong(0)).toSeq
    val batch = graft.operators.Dedup.keepFromPairs(spark, base.toString,
        graft.operators.Dedup.lshPairs(spark, base.toString))
      .collect().map(_.getLong(0)).toSeq
    assert(streamed == batch, s"store-served $streamed != batch $batch")
    // the cross-batch near dup was dropped, its batch-1 representative kept
    assert(streamed.contains(0L) && !streamed.contains(2L), s"survivors: $streamed")
  }

  test("store-backed image near-dup: cross-batch hashes pair, band-partitioned at rest") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val base = Scratch.dir("simgstore")
    val streamDir = Files.createDirectory(base.resolve("documents.parquet"))
    def writeBatch(rows: Seq[(Long, String)], name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("simg_part").toString
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    // the 18x7 raster reads the first 126 bytes: docs 0 (batch 1) and 3
    // (batch 2, both %3==0) share that prefix and differ at the tail —
    // an identical dHash detectable only if batch-1 hashes persist
    val prefix = ("the quick brown fox jumps over the lazy dog and then " +
      "keeps running through the long meadow toward the river bank " +
      "and far beyond it into the hills").take(126)
    assert(prefix.length == 126)
    writeBatch(Seq(
      (0L, prefix + " tail one"),
      (6L, "completely different pixels here from unrelated words forever and ever" * 2)),
      "b1.parquet", 1000000L)
    writeBatch(Seq(
      (3L, prefix + " other end"),
      (9L, "another separate raster about nothing shared with anything else at all" * 2)),
      "b2.parquet", 2000000L)
    val streamed = StreamOps.streamImageNearDupStoreQuery(spark, base.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val batch = graft.operators.Multimodal.imageNearDupPairs(spark, base.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(streamed == batch, s"store-served $streamed != batch $batch")
    assert(streamed.contains((0L, 3L, 0)), s"cross-batch pair missing: $streamed")
    // at-rest layout: band-partitioned directories (the serve path's
    // join key and the membership read's pruning column)
    val store = new java.io.File(TestSession.servedStore(
      StreamOps.imageHashStore(spark, base.toString)))
    val bands = store.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(bands.toSeq == (0 until 4).map(b => s"band=$b"),
      s"expected band partitions, got ${bands.toSeq}")
  }

  test("streaming retention equals the batch triangle on the fixture") {
    import graft.operators.Events
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getTimestamp(0).toString, r.getInt(1), r.getLong(2))
    val streamed = StreamOps.streamRetentionQuery(spark, TestSession.sfDir)
      .collect().map(key).toSeq
    val batch = Events.retention(spark, TestSession.sfDir)
      .collect().map(key).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming CMS store: zip-added per-batch partials equal the batch sketch bit-for-bit") {
    val streamed = StreamOps.streamCmsCountsQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.operators.Sketches.eventsCmsCounts(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // CMS contract survives the store roundtrip: estimate never undercounts
    streamed.foreach { case (_, _, nExact, nCms) => assert(nCms >= nExact) }
  }

  test("streaming KMV store: merged per-batch partials equal the batch sketch, " +
    "bit-for-bit, in the ESTIMATING regime") {
    val streamed = StreamOps.streamKmvDistinctQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.Sketches.distinctUsersKmv(spark, TestSession.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty)

    // the property the store RELIES on, forced into the estimating
    // regime (k = 8 far below the fixture's distinct users) and batched
    // three arbitrary ways: k-min of distinct-unioned per-slice k-mins
    // == k-min of one pass over everything
    import graft.functions.NativeFunctions.kmvMins
    import graft.operators.Sketches
    val k = 8
    val ev = graft.Tables.loadWide(spark, TestSession.sfDir, "events")
      .select(col("event_type"), Sketches.kmvHash(col("user_id")).as("h"))
    val whole = ev.groupBy(col("event_type")).agg(kmvMins(col("h"), k).as("mins"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    val sliced = ev.withColumn("slice", col("h") % 3)
      .groupBy(col("event_type"), col("slice"))
      .agg(kmvMins(col("h"), k).as("mins"))
      .groupBy(col("event_type"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))),
        1, k).as("mins"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    assert(whole.nonEmpty && whole.keySet == sliced.keySet)
    whole.foreach { case (t, mins) =>
      assert(mins.length == k, s"$t not in the estimating regime")
      assert(sliced(t) == mins, s"$t: merged partials diverge from one pass")
    }

    // the set-algebra serve consumes the same merged store sketches:
    // store-served pairwise estimates equal the batch operator's rows
    val setStream = StreamOps.streamKmvSetopsQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val setBatch = graft.operators.Sketches.kmvSetOps(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(setStream == setBatch && setStream.nonEmpty)
  }

  test("streaming k-NN graph store: edge-store compaction preserves the served graph") {
    // the edge store is rewritten per touched bucket each batch and
    // accretes files; same layout-hygiene composition as the ANN store
    val before = StreamOps.streamKnnGraphStoreQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val (_, edgeDir) = TestSession.servedStore(
      StreamOps.knnGraphStreamStore(spark, TestSession.sfDir))
    val rewritten = graft.operators.Sinks.compactPartitioned(spark, edgeDir,
      targetBytes = 1L << 30)
    assert(rewritten > 0, "expected the edge store's buckets to compact")
    val after = StreamOps.streamKnnGraphStoreQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(after == before && after.nonEmpty)
  }

  test("streaming Misra-Gries store: merged per-batch partials equal batch " +
    "lang_top_words in the exact regime; the n-way Agarwal restore fires " +
    "correctly past cap") {
    import spark.implicits._
    val streamed = StreamOps.streamTopFreqStoreQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.TextAnalytics.langTopWords(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // estimating regime, forced: two crafted partials over cap = 2.
    // summed: a:9, c:6, b:3 -> size 3 > 2 -> subtract 3rd largest (3)
    // -> a:6, c:3 (b drops). The MG under-estimate survives the merge.
    val parts = Seq(
      ("en", 0L, Seq(("a", 5L), ("b", 3L))),
      ("en", 1L, Seq(("a", 4L), ("c", 6L))))
      .toDF("lang_pred", "batch_id", "raw")
      .select(col("lang_pred"), col("batch_id"),
        expr("transform(raw, r -> struct(r._1 AS item, r._2 AS cnt))").as("tf"))
    val merged = StreamOps.mergedTopFreq(parts, cap = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(merged == Set(("en", "a", 6L), ("en", "c", 3L)), merged)
  }

  test("stream-scored DSIR selection equals the batch ranking on the fixture") {
    val streamed = StreamOps.streamDsirSelectQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.TextAnalytics.dsirSelect(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("DSIR model refresh: latest committed version reproduces the batch " +
    "ranking, and a crash-replayed epoch changes nothing") {
    import graft.operators.TextAnalytics
    val served = StreamOps.streamDsirRefreshQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = TextAnalytics.dsirSelect(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(served == batch && served.nonEmpty)
    val (featsDir, countsDir, modelDir) =
      TestSession.servedStore(StreamOps.dsirRefreshStores(spark, TestSession.sfDir))
    val epochsBefore = spark.read.parquet(modelDir)
      .select("epoch").distinct().count()
    assert(epochsBefore >= 1)
    // crash-replay the LAST epoch: the same batch docs re-enter the
    // ingest body with the same epochId (foreachBatch's at-least-once
    // contract) — every append re-writes byte-identical rows that the
    // read-side dedupes collapse
    val feats = spark.read.parquet(featsDir)
    val lastEpoch = feats.agg(max(col("batch_id"))).head().getLong(0)
    val docIds = feats.filter(col("batch_id") === lastEpoch)
      .select("doc_id").distinct()
    val docs = graft.Tables.load(spark, TestSession.sfDir, "documents")
      .join(docIds, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"))
    StreamOps.ingestDsirRefreshBatch(docs, lastEpoch, featsDir, countsDir,
      modelDir, 4096, "en")
    val replayed = StreamOps.streamDsirRefreshQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(replayed == served, "replayed epoch changed the served ranking")
    val epochsAfter = spark.read.parquet(modelDir)
      .select("epoch").distinct().count()
    assert(epochsAfter == epochsBefore, "replay minted a new model version")
  }

  test("streaming k-NN graph store: a genuine multi-batch build equals the " +
    "batch graph at the pinned width (merge path: old->fresh reversal + " +
    "running top-deg rewrite)") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Similarity
    val base = Scratch.dir("sknngraph")
    val streamDir = Files.createDirectory(base.resolve("embeddings.parquet"))
    val emb = spark.read.parquet(TestSession.sfDir + "/embeddings.parquet")
    // three arbitrary id-range batches with pinned strictly-increasing
    // mtimes (FileStreamSource replays in modification-time order)
    def writeBatch(lo: Long, hi: Long, name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sknn_part").toString
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(0L, 150L, "b1.parquet", 1000000L)
    writeBatch(150L, 320L, "b2.parquet", 2000000L)
    writeBatch(320L, 100000L, "b3.parquet", 3000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val streamed = StreamOps.streamKnnGraphStoreQuery(spark, base.toString)
      .collect().map(key).toSeq
    val batch = Similarity.knnGraph(spark, base.toString, deg = 8,
        bitsOpt = Some(6))
      .collect().map(key).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // layout hygiene: node store partitioned by sign bucket, edge store
    // by src bucket — the prune keys of the ingest path's reads
    val (nodeDir, edgeDir) = TestSession.servedStore(
      StreamOps.knnGraphStreamStore(spark, base.toString))
    assert(new java.io.File(nodeDir).list().exists(_.startsWith("bucket=")))
    assert(new java.io.File(edgeDir).list().exists(_.startsWith("gbucket=")))
    // the merge path genuinely ran: batch 2/3 must have rewritten
    // partitions (a src ingested in batch 1 holds edges to later ids)
    val early = streamed.filter { case (src, _, dst, _) => src < 150 && dst >= 150 }
    assert(early.nonEmpty, "no cross-batch edges — merge path never exercised")
  }

  test("streaming IVF cell store: a genuine multi-batch build serves the " +
    "identical top-k as the in-plan IVF, and a crash-replayed batch " +
    "changes nothing") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Similarity
    val base = Scratch.dir("sivf")
    val streamDir = Files.createDirectory(base.resolve("embeddings.parquet"))
    val emb = spark.read.parquet(TestSession.sfDir + "/embeddings.parquet")
    def writeBatch(lo: Long, hi: Long, name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("sivf_part").toString
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(0L, 120L, "b1.parquet", 1000000L)
    writeBatch(120L, 100000L, "b2.parquet", 2000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val streamed = StreamOps.streamIvfTopKQuery(spark, base.toString, nQueries = 5)
      .collect().map(key).toSeq
    val inPlan = Similarity.ivfTopK(spark, base.toString, nQueries = 5)
      .collect().map(key).toSeq
    assert(streamed == inPlan && streamed.nonEmpty)
    // layout hygiene + replay: cell partitions on disk, and a replayed
    // batch anti-joins away against its own cells
    val codebook = Similarity.seedCodebook(
      spark.read.parquet(base.toString + "/embeddings.parquet"), 8)
    val storeDir = TestSession.servedStore(
      StreamOps.ivfStreamStore(spark, base.toString, 8, codebook))
    assert(new java.io.File(storeDir).list().exists(_.startsWith("cell=")))
    val countBefore = spark.read.parquet(storeDir).count()
    Similarity.appendIvfCells(
      emb.filter(col("vec_id") >= 0 && col("vec_id") < 120)
        .select(col("vec_id"), col("embedding")),
      storeDir, codebook)
    assert(spark.read.parquet(storeDir).count() == countBefore,
      "replayed batch re-admitted rows")
    val replayed = StreamOps.streamIvfTopKQuery(spark, base.toString, nQueries = 5)
      .collect().map(key).toSeq
    assert(replayed == streamed)
  }

  test("streaming PQ code store: a genuine multi-batch build serves the " +
    "identical top-k as the in-plan PQ+rerank, and a crash-replayed batch " +
    "changes nothing") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Similarity
    val base = Scratch.dir("spq")
    val streamDir = Files.createDirectory(base.resolve("embeddings.parquet"))
    val emb = spark.read.parquet(TestSession.sfDir + "/embeddings.parquet")
    def writeBatch(lo: Long, hi: Long, name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("spq_part").toString
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(0L, 150L, "b1.parquet", 1000000L)
    writeBatch(150L, 100000L, "b2.parquet", 2000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val streamed = StreamOps.streamPqTopKQuery(spark, base.toString, nQueries = 5)
      .collect().map(key).toSeq
    val inPlan = Similarity.pqRerankTopK(spark, base.toString, nQueries = 5)
      .collect().map(key).toSeq
    assert(streamed == inPlan && streamed.nonEmpty)
    // replay: re-append batch 1 through the kernel — the anti-join
    // admits nothing
    val codebook = Similarity.seedCodebook(
      spark.read.parquet(base.toString + "/embeddings.parquet"), 8)
    val storeDir = TestSession.servedStore(
      StreamOps.pqStreamStore(spark, base.toString, 8, 4, 64, codebook))
    val countBefore = spark.read.parquet(storeDir).count()
    Similarity.appendPqCodes(
      emb.filter(col("vec_id") < 150).select(col("vec_id"), col("embedding")),
      storeDir, codebook, m = 4, dim = 64)
    assert(spark.read.parquet(storeDir).count() == countBefore,
      "replayed batch re-admitted rows")
    val replayed = StreamOps.streamPqTopKQuery(spark, base.toString, nQueries = 5)
      .collect().map(key).toSeq
    assert(replayed == streamed)
  }

  test("ANN store re-bucketing: widening the pinned bits is a store rewrite that " +
    "serves the fresh-index results") {
    import graft.operators.{Similarity, Sinks}
    // build the streamed bits-6 store (memoized), then migrate a copy
    // to bits 8 — the bucket is a pure function of the stored vector
    StreamOps.streamLshTopKQuery(spark, TestSession.sfDir, bits = 6)
      .limit(1).collect()
    val store6 = TestSession.servedStore(StreamOps.lshStore(spark, TestSession.sfDir, 6))
    val store8 = Scratch.dir("lsh_rebucket").toString
    val n = Sinks.rebucketPartitioned(spark, store6, store8, "bucket",
      Similarity.signBucket(col("embedding"), 8), sortCols = Seq("vec_id"))
    assert(n > 0)
    // layout: the widened store's partition dirs span past the 6-bit range
    val dirs = new java.io.File(store8).list().filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt)
    assert(dirs.exists(_ > 63), s"no bucket above 63 after widening: ${dirs.sorted.mkString(",")}")
    // serving the migrated store at bits 8 equals the fresh bits-8 index
    val served = Similarity.serveLshTopKFromStore(spark, TestSession.sfDir,
        store8, bits = 8)
      .collect().map(_.toSeq).toSeq
    val fresh = Similarity.lshTopK(spark, TestSession.sfDir, bitsOpt = Some(8))
      .collect().map(_.toSeq).toSeq
    assert(served == fresh && served.nonEmpty)
  }

  test("streaming HNSW hierarchy: per-layer edge-store compaction preserves the served walk") {
    val before = StreamOps.streamHnswSearchQuery(spark, TestSession.sfDir,
        nQueries = 5, stepsUpper = 2, beamWidth = 4, steps = 3)
      .collect().map(_.toSeq).toSeq
    val stores = TestSession.servedStore(StreamOps.hnswStreamStores(spark, TestSession.sfDir))
    // a layer whose batch had no candidates holds only a _SUCCESS
    // marker — nothing to compact (and nothing read at serve either)
    val rewritten = stores.map { case (_, edgeDir) =>
      val entries = Option(new java.io.File(edgeDir).list()).getOrElse(Array())
      if (entries.exists(n => !n.startsWith("_") && !n.startsWith(".")))
        graft.operators.Sinks.compactPartitioned(spark, edgeDir,
          targetBytes = 1L << 30)
      else 0L
    }.sum
    assert(rewritten > 0, "expected at least one layer's buckets to compact")
    val after = StreamOps.streamHnswSearchQuery(spark, TestSession.sfDir,
        nQueries = 5, stepsUpper = 2, beamWidth = 4, steps = 3)
      .collect().map(_.toSeq).toSeq
    assert(after == before && after.nonEmpty)
  }

  test("streaming IVF cell store: per-cell compaction preserves serving results") {
    val before = StreamOps.streamIvfTopKQuery(spark, TestSession.sfDir, nQueries = 5)
      .collect().map(_.toSeq).toSeq
    val storeDir = TestSession.servedStore(
      StreamOps.ivfStreamStore(spark, TestSession.sfDir, 8,
        graft.operators.Similarity.seedCodebook(
          Tables.loadWide(spark, TestSession.sfDir, "embeddings"), 8)))
    val rewritten = graft.operators.Sinks.compactPartitioned(spark, storeDir,
      targetBytes = 1L << 30)
    assert(rewritten > 0, "expected the cell store's partitions to compact")
    val after = StreamOps.streamIvfTopKQuery(spark, TestSession.sfDir, nQueries = 5)
      .collect().map(_.toSeq).toSeq
    assert(after == before && after.nonEmpty)
  }

  test("streaming BM25 postings store: per-bucket compaction preserves the served ranking") {
    val before = StreamOps.streamBm25StoreQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val (postingsDir, _) = TestSession.servedStore(
      StreamOps.bm25StreamStore(spark, TestSession.sfDir))
    val rewritten = graft.operators.Sinks.compactPartitioned(spark, postingsDir,
      targetBytes = 1L << 30)
    assert(rewritten > 0, "expected the postings store's partitions to compact")
    val after = StreamOps.streamBm25StoreQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(after == before && after.nonEmpty)
  }

  test("streaming HNSW hierarchy: a genuine multi-batch build serves the " +
    "identical walk as the in-plan search at the pinned per-layer widths, " +
    "and a crash-replayed batch changes nothing") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Similarity
    val base = Scratch.dir("shnsw")
    val streamDir = Files.createDirectory(base.resolve("embeddings.parquet"))
    val emb = spark.read.parquet(TestSession.sfDir + "/embeddings.parquet")
    def writeBatch(lo: Long, hi: Long, name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("shnsw_part").toString
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(0L, 150L, "b1.parquet", 1000000L)
    writeBatch(150L, 320L, "b2.parquet", 2000000L)
    writeBatch(320L, 100000L, "b3.parquet", 3000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val streamed = StreamOps.streamHnswSearchQuery(spark, base.toString,
        nQueries = 5, stepsUpper = 2, beamWidth = 4, steps = 3)
      .collect().map(key).toSeq
    val inPlan = Similarity.hnswSearch(spark, base.toString,
        nQueries = 5, stepsUpper = 2, beamWidth = 4, steps = 3,
        layerBits = Some(StreamOps.hnswStreamBits))
      .collect().map(key).toSeq
    assert(streamed == inPlan && streamed.nonEmpty)
    // per-layer layout hygiene: every populated layer store carries its
    // prune keys as partition dirs
    val stores = TestSession.servedStore(StreamOps.hnswStreamStores(spark, base.toString))
    assert(new java.io.File(stores(0)._1).list().exists(_.startsWith("bucket=")))
    assert(new java.io.File(stores(0)._2).list().exists(_.startsWith("gbucket=")))
    // crash-replay: re-ingest the SECOND batch by hand (at-least-once);
    // the merge dedupes re-proposals, so the served walk is unchanged
    StreamOps.ingestHnswBatch(spark,
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 320)
        .select(col("vec_id"), col("embedding")),
      stores, deg = 8)
    val replayed = StreamOps.streamHnswSearchQuery(spark, base.toString,
        nQueries = 5, stepsUpper = 2, beamWidth = 4, steps = 3)
      .collect().map(key).toSeq
    assert(replayed == streamed, "replayed batch changed the served walk")
  }

  test("streaming k-NN graph store: a crash-replayed batch (edges written, " +
    "nodes not yet admitted) merges to the identical graph — no duplicate " +
    "neighbor slots") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(TestSession.sfDir + "/embeddings.parquet")
    val nodeDir = Scratch.dir("crash_nodes").toString
    val edgeDir = Scratch.dir("crash_edges").toString
    val b1 = emb.filter(col("vec_id") < 200)
    val b2 = emb.filter(col("vec_id") >= 200)
    // first attempt of batch 1 "crashes" after the edge write: replicate
    // by ingesting into scratch stores and keeping only the edge dir
    val scratchNodes = Scratch.dir("crash_scratch").toString
    StreamOps.ingestGraphBatch(spark, b1, scratchNodes, edgeDir, 8, 6)
    // the re-run sees its edges persisted but its nodes still fresh
    StreamOps.ingestGraphBatch(spark, b1, nodeDir, edgeDir, 8, 6)
    StreamOps.ingestGraphBatch(spark, b2, nodeDir, edgeDir, 8, 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("score").desc, col("dst"))
    val got = spark.read.parquet(edgeDir)
      .withColumn("rn", row_number().over(w))
      .select(col("src"), col("rn"), col("dst"), col("score"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    val batch = Similarity.knnGraph(spark, TestSession.sfDir, deg = 8,
        bitsOpt = Some(6))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == batch && got.nonEmpty)
    // explicitly: no src lists the same neighbor twice
    val dups = got.groupBy(r => (r._1, r._3)).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate neighbor slots: ${dups.keys.take(3)}")
  }

  test("pageRank over the streamed graph store equals the batch rank at the pinned width") {
    import graft.operators.Similarity
    val streamed = StreamOps.streamPageRankQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = Similarity.pageRank(spark, TestSession.sfDir,
      bitsOpt = Some(6)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streamed weighted sample equals the batch draw; multi-batch folds " +
    "and replays land on the same reservoir") {
    import graft.operators.TextAnalytics
    val streamed = StreamOps.streamWeightedSampleQuery(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = TextAnalytics.weightedSample(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // multi-batch induction: fold the corpus through the reservoir in 3
    // arbitrary slices (+ one REPLAYED slice) and compare to one shot
    val priced = Tables.load(spark, TestSession.sfDir, "documents")
      .select(col("doc_id"), col("n_chars"),
        expr(s"((((2654435761 * (doc_id % 1000000007)) % 1000000007" +
          s" + 40503) % 1000000007)" +
          " * 100000) div (n_chars + 1)").as("priority"))
    val slices = Seq(
      priced.filter(col("doc_id") % 3 === 0),
      priced.filter(col("doc_id") % 3 === 1),
      priced.filter(col("doc_id") % 3 === 1), // crash-replayed slice
      priced.filter(col("doc_id") % 3 === 2))
    val folded = slices.foldLeft(priced.limit(0)) { (prev, b) =>
      StreamOps.mergeTopPriorities(b, prev, 50).localCheckpoint(true)
    }.orderBy(col("priority"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val oneShot = StreamOps.mergeTopPriorities(priced, priced.limit(0), 50)
      .orderBy(col("priority"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(folded == oneShot)
  }

  test("streamed vocabulary-growth curve equals the batch Heaps checkpoints; " +
    "replayed token partials and seen-word rows change nothing") {
    import graft.operators.TextAnalytics
    def curve = StreamOps.streamCorpusStatsQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = TextAnalytics.corpusStats(spark, TestSession.sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val first = curve
    assert(first == batch && first.nonEmpty)
    // crash-replay: re-append one epoch's token partials (same batch_id
    // — the max-merge key) and a duplicate slice of seen words (the
    // min-merge absorbs them); the served curve must not move
    val (seenDir, tokDir) =
      TestSession.servedStore(StreamOps.corpusStatsStores(spark, TestSession.sfDir))
    val parts = spark.read.parquet(tokDir)
    parts.filter(col("batch_id") === parts.agg(min(col("batch_id")))
        .head().getLong(0))
      .coalesce(1).write.mode("append").parquet(tokDir)
    val seen = spark.read.parquet(seenDir)
    seen.limit(100).select(col("w"), col("bucket"), col("wbucket"))
      .write.mode("append").partitionBy("wbucket").parquet(seenDir)
    assert(curve == batch)
  }

  test("stream-accreted BM25 postings store serves the batch ranking; " +
    "a crash-replayed batch changes nothing") {
    import graft.operators.TextAnalytics
    import graft.functions.TextFunctions.words
    val terms = Seq("vector", "scan", "merge")
    def served = StreamOps.streamBm25StoreQuery(spark, TestSession.sfDir, terms)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = TextAnalytics.bm25Search(spark, TestSession.sfDir, terms)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val first = served
    assert(first == batch && first.nonEmpty)
    // replay: re-append one batch's documents through the ingest kernel
    // (what an at-least-once restart does); max-merge must absorb it
    val (pd, dd) = TestSession.servedStore(StreamOps.bm25StreamStore(spark, TestSession.sfDir))
    TextAnalytics.appendBm25(Tables.load(spark, TestSession.sfDir, "documents")
        .limit(50)
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .filter(col("word") =!= ""),
      pd, dd)
    assert(served == batch)
  }

  test("stream-accreted positional postings store serves the batch phrase " +
    "ranking; a crash-replayed batch changes nothing") {
    import graft.operators.TextAnalytics
    val phrase = Seq("vector", "small")
    def served = StreamOps.streamPhraseStoreQuery(spark, TestSession.sfDir, phrase)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = TextAnalytics.phraseSearch(spark, TestSession.sfDir, phrase)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val first = served
    assert(first == batch && first.nonEmpty)
    // replay: re-append one batch's documents through the ingest kernel
    // (what an at-least-once restart does); the serve's distinct over
    // (word, doc_id, pos) must absorb them
    val pd = TestSession.servedStore(StreamOps.phraseStreamStore(spark, TestSession.sfDir))
    TextAnalytics.appendPhrasePostings(
      Tables.load(spark, TestSession.sfDir, "documents").limit(50), pd)
    assert(served == batch)
  }

  test("stream-applied BPE tokenizer equals the batch per-doc counts") {
    val streamed = StreamOps.streamBpeTokenizeQuery(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.operators.TextAnalytics.bpeTokenize(spark, TestSession.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // subword count is never below word count: a segmentation has >= 1 symbol
    streamed.foreach { case (_, nw, ns) => assert(ns >= nw) }
  }

  test("BPE partial merge absorbs a crash-replayed micro-batch's partials " +
    "AND sums a doc that split across two epochs") {
    // per-(doc, batch) partials as foreachBatch writes them, epoch-
    // stamped: an at-least-once restart re-appends an IDENTICAL
    // (doc, epoch) slice — max-per-epoch must be a no-op where a sum
    // would double-count — while a doc whose tokens genuinely split
    // across two DISTINCT epochs must SUM, not silently undercount
    import spark.implicits._
    val parts = Seq((1L, 4L, 6L, 0L), (2L, 3L, 3L, 0L), (3L, 10L, 14L, 1L))
      .toDF("doc_id", "nw", "ns", "epoch")
    def merged(p: org.apache.spark.sql.DataFrame) =
      StreamOps.mergeBpePartials(p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val once = merged(parts)
    assert(once == Seq((1L, 4L, 6L), (2L, 3L, 3L), (3L, 10L, 14L)))
    // replays: identical (doc, epoch) rows re-appended — absorbed
    assert(merged(parts.union(parts.limit(2))) == once)
    assert(merged(parts.union(parts)) == once)
    // a genuine cross-epoch split: doc 1's remaining tokens arrive in
    // epoch 1 — the merge must carry BOTH slices
    val split = parts.union(Seq((1L, 2L, 5L, 1L)).toDF("doc_id", "nw", "ns", "epoch"))
    assert(merged(split) == Seq((1L, 6L, 11L), (2L, 3L, 3L), (3L, 10L, 14L)))
  }

  test("seen-word store charges a word to its MIN bucket in any arrival " +
    "order; replays are no-ops") {
    import spark.implicits._
    val sd = Scratch.dir("seen_ooo").toString
    def upd(rows: Seq[(String, Int)]): Unit =
      StreamOps.updateSeenWords(spark, sd, rows.toDF("w", "bucket"))
    def served = spark.read.parquet(sd)
      .groupBy(col("w")).agg(min(col("bucket")).as("bucket"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    // batch 1 arrives LATE in doc order: zebra first seen at bucket 5
    upd(Seq(("zebra", 5), ("apple", 3)))
    assert(served == Map("zebra" -> 5, "apple" -> 3))
    // out-of-order batch 2 carries zebra's true earlier sighting
    upd(Seq(("zebra", 2), ("mango", 7)))
    assert(served == Map("zebra" -> 2, "apple" -> 3, "mango" -> 7))
    // crash-replay of batch 2: identical rows, nothing strictly smaller
    val before = spark.read.parquet(sd).count()
    upd(Seq(("zebra", 2), ("mango", 7)))
    assert(spark.read.parquet(sd).count() == before)
    assert(served == Map("zebra" -> 2, "apple" -> 3, "mango" -> 7))
    // a LATER sighting of a seen word must not append either
    upd(Seq(("apple", 9)))
    assert(spark.read.parquet(sd).count() == before)
  }

  test("streamed corpus curation: a genuine multi-batch fold lands on the " +
    "exact batch curation (dedup store + quality + decontamination + " +
    "reservoir, composed online)") {
    import java.nio.file.{Files, Paths}
    import graft.operators.TextAnalytics
    val base = Scratch.dir("scuration")
    val streamDir = Files.createDirectory(base.resolve("documents.parquet"))
    val docs = spark.read.parquet(TestSession.sfDir + "/documents.parquet")
    // ascending doc_id ranges: the fp store's keeper contract is
    // arrival in doc order (first-seen = min doc_id), like ingest
    def writeBatch(lo: Long, hi: Long, name: String, mtimeMs: Long): Unit = {
      val tmp = Scratch.dir("scur_part").toString
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      import scala.jdk.CollectionConverters._
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
    }
    writeBatch(0L, 60L, "b1.parquet", 1000000L)
    writeBatch(60L, 200L, "b2.parquet", 2000000L)
    writeBatch(200L, 1000000L, "b3.parquet", 3000000L)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val streamed = StreamOps.streamCorpusCurationQuery(spark, base.toString)
      .collect().map(key).toSeq
    val batch = TextAnalytics.corpusCuration(spark, base.toString)
      .collect().map(key).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  /** Runs `body` and returns its outcome together with the checkpoint
    * directory of every streaming query it started, each found WHILE
    * that query runs: the query-started event is delivered on the
    * query's own thread before its first batch, and the checkpoint's
    * `metadata` file (written before that event) names the query id.
    * Only checkpoints under Scratch.root are searched, so a query
    * checkpointed anywhere else contributes nothing. */
  private def startedCheckpoints(body: => Unit)
      : (scala.util.Try[Unit], Seq[java.nio.file.Path]) = {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import scala.jdk.CollectionConverters._
    val found = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        val st = Files.walk(Scratch.root, 3)
        try st.iterator().asScala
          .filter(p => p.getFileName.toString == "metadata" &&
            new String(Files.readAllBytes(p), "UTF-8").contains(e.id.toString))
          .foreach(p => found.add(p.getParent))
        finally st.close()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val outcome = try scala.util.Try(body) finally spark.streams.removeListener(listener)
    (outcome, found.asScala.toSeq)
  }

  test("runToMemory drops the memory sink's temp view; the returned frame keeps the rows") {
    val streamed = StreamOps.streamTumblingQuery(spark, TestSession.sfDir)
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("stream_tumbling_")), views.mkString(", "))
    val batch = Events.tumbling(spark, TestSession.sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed.collect().map(_.toSeq).toSet == batch && batch.nonEmpty)
  }

  test("an engine stream checkpoints under Scratch while it runs; the " +
      "checkpoint is deleted once the query stops") {
    val (outcome, chks) = startedCheckpoints {
      StreamOps.streamSessionsQuery(spark, TestSession.sfDir).collect()
    }
    outcome.get
    assert(chks.size == 1, s"checkpoints under ${Scratch.root}: $chks")
    assert(chks.head.startsWith(Scratch.root))
    assert(!java.nio.file.Files.exists(chks.head), s"${chks.head} survived stop")
    assert(spark.streams.active.isEmpty)
  }

  test("runStream: a failing batch propagates, and the pinned width, the " +
      "active queries and the fresh checkpoint are all restored") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val pinned = new java.util.concurrent.atomic.AtomicReference[String]()
    val (outcome, chks) = startedCheckpoints {
      StreamOps.runStream(StreamOps.eventsStream(spark, TestSession.sfDir),
          statePartitions = Some(3)) {
        _.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          pinned.set(batch.sparkSession.conf.get(key))
          throw new RuntimeException("injected batch failure")
        }
      }
    }
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](outcome.get)
    assert(err.getMessage.contains("injected batch failure"))
    assert(pinned.get == "3", "the query did not run at the pinned width")
    assert(spark.conf.get(key) == prev)
    assert(spark.streams.active.isEmpty)
    assert(chks.size == 1 && chks.head.startsWith(Scratch.root))
    assert(!java.nio.file.Files.exists(chks.head), s"${chks.head} survived a failed run")
  }
}
