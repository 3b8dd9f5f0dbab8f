package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sinks

/** K1/K2/K4 sink contracts (SURVEY §2.9). */
class SinksSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("K2 writeDocumentsOut: documents_out shape, appendable, uuid fallback") {
    val dir = tmp("docsout") + "/documents_out"
    val rows = Seq(
      ("r1", "invoice", "text a", """{"amount":1.0}""", "mem://store/a.txt"),
      (null.asInstanceOf[String], "other", "text b", null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("record_id", "doc_type", "raw_text", "structured_data", "file_url")
      .withColumn("created_at", current_timestamp())
    Sinks.writeDocumentsOut(rows, dir)
    Sinks.writeDocumentsOut(rows.filter(col("record_id").isNotNull), dir) // append
    val out = spark.read.parquet(dir)
    assert(out.columns.toSeq == Seq("id", "doc_type", "raw_text",
      "structured_data", "file_url", "pinecone_id", "created_at"))
    assert(out.count() == 3)
    // DB-generated-id stand-in: null record_id gets a uuid, never null
    assert(out.filter(col("id").isNull).count() == 0)
    assert(out.filter(col("id") === "r1").count() == 2)
  }

  test("K2 writeDocumentsOut: one file per output size, not per input split; " +
    "the rebalance shuffle carries only the sink's columns") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeLike}
    import graft.operators.DocPipeline
    val dir = tmp("docsout_sized") + "/documents_out"
    // 64 input splits, some empty texts (error rows: null record_id,
    // uuid id) beside invoice-like rows that extract every field
    val docs = spark.range(0, 640, 1, 64).select(col("id").as("doc_id"),
      when(col("id") % 50 === 0, lit(""))
        .otherwise(concat(lit("Invoice #"), col("id"), lit(" total amount $"),
          col("id") % 97, lit(".50 due 2024-01-15, contact billing"),
          col("id"), lit("@example.com or 555-123-4567"))).as("text"))
    val persisted = DocPipeline.persist(DocPipeline.extractValidateWithRetry(
      DocPipeline.schemaLookup(spark, DocPipeline.classifyStage(
        DocPipeline.clean(DocPipeline.ingest(docs))))))
    assert(persisted.rdd.getNumPartitions >= 64)

    val aqe = new AdaptiveSparkPlanHelper {}
    val writes = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        aqe.foreach(qe.executedPlan) {
          case w: DataWritingCommandExec => w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.toString.endsWith(dir) => writes.put(w.child)
            case _ =>
          }
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      Sinks.writeDocumentsOut(persisted, dir)
      writes.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)

    val dataFiles = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    assert(dataFiles == 1)

    val cols = Seq("doc_type", "raw_text", "structured_data", "file_url")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val expected = multiset(persisted)
    assert(expected.length == 640)
    assert(multiset(spark.read.parquet(dir)) == expected)

    // the final adaptive plan: one shuffle, the hashed rebalance, fed
    // only the sink's columns
    assert(plan != null, "no write plan reached the listener")
    val shuffles = aqe.collect(plan) {
      case s: ShuffleExchangeLike => s
    }
    assert(shuffles.map(_.shuffleOrigin) == Seq(REBALANCE_PARTITIONS_BY_COL), plan)
    val shuffled = shuffles.head.child.output.map(_.name)
    assert(Seq("logs", "text_orig", "schema_variant").forall(c => !shuffled.contains(c)),
      shuffled)
  }

  test("K2 JDBC round-trip: documents_out through a live relational database") {
    // self-skips when no DuckDB JDBC driver jar was found in the local
    // cache at build time (build.sbt glob) — the parquet K2 test above
    // still covers the row contract
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "DuckDB JDBC driver not on classpath")
    val url = s"jdbc:duckdb:${tmp("jdbc")}/sink.db"
    val rows = Seq(
      ("r1", "invoice", "text a", """{"amount":1.0}""", "mem://store/a.txt"),
      ("r2", "receipt", "text b", """{"total":2.5}""", "mem://store/b.txt"),
      (null.asInstanceOf[String], "other", "text c", null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("record_id", "doc_type", "raw_text", "structured_data", "file_url")
      .withColumn("created_at", current_timestamp())
    Sinks.writeDocumentsOutJdbc(rows, url, "documents_out")
    val back = Sinks.readJdbc(spark, url, "documents_out")
    assert(back.columns.toSeq == Seq("id", "doc_type", "raw_text",
      "structured_data", "file_url", "pinecone_id", "created_at"))
    assert(back.count() == 3)
    // K2 is an INSERT sink: a second batch accumulates (parquet parity)
    Sinks.writeDocumentsOutJdbc(rows.limit(1), url, "documents_out")
    assert(Sinks.readJdbc(spark, url, "documents_out").count() == 4)
    assert(back.filter(col("id").isNull).count() == 0)
    val byId = back.collect().map(r => r.getAs[String]("doc_type") ->
      r.getAs[String]("structured_data")).toMap
    assert(byId("invoice") == """{"amount":1.0}""" && byId("other") == null)
    // arbitrary DataFrame through the generic path, multiple partitions
    val nums = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    Sinks.writeJdbc(nums, url, "nums", numPartitions = 4)
    val numsBack = Sinks.readJdbc(spark, url, "nums")
    assert(numsBack.count() == 100)
    assert(numsBack.agg(sum(col("k")).cast("long")).head().getLong(0) == 5050L)
  }

  test("exactly-once JDBC: a real task retry dupes the plain append but not the staged merge") {
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "DuckDB JDBC driver not on classpath")
    import org.apache.spark.TaskContext
    val url = s"jdbc:duckdb:${tmp("jdbc1x")}/once.db"
    // partition 0's FIRST attempt dies after yielding 3 of its rows;
    // local[4, 2] retries it and the retry sees all rows. With
    // isolationLevel=NONE + batchsize=1 each row commits immediately, so
    // the failed attempt's rows are durable — the classic dupe scenario.
    def flaky = spark.range(0, 20, 1, 2).toDF("id").as[Long].mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0)
        it.zipWithIndex.map { case (v, i) =>
          if (i == 3) throw new RuntimeException("injected task failure") else v
        }
      else it
    }.toDF("id")
    val leaky = Map("isolationLevel" -> "NONE", "batchsize" -> "1")

    Sinks.writeJdbc(flaky, url, "plain", numPartitions = 2, writeOptions = leaky)
    val plainRows = Sinks.readJdbc(spark, url, "plain").count()
    assert(plainRows > 20, s"expected duplicated rows in plain append, got $plainRows")

    Sinks.writeJdbcExactlyOnce(flaky, url, "target", key = "id",
      batchId = "b1", numPartitions = 2, writeOptions = leaky)
    val got = Sinks.readJdbc(spark, url, "target")
      .selectExpr("CAST(id AS LONG) AS id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 20L), s"exactly-once violated: $got")

    // same batch re-run (driver-level retry): still no dupes
    Sinks.writeJdbcExactlyOnce(spark.range(0, 20, 1, 2).toDF("id"), url, "target",
      key = "id", batchId = "b1", numPartitions = 2)
    assert(Sinks.readJdbc(spark, url, "target").count() == 20)
    // next batch with fresh ids appends
    Sinks.writeJdbcExactlyOnce(spark.range(20, 25).toDF("id"), url, "target",
      key = "id", batchId = "b2")
    assert(Sinks.readJdbc(spark, url, "target").count() == 25)
    // no stage tables left behind
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT count(*) FROM information_schema.tables WHERE table_name LIKE '%__stage_%'")
      rs.next(); assert(rs.getLong(1) == 0L)
    } finally conn.close()
  }

  test("exactly-once JDBC: the commit ledger makes a replayed batch id a no-op") {
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "DuckDB JDBC driver not on classpath")
    val url = s"jdbc:duckdb:${tmp("jdbcledger")}/ledger.db"
    Sinks.writeJdbcExactlyOnce(spark.range(0, 10).toDF("id"), url, "t",
      key = "id", batchId = "e1")
    // Structured Streaming's contract: the same epoch id always carries
    // the same rows. The ledger therefore skips a committed batch id
    // ENTIRELY — no stage write, no merge — so even rows the key
    // anti-join would admit must not land under a replayed id...
    Sinks.writeJdbcExactlyOnce(spark.range(100, 110).toDF("id"), url, "t",
      key = "id", batchId = "e1")
    assert(Sinks.readJdbc(spark, url, "t").count() == 10)
    // ...while a fresh batch id takes the full stage-and-merge path
    Sinks.writeJdbcExactlyOnce(spark.range(100, 110).toDF("id"), url, "t",
      key = "id", batchId = "e2")
    assert(Sinks.readJdbc(spark, url, "t").count() == 20)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT count(*) FROM __graft_commits WHERE table_name = 't'")
      rs.next(); assert(rs.getLong(1) == 2L)
    } finally conn.close()
  }

  test("anchor connection: committed rows survive connection churn (duckdb instance cycling)") {
    // Root cause of the round-6 exactly-once flake: DuckDB JDBC 1.0.0
    // cycles an embedded file-db instance when its last connection
    // closes, and under concurrent churn a cycle loses WAL-only commits
    // (reproduced: a plain JDBC insert loop through short-lived
    // connections DROPS rows while other threads churn connections on
    // other dbs). The sink pins one anchor connection per URL; this
    // spec drives the same churn through the sink-registered URL and
    // must see zero loss.
    assume(scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess,
      "DuckDB JDBC driver not on classpath")
    val dir = tmp("anchor")
    val url = s"jdbc:duckdb:$dir/main.db"
    // first touch through the sink registers the anchor for this URL
    Sinks.writeJdbc(Seq((0L, "seed")).toDF("k", "v"), url, "target")
    @volatile var stop = false
    // throttled: every open/close cycles a whole embedded instance
    // (worker threads included) — unthrottled churn exhausts pthreads
    val churners = (1 to 2).map { t =>
      val th = new Thread(() => {
        val u = s"jdbc:duckdb:$dir/other_$t.db"
        var i = 0
        while (!stop) {
          val c = java.sql.DriverManager.getConnection(u)
          try {
            val st = c.createStatement()
            st.execute("CREATE TABLE IF NOT EXISTS t (x BIGINT)")
            st.execute(s"INSERT INTO t VALUES ($i)")
          } finally c.close()
          i += 1
          Thread.sleep(2)
        }
      })
      th.setDaemon(true); th.start(); th
    }
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    try {
      var lost = 0
      for (i <- 1 to 200) {
        withConn { c =>
          c.setAutoCommit(false)
          c.createStatement().execute(s"INSERT INTO target VALUES ($i, 'r')")
          c.commit()
        }
        val n = withConn { c =>
          val rs = c.createStatement().executeQuery("SELECT count(*) FROM target")
          rs.next(); rs.getLong(1)
        }
        if (n != i + 1) lost += 1
      }
      assert(lost == 0, s"committed rows vanished $lost times despite the anchor")
    } finally { stop = true; churners.foreach(_.join(2000)) }
  }

  test("K1 uploadBinary: content-addressed urls; replayed uploads are idempotent") {
    val bucket = tmp("bucket")
    val df = Seq(("in/a b.txt", "payload".getBytes("UTF-8")))
      .toDF("file_path", "content")
    val out = Sinks.uploadBinary(df, bucket).collect()(0)
    val url = out.getAs[String]("file_url")
    // address = content hash + basename
    assert(url.startsWith(s"$bucket/_objects/") && url.endsWith("/a b.txt"))
    // the store really holds the bytes under that address
    val row = Sinks.readObjects(spark, bucket)
      .filter(col("file_url") === url).collect()
    assert(row.length == 1 &&
      new String(row(0).getAs[Array[Byte]]("content"), "UTF-8") == "payload")
    // a replayed upload (task retry / epoch re-run) re-PUTs at the same
    // address; the logical store is unchanged
    Sinks.uploadBinary(df, bucket)
    assert(Sinks.readObjects(spark, bucket).count() == 1)
    // same basename, different bytes -> distinct address, both kept
    Sinks.uploadBinary(
      Seq(("other/a b.txt", "different".getBytes("UTF-8")))
        .toDF("file_path", "content"), bucket)
    assert(Sinks.readObjects(spark, bucket).count() == 2)
  }

  private def dropBucketTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    if (loc.exists()) rm(loc)
  }

  test("bucketed tables join with ZERO exchange (co-located join posture)") {
    dropBucketTable("docs_bkt"); dropBucketTable("embs_bkt")
    val docs = Tables.load(spark, TestSession.sfDir, "documents")
      .select(col("doc_id"), col("lang"))
    val embs = Tables.load(spark, TestSession.sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"))
    Sinks.writeBucketed(docs, "docs_bkt", "doc_id", nBuckets = 4)
    Sinks.writeBucketed(embs, "embs_bkt", "doc_id", nBuckets = 4)
    // fixture tables are broadcast-small, which would bypass the bucketed
    // path entirely; disable broadcast so the plan is the one a 100 TB
    // big-big join would get (SortMergeJoin over bucketed scans)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("docs_bkt").join(spark.table("embs_bkt"), "doc_id")
      val p = joined.queryExecution.executedPlan.toString
      // the shuffle was paid once at write time; the join itself is
      // exchange-free (SortMergeJoin directly over the bucketed scans)
      assert(!p.contains("Exchange"), p.take(3000))
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropBucketTable("docs_bkt"); dropBucketTable("embs_bkt")
    }
  }

  test("K4 exportJson round-trips extraction results") {
    val dir = tmp("json") + "/export"
    Seq((1L, """{"a":1}""")).toDF("doc_id", "structured_data")
      .transform { df => Sinks.exportJson(df, dir); df }
    val back = spark.read.json(dir)
    assert(back.count() == 1)
  }

  test("writeRangeSorted: each file owns a disjoint key interval (skipping layout)") {
    val dir = tmp("rangesorted") + "/docs"
    val docs = Tables.load(spark, TestSession.sfDir, "documents")
    Sinks.writeRangeSorted(docs, dir, "doc_id", nFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.getAbsolutePath)
    assert(files.length >= 2, s"want a multi-file layout, got ${files.length}")
    // per-file [min,max] intervals must be pairwise disjoint — the
    // property parquet stats-based skipping needs
    val spans = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping file spans: ${spans.mkString(", ")}")
      case _ =>
    }
    // and nothing was lost or reordered within files
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("writeZOrdered: per-file stats are tight on BOTH keys; a point predicate prunes on either") {
    val dir = tmp("zorder") + "/docs"
    // a 16x16 key plane spread over the fixture rows (500 docs ~= 2/cell)
    val docs = Tables.load(spark, TestSession.sfDir, "documents")
      .withColumn("ka", (col("doc_id") % 16).cast("long"))
      .withColumn("kb", expr("(doc_id div 16) % 16").cast("long"))
    Sinks.writeZOrdered(docs, dir, "ka", "kb", nFiles = 16)
    def spans(d: String, key: String): Array[(Long, Long)] =
      new java.io.File(d).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min(col(key)), max(col(key))).collect()(0)
          (r.getLong(0), r.getLong(1))
        }
    val aSpans = spans(dir, "ka")
    val bSpans = spans(dir, "kb")
    val n = aSpans.length
    assert(n >= 8, s"want a multi-file layout, got $n")
    // pruning power of a point predicate = files whose span contains it
    def hit(s: Array[(Long, Long)], v: Long) = s.count { case (lo, hi) => lo <= v && v <= hi }
    val aHits = (0L until 16L by 3L).map(hit(aSpans, _)).max
    val bHits = (0L until 16L by 3L).map(hit(bSpans, _)).max
    assert(aHits < n, s"ka point predicate must prune some of $n files (hit $aHits)")
    assert(bHits < n, s"kb point predicate must prune some of $n files (hit $bHits)")
    // contrast: a single-key range sort on ka leaves kb full-range in
    // EVERY file — zero pruning on the second key
    val dir1 = tmp("zorder") + "/docs_single"
    Sinks.writeRangeSorted(docs, dir1, "ka", nFiles = 16)
    val bSingle = spans(dir1, "kb")
    val bSingleHits = (0L until 16L by 3L).map(hit(bSingle, _)).min
    assert(bSingleHits == bSingle.length,
      "expected the single-key layout to be unprunable on kb")
    assert(bHits < bSingle.length, "z-order must beat single-key sort on the second key")
    // nothing lost
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("zValue interleaves bits (locality-preserving integer expression)") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (0xFFFFL, 0xAAAAL))
      .toDF("a", "b")
      .select(col("a"), col("b"), Sinks.zValue(col("a"), col("b")).as("z"))
      .collect()
    def interleave(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (z, i) =>
        z | ((a >> i & 1L) << (2 * i)) | ((b >> i & 1L) << (2 * i + 1))
      }
    rows.foreach { r =>
      assert(r.getLong(2) == interleave(r.getLong(0), r.getLong(1)),
        s"z mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("compact: trailing-slash dir compacts safely; partitioned layouts are refused") {
    // trailing slash: the tmp dir must be a SIBLING, never a child that
    // the swap then deletes
    val dir = tmp("compactslash") + "/t"
    val docs = Tables.load(spark, TestSession.sfDir, "documents")
    docs.repartition(5).write.parquet(dir)
    val n = Sinks.compact(spark, dir + "/")
    assert(n == 1L && spark.read.parquet(dir).count() == docs.count())
    // hive-partitioned layout: flat rewrite would destroy pruning — refuse
    val pdir = tmp("compactpart") + "/p"
    docs.withColumn("part", col("doc_id") % 3).write.partitionBy("part").parquet(pdir)
    intercept[IllegalArgumentException] { Sinks.compact(spark, pdir) }
    assert(spark.read.parquet(pdir).count() == docs.count()) // untouched
  }

  test("compactPartitioned: each partition compacts in place, structure and pruning intact") {
    val pdir = tmp("compactpart2") + "/p"
    val docs = Tables.load(spark, TestSession.sfDir, "documents")
    // 5 small files per partition — the accretion shape of a streaming
    // foreachBatch sink
    docs.withColumn("part", col("doc_id") % 3)
      .repartition(5).write.partitionBy("part").parquet(pdir)
    def leafFiles(part: Long) = new java.io.File(s"$pdir/part=$part").listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert((0L until 3L).forall(leafFiles(_) == 5))
    val n = Sinks.compactPartitioned(spark, pdir)
    assert(n == 3L, s"expected one file per partition, got $n")
    assert((0L until 3L).forall(leafFiles(_) == 1))
    // content intact, partition column still derived from the directory
    val back = spark.read.parquet(pdir)
    assert(back.count() == docs.count())
    assert(back.columns.contains("part"))
    assert(back.agg(sum(col("doc_id"))).collect()(0).getLong(0) ==
      docs.agg(sum(col("doc_id"))).collect()(0).getLong(0))
    // partition pruning still works: a part predicate scans one directory
    val pruned = back.filter(col("part") === 1)
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
    assert(pruned.count() == docs.filter(col("doc_id") % 3 === 1).count())
  }

  test("compact: many small files rewritten to the target count, content intact") {
    val dir = tmp("compact") + "/t"
    val docs = Tables.load(spark, TestSession.sfDir, "documents")
    docs.repartition(20).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(parquetFiles == 20)
    val before = docs.count()
    val n = Sinks.compact(spark, dir) // fixture bytes << 128 MiB target
    assert(n == 1L && parquetFiles == 1)
    val after = spark.read.parquet(dir)
    assert(after.count() == before)
    assert(after.agg(sum(col("doc_id"))).collect()(0).getLong(0) ==
      docs.agg(sum(col("doc_id"))).collect()(0).getLong(0))
  }

  test("sorted compaction: per-bucket files merge to one, re-sorted on the skip key") {
    val spark = TestSession.spark
    val store = java.nio.file.Files.createTempDirectory("sinks_sorted_compact").toString
    // accrete UNSORTED appends across several "micro-batches"
    for (batch <- 0 until 4) {
      spark.range(0, 200)
        .select((expr("id * 2654435761") % 1000000 + batch).as("fp"),
          col("id").as("doc_id"))
        .withColumn("bucket", pmod(col("fp"), lit(8)).cast("int"))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(store)
    }
    val before = spark.read.parquet(store)
    val beforeRows = before.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val beforeFiles = before.select(input_file_name()).distinct().count()
    assert(beforeFiles > 8, s"expected multi-file accretion, got $beforeFiles")
    Sinks.compactPartitioned(spark, store, sortCols = Seq("fp"))
    val after = spark.read.parquet(store)
    // content identical, one file per bucket, each file fp-sorted (the
    // row-group skip key the fp store's point-lookup path pushes)
    assert(after.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == beforeRows)
    assert(after.select(input_file_name()).distinct().count() == 8)
    val files = after.select(input_file_name().as("f"), col("fp")).collect()
      .groupBy(_.getString(0)).values
    files.foreach { rows =>
      val fps = rows.map(_.getLong(1)).toSeq
      assert(fps == fps.sorted, "file not fp-sorted after compaction")
    }
  }
}
