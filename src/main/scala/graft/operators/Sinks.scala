package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY §2.9 K1-K4): the persistence stage's set-oriented
  * write paths.
  *
  * Reference semantics: per-document object-storage PUT + Postgres
  * insert with DB-generated uuid/timestamp
  * (/root/reference/src/supabase_client.py:14-77). Bulk writes can't
  * round-trip DB-generated keys, so ids/timestamps are pre-generated in
  * the plan (same information, deterministic where possible) and the
  * write is one distributed `df.write` — never a per-row driver loop.
  */
object Sinks {

  /** The `documents_out` relational row shape (FIXTURES.md §B.2),
    * shared by the parquet and JDBC write paths. */
  private def documentsOutRows(df: DataFrame): DataFrame =
    df.select(
      coalesce(col("record_id"), expr("uuid()")).as("id"),
      col("doc_type"),
      col("raw_text"),
      col("structured_data"),
      col("file_url"),
      lit(null).cast("string").as("pinecone_id"),
      col("created_at"))

  /** K2: the `documents_out` relational sink (FIXTURES.md §B.2 shape),
    * parquet-backed — the lake-format variant of the same contract.
    *
    * File count follows OUTPUT bytes, not input splits: a hashed
    * rebalance sits under the row projection, and AQE coalesces its
    * shuffle to the advisory partition size (at least 1 MB under the
    * default `parallelismFirst`): one file for a sub-MB batch, 64 MB
    * files at scale. Writing per input split is the cost it removes:
    * `binaryFile` charges every small file the 4 MB `openCostInBytes`,
    * so 900 one-document text files pack into 29 splits, i.e. 29
    * ~24 KB files, and each extra writer task costs ~17 ms of task time
    * (4-core host: 29 tasks writing parquet 0.75 s, the same rows as 4
    * files 0.40 s). Measured on the etl_text benchmark, same host:
    * 30 -> 2 output files, docs/s median 1391 -> 1931. The upstream
    * parse/OCR/regex chain keeps its full split parallelism; column
    * pruning leaves only the sink's columns in the shuffle (`logs`,
    * `text_orig` and the schema variant are not shuffled). Rejected:
    *  - a key-less (round-robin) rebalance sorts every map partition
    *    before its exchange (`sortBeforeRepartition`, for retry
    *    determinism), one 16 MB Tungsten page per task: etl_text peak
    *    heap 169-180 MB against ~106 MB hashed; hash partitioning is
    *    deterministic on its own and needs no sort;
    *  - `coalesce(n)` needs an `n` (a knob, or an input-bytes estimate,
    *    and pdf/png container bytes are not output bytes) and narrows
    *    the upstream parse to `n` tasks. */
  def writeDocumentsOut(df: DataFrame, outDir: String): Unit =
    documentsOutRows(df.hint("rebalance", col("raw_text")))
      .write.mode("append").parquet(outDir)

  /** K2, real relational path: one distributed `df.write.jdbc` into a
    * live database (reference: per-document Postgres insert,
    * supabase_client.py:45-77 — here set-oriented, batched prepared
    * statements, one connection per partition). Driver-agnostic: any
    * JDBC driver on the classpath (the test harness uses the DuckDB
    * driver against a file-backed database; a production deployment
    * points the url at Postgres and sets `numPartitions` to what the
    * database's connection pool tolerates — the WRITER side scales with
    * executors, the database is the bottleneck by design). */
  def writeDocumentsOutJdbc(df: DataFrame, url: String, table: String,
                            numPartitions: Int = 1): Unit =
    writeJdbc(documentsOutRows(df), url, table, numPartitions)

  /** Minimal DuckDB JDBC dialect. Spark 4's first-write table-exists
    * probe RETHROWS any SQLException the dialect does not classify as
    * object-not-found (JdbcUtils.tableExists), and DuckDB reports a
    * missing table as a "Catalog Error" with a null SQLState — so
    * without a dialect every first write fails on its own existence
    * probe. Everything else (type mapping, DDL) works on the defaults. */
  private object DuckDbDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:duckdb:")
    override def isObjectNotFoundException(e: java.sql.SQLException): Boolean =
      e.getMessage != null && e.getMessage.contains("does not exist")
  }
  private lazy val dialectRegistered: Unit =
    org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(DuckDbDialect)

  /** Per-URL anchor connection, held for the JVM's lifetime. An embedded
    * DuckDB database (JDBC 1.0.0) cycles its instance when the last
    * connection closes, and under concurrent connection churn a cycle
    * can LOSE commits that were still WAL-only — reproduced in a
    * JDBC-only stress: sequential committed inserts through short-lived
    * connections lose rows while other threads churn connections on
    * OTHER databases in the same process; holding one open connection
    * eliminates the loss completely. Pinning one connection per database
    * is the embedded-db analogue of the connection pool every production
    * JDBC sink holds anyway; for a client-server database it costs one
    * idle connection. */
  private val anchors =
    new java.util.concurrent.ConcurrentHashMap[String, java.sql.Connection]()
  private def anchor(url: String): Unit = {
    anchors.computeIfAbsent(url, u => java.sql.DriverManager.getConnection(u))
    ()
  }

  /** Mode is APPEND (creating the table on first write): the reference's
    * relational sink is an INSERT per document (supabase_client.py:60-67)
    * and the parquet variant of the same K2 contract appends — an
    * overwrite here would silently destroy prior batches for any caller
    * treating this as the drop-in relational variant. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                numPartitions: Int = 1,
                writeOptions: Map[String, String] = Map.empty): Unit = {
    dialectRegistered
    anchor(url)
    df.coalesce(numPartitions)
      .write.mode("append")
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(writeOptions)
      .save()
  }

  /** Exactly-once relational sink: stage-and-merge. Plain [[writeJdbc]]
    * is at-least-once — a task retry after a partial commit (autocommit
    * drivers, `isolationLevel=NONE`, or a crash between the partition
    * commit and the task-success registration) duplicates rows. Here the
    * job appends to a per-batch STAGING table (retries may dupe there —
    * harmless), then ONE driver-side transaction moves rows into the
    * target deduplicated by `key` within the stage AND anti-joined
    * against rows already in the target, then drops the stage. Crash
    * anywhere → the target is untouched (single transaction) and a
    * re-run with the same `batchId` first clears the stale stage —
    * idempotent end to end. `key` must be non-null and unique per
    * logical row (the reference's document id, supabase_client.py:60).
    *
    * A committed-batch LEDGER (`__graft_commits`, one row per
    * (table, batch id), written in the SAME transaction as the merge)
    * makes a replay of an already-committed batch a no-op: the re-run
    * skips the stage write entirely instead of re-staging every row for
    * a merge that inserts nothing. This is the transaction-id pattern of
    * every production exactly-once sink (Flink's two-phase-commit sink,
    * Delta's `txn` appId/version) — on a replayed micro-batch the ledger
    * probe is one indexed lookup, not a full re-write of the batch.
    *
    * 100 TB shape: the stage write scales with executors exactly like
    * [[writeJdbc]]; the merge is one set-oriented statement INSIDE the
    * database (no data moves through the driver); a replay costs one
    * ledger lookup. */
  def writeJdbcExactlyOnce(df: DataFrame, url: String, table: String,
                           key: String, batchId: String,
                           numPartitions: Int = 1,
                           writeOptions: Map[String, String] = Map.empty): Unit = {
    dialectRegistered
    anchor(url)
    require(batchId.matches("[A-Za-z0-9_]+"), s"batchId must be [A-Za-z0-9_]+: $batchId")
    val stage = s"${table}__stage_$batchId"
    def q(id: String) = "\"" + id.replace("\"", "\"\"") + "\""
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    def withConn[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(url)
      try f(c) finally c.close()
    }
    val ledgerWhere =
      s"table_name = ${lit(table)} AND batch_id = ${lit(batchId)}"
    val alreadyCommitted = withConn { conn =>
      conn.createStatement().execute(
        "CREATE TABLE IF NOT EXISTS __graft_commits (" +
          "table_name VARCHAR NOT NULL, batch_id VARCHAR NOT NULL)")
      val rs = conn.createStatement().executeQuery(
        s"SELECT count(*) FROM __graft_commits WHERE $ledgerWhere")
      rs.next(); rs.getLong(1) > 0
    }
    if (alreadyCommitted) {
      // this (table, batchId) merged and verified in a prior run; the
      // only possible residue is a stale stage from a crash between the
      // ledger commit and the stage drop
      withConn(_.createStatement().execute(s"DROP TABLE IF EXISTS ${q(stage)}"))
      return
    }
    // a crashed prior attempt with this batchId left a stale stage: clear it
    withConn(_.createStatement().execute(s"DROP TABLE IF EXISTS ${q(stage)}"))
    df.coalesce(numPartitions)
      .write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", stage)
      .options(writeOptions).save()
    val cols = df.schema.fieldNames.map(q).mkString(", ")
    def merge(): Unit = withConn { conn =>
      conn.setAutoCommit(false)
      try {
        val st = conn.createStatement()
        st.execute(
          s"CREATE TABLE IF NOT EXISTS ${q(table)} AS SELECT * FROM ${q(stage)} LIMIT 0")
        st.execute(
          s"""INSERT INTO ${q(table)} ($cols)
              SELECT $cols FROM (
                SELECT *, row_number() OVER (PARTITION BY ${q(key)}) AS __rn
                FROM ${q(stage)}) s
              WHERE __rn = 1 AND NOT EXISTS (
                SELECT 1 FROM ${q(table)} t WHERE t.${q(key)} = s.${q(key)})""")
        st.execute(
          s"""INSERT INTO __graft_commits (table_name, batch_id)
              SELECT ${lit(table)}, ${lit(batchId)}
              WHERE NOT EXISTS (
                SELECT 1 FROM __graft_commits WHERE $ledgerWhere)""")
        conn.commit()
      } catch { case e: Throwable => conn.rollback(); throw e }
    }
    // post-merge verification: every staged key must be visible in the
    // target before the stage may be dropped. The merge INSERT is
    // idempotent (anti-joined on key), so a lost/unobserved commit is
    // safely re-run; only a VERIFIED merge releases the stage.
    def missing(): Long = withConn { conn =>
      val rs = conn.createStatement().executeQuery(
        s"""SELECT count(*) FROM ${q(stage)} s
            WHERE NOT EXISTS (SELECT 1 FROM ${q(table)} t
                              WHERE t.${q(key)} = s.${q(key)})""")
      rs.next(); rs.getLong(1)
    }
    merge()
    var attempts = 1
    while (missing() > 0) {
      if (attempts >= 5)
        throw new IllegalStateException(
          s"writeJdbcExactlyOnce: merge of $stage into $table did not land")
      attempts += 1
      merge()
    }
    // Stage cleanup runs OUTSIDE the merge transaction, verified with a
    // bounded retry. Inside the transaction it raced: an executor-side
    // writer connection from the stage append can still hold the stage's
    // catalog entry for a moment after the Spark job returns (observed
    // once under full-suite load: correct merge, leftover __stage_
    // table), and a failed in-transaction DROP would roll back a CORRECT
    // merge. Post-commit the merge is durable either way; a crash here
    // leaves only a stale stage that the next run of this batchId clears
    // on entry. The loop re-drops until the catalog confirms absence —
    // the exactly-once guarantee is enforced by the sink, not just
    // tested.
    val deadline = System.nanoTime() + 30L * 1000000000L
    var present = true
    while (present) {
      try withConn { c =>
        c.createStatement().execute(s"DROP TABLE IF EXISTS ${q(stage)}")
        val rs = c.createStatement().executeQuery(
          "SELECT count(*) FROM information_schema.tables WHERE table_name = '" +
            stage.replace("'", "''") + "'")
        rs.next(); present = rs.getLong(1) > 0
      } catch { case _: java.sql.SQLException => present = true }
      if (present) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"writeJdbcExactlyOnce: stage table $stage could not be dropped")
        Thread.sleep(100)
      }
    }
  }

  def readJdbc(spark: SparkSession, url: String, table: String): DataFrame = {
    dialectRegistered
    anchor(url)
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .load()
  }

  /** K1: object-storage upload — content-addressed binary store with a
    * deterministic URL (bucket/name), done distributed via the binary
    * writer (no driver-side byte shuffling). */
  def uploadBinary(df: DataFrame, bucketDir: String): DataFrame = {
    // file_url addresses the store the bytes were actually written to
    // (the _objects parquet prefix), keyed by CONTENT hash + basename:
    // a task retry or an epoch replay re-PUTs byte-identical rows at
    // the SAME address, so the upload is idempotent the way a real
    // content-addressed object PUT is — no transaction needed; the
    // read side collapses by address ([[readObjects]]). Distinct
    // content under one basename gets distinct addresses (no
    // lost-update between same-named files).
    // Cryptographic digest (SHA-256), not a 64-bit hash: a real
    // content-addressed store must make address collision between
    // DISTINCT contents negligible, or a same-named pair colliding in
    // 64 bits silently aliases to one address (lost update at read).
    val url = concat(lit(s"$bucketDir/_objects/"),
      sha2(col("content"), 256), lit("/"),
      element_at(split(col("file_path"), "/"), -1))
    df.select(col("file_path"), col("content"))
      .withColumn("file_url", url)
      .write.mode("append").parquet(s"$bucketDir/_objects")
    df.withColumn("file_url", url)
  }

  /** The object store's logical contents: one row per address. Appends
    * from retried/replayed uploads are byte-identical rows at the same
    * address — exactly-once THROUGH idempotence, resolved at read. */
  def readObjects(spark: SparkSession, bucketDir: String): DataFrame =
    spark.read.parquet(s"$bucketDir/_objects")
      .dropDuplicates("file_url")

  /** K4: JSON export of extraction results. */
  def exportJson(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").json(outDir)

  /** Bucketed table write — the 100 TB co-located-join posture: two
    * tables bucketed (and sorted) the same way on their join key join
    * with ZERO exchange — the shuffle is paid ONCE at write time and
    * amortized over every subsequent join/aggregation on that key
    * (SinksSpec proves the exchange-free plan). Bucketing requires the
    * catalog (saveAsTable); `spark.sql.warehouse.dir` decides where the
    * files land. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int = 16): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Range-sorted parquet write — the data-SKIPPING posture: rows are
    * range-partitioned then sorted on `key`, so each output file owns a
    * disjoint key interval and its parquet min/max statistics prune it
    * from any selective scan (a point/range predicate on `key` reads
    * O(matching files), not the table). This is the write-side twin of
    * predicate pushdown: pushdown only helps if the file stats are
    * tight, and an unsorted write scatters every key across every file.
    * `nFiles` sizes the layout (100 TB posture: total_bytes /
    * maxPartitionBytes-ish, never one giant file). */
  def writeRangeSorted(df: DataFrame, outDir: String, key: String,
                       nFiles: Int = 8): Unit =
    df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(outDir)

  /** Morton bit-spread: the low 32 bits of a non-negative long fanned
    * out to even bit positions (classic magic-mask doubling — 5 shift/
    * or/mask rounds, all codegen'd integer ops, no UDF). */
  private def spreadBits(c: Column): Column = {
    val masks = Seq(
      (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    masks.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (x, (s, m)) =>
      (x.bitwiseOR(shiftleft(x, s))).bitwiseAND(lit(m))
    }
  }

  /** Z-value of two non-negative integer keys: their bit-streams
    * interleaved (a in even positions, b in odd). Locality property:
    * rows close in Z are close in BOTH keys, so a Z-range owns a bounded
    * sub-rectangle of the (a, b) key plane. */
  def zValue(a: Column, b: Column): Column =
    spreadBits(a.cast("long")).bitwiseOR(shiftleft(spreadBits(b.cast("long")), 1))

  /** Z-ORDERED parquet write — two-column data skipping, the multi-key
    * answer to [[writeRangeSorted]]: a single-key sort gives tight
    * per-file min/max stats on that key but FULL-RANGE stats on every
    * other column (no file is ever prunable by the second key). Range-
    * partitioning and sorting on the interleaved [[zValue]] instead
    * makes each file own a contiguous Z-run = a bounded rectangle of the
    * (keyA, keyB) plane, so parquet min/max stats are tight on BOTH
    * columns and a selective predicate on EITHER key prunes most files
    * (the Bayer/Markl UB-tree layout; what table formats ship as OPTIMIZE
    * ZORDER BY). Keys must be non-negative and < 2^32 — rank/bucket
    * wider domains first. The Z column is layout-only and dropped from
    * the stored schema. */
  def writeZOrdered(df: DataFrame, outDir: String, keyA: String, keyB: String,
                    nFiles: Int = 8): Unit =
    df.withColumn("_z", zValue(col(keyA), col(keyB)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)

  /** Small-file compaction — the other half of layout hygiene at scale:
    * a streaming/append sink accretes files far smaller than a scan
    * split (one per micro-batch per partition), and every later query
    * pays the per-file open/footer cost. Rewrite the directory into
    * ceil(bytes / targetBytes) files. Coalesce (not repartition): the
    * point is fewer, bigger files, and a narrow coalesce avoids paying a
    * shuffle for it; pass a sort key instead when re-establishing
    * skipping layout is worth that shuffle ([[writeRangeSorted]]).
    * A single batch append through [[writeDocumentsOut]] is already
    * right-sized by its rebalance; what still accretes is one file per
    * micro-batch, which is what this rewrite is for. */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 128L << 20): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse hive-partitioned layouts: a flat rewrite would demote the
    // partition columns to data columns and destroy the directory
    // structure every pruning reader depends on (compactPartitioned
    // walks them instead)
    val partitioned = fs.listStatus(path).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    require(!partitioned,
      s"compact: $dir is hive-partitioned; use compactPartitioned instead")
    compactFlat(spark, fs, path, targetBytes)
  }

  /** Per-partition compaction for hive-partitioned layouts — the form a
    * real streaming sink needs: foreachBatch appends accrete one small
    * file per micro-batch UNDER EACH `key=value` directory, and a flat
    * rewrite would destroy the directory structure partition pruning
    * depends on. Walks the partition tree (any nesting depth), compacts
    * each LEAF data directory independently — layout, pruning, and the
    * partition-column schema all survive — and returns the total output
    * file count. Each leaf is a separate small rewrite job: at 100 TB
    * this is embarrassingly parallel across partitions and only touches
    * partitions that exist (a deployment would further restrict to
    * recently-appended ones). */
  /** INDEX-WIDTH MIGRATION — the store rewrite every "bits/cells are
    * pinned at deploy" docstring defers to: recompute a partitioned
    * store's partition key from its own columns (e.g. widen a sign-LSH
    * bucket from 6 to 8 bits — the key is a pure function of the stored
    * vector) and rewrite into a NEW directory with the new layout, one
    * clustered file per partition. The caller swaps the table pointer
    * (at 100 TB this is a catalog/location update, not a rename race);
    * the old store keeps serving until the swap. Returns rows
    * rewritten. */
  def rebucketPartitioned(spark: SparkSession, srcDir: String,
                          destDir: String, partitionCol: String,
                          newValue: Column,
                          sortCols: Seq[String] = Nil): Long = {
    writeClustered(spark.read.parquet(srcDir).withColumn(partitionCol, newValue),
      destDir, partitionCol, sortCols, "overwrite")
    spark.read.parquet(destDir).count()
  }

  /** The clustered store write: one file per `bucket` value, rows sorted
    * by (bucket, keys) within it, so a pruned read lists one directory
    * per bucket and row-group stats stay tight on the keys. Appends by
    * default: into a fresh dir that is the whole layout, and a store fed
    * per micro-batch gains one sorted file per touched bucket. */
  private[graft] def writeClustered(df: DataFrame, dir: String, bucket: String,
                                    keys: Seq[String],
                                    mode: String = "append"): Unit =
    df.repartition(col(bucket))
      .sortWithinPartitions((bucket +: keys).map(col): _*)
      .write.mode(mode).partitionBy(bucket).parquet(dir)

  def compactPartitioned(spark: SparkSession, dir: String,
                         targetBytes: Long = 128L << 20,
                         sortCols: Seq[String] = Nil): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Long = {
      val parts = fs.listStatus(p).filter(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      if (parts.isEmpty) compactFlat(spark, fs, p, targetBytes, sortCols)
      else parts.map(st => walk(st.getPath)).sum
    }
    walk(root)
  }

  private def compactFlat(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          path: org.apache.hadoop.fs.Path,
                          targetBytes: Long,
                          sortCols: Seq[String] = Nil): Long = {
    val dir = path.toString
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    // sibling tmp built from the RESOLVED path, never by string concat:
    // a trailing-slash dir would otherwise place the rewrite INSIDE the
    // directory about to be deleted
    val tmp = new org.apache.hadoop.fs.Path(
      path.getParent, path.getName + "._compact_tmp")
    val coalesced = spark.read.parquet(dir).coalesce(nFiles.toInt)
    // sortCols re-establishes a skipping layout during the rewrite: a
    // store whose reads push key filters (the fp dedup store's
    // point-lookup path) loses row-group min/max discrimination as
    // unsorted per-batch appends accrete; compacting WITH the sort key
    // restores it in the same pass the file-count fix already pays for
    val rewritten =
      if (sortCols.isEmpty) coalesced
      else coalesced.sortWithinPartitions(sortCols.map(col): _*)
    rewritten.write.mode("overwrite").parquet(tmp.toString)
    // swap via aside-rename so a valid directory exists at every step:
    // dir -> dir._old, tmp -> dir, delete dir._old. A crash after the
    // first rename leaves the complete rewrite in ._compact_tmp and the
    // original in ._compact_old (recover by renaming either back); the
    // window with NO directory at `dir` that a delete-then-rename swap
    // has is gone.
    val old = new org.apache.hadoop.fs.Path(
      path.getParent, path.getName + "._compact_old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compact: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      fs.rename(old, path) // roll back; the original layout is intact
      throw new java.io.IOException(s"compact: rename $tmp -> $path failed")
    }
    fs.delete(old, true)
    nFiles
  }
}
