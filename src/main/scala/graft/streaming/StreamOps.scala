package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.StoreCatalog.storeNonEmpty
import graft.operators.{BeamDescent, DriverCap}

/** Structured Streaming surface (SURVEY §1.5, §2.13): the reference's
  * continuous one-document-per-HTTP-request ingest becomes a stream of
  * rows; windows/watermarks/stateful dedup are the event-time operators
  * the `events` fixture drives.
  *
  * Scale posture: streaming state (window aggs, dedup keys) is keyed by
  * (window, type) / event_id and partitioned by the state store — the
  * watermark bounds state size; without it a 100 TB stream would
  * accumulate state forever. Every op here carries one.
  */
object StreamOps {

  /** Per-source cache of staged stream dirs: FileStreamSource needs a
    * DIRECTORY, the fixtures are single files. Cached so every bench
    * rep / verify run of a streaming query shares one hardlinked temp
    * dir instead of leaking a fresh one per invocation.
    *
    * SINGLE-FILE REPLAY CONTRACT: one file ⇒ one micro-batch ⇒ the
    * event-time watermark never advances MID-data, so no fixture row is
    * ever late and the streaming twins land exactly on their batch
    * oracles. On a genuine multi-batch out-of-order replay the
    * watermarked operators DROP rows arriving more than the watermark
    * delay behind the max seen event time — the intended production
    * semantics, pinned by StreamOpsSpec's "late rows behind the
    * watermark are dropped" test, NOT an accident of the fixtures.
    * Keyed on the source fingerprint too ([[currentStaging]]): a staged
    * hardlink pins the INODE it was made from, so a source replaced
    * in-session would otherwise replay its old rows forever. */
  private val stagedStreamDirs =
    new scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** A staging memo's value for `key` while `sources` fingerprint as
    * when it was made; else `make` a fresh one that replaces it (the
    * superseded staged dir stays under [[graft.Scratch]] until exit). */
  private def currentStaging[K](memo: scala.collection.concurrent.Map[K, (String, String)],
                                key: K, sources: Seq[String])(make: => String): String = {
    val fp = graft.StoreCatalog.sourceFingerprint(sources)
    memo.get(key).collect { case (`fp`, v) => v }.getOrElse {
      val v = make
      memo.put(key, (fp, v))
      v
    }
  }

  private def stageParquetDir(src: java.nio.file.Path): String =
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else currentStaging(stagedStreamDirs, src.toString, Seq(src.toString)) {
      val d = graft.Scratch.dir("graft_stream")
      try java.nio.file.Files.createLink(d.resolve(src.getFileName), src)
      catch { case _: Exception =>
        java.nio.file.Files.copy(src, d.resolve(src.getFileName)) }
      d.toString
    }

  /** A file stream needs an explicit schema; take it from the parquet
    * footer (one driver-side read) instead of hardcoding it, so a
    * regenerated fixture with a different timestamp physical type
    * (nanos-as-long vs µs-NTZ — see Tables.normalizeTimestamps) can't
    * silently desync the streaming twin from the batch path. Cached per
    * staged dir (immutable) — bench reps re-enter these builders. */
  private val footerSchemas =
    new scala.collection.concurrent.TrieMap[String, StructType]()
  private def footerSchema(spark: SparkSession, stagedDir: String): StructType =
    footerSchemas.getOrElseUpdate(stagedDir, spark.read.parquet(stagedDir).schema)

  /** Read a fixture table as a file stream (one micro-batch per file).
    * FileStreamSource requires a DIRECTORY source; the fixture is a
    * single file, so it is staged (hardlink/copy) into a temp dir once —
    * which is also the natural replay shape (one file per micro-batch). */
  private def fixtureStream(spark: SparkSession, dir: String,
                            table: String): DataFrame = {
    val staged = stageParquetDir(java.nio.file.Paths.get(dir, s"$table.parquet"))
    spark.readStream
      .schema(footerSchema(spark, staged))
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
  }

  /** The events fixture stream, event time normalized as in batch. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTimestamps(fixtureStream(spark, dir, "events"))

  /** Tumbling 1-hour windowed counts + exact-cents value sums with a
    * 2-hour watermark — the streaming twin of Events.tumbling (same
    * result on a replayed finite stream, which is what the oracle
    * checks). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast(LongType)
          .cast(DecimalType(38, 0))).cast(DoubleType) / 100.0).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Stateful streaming dedup on event_id, state bounded by the
    * watermark (the streaming ingest-dedup from SURVEY §2.13). */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user streaming sessionization (30-min gap), same semantics as
    * the batch Events.sessions. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Custom keyed state (SURVEY §2.13): per-user running aggregates via
    * flatMapGroupsWithState — the escape hatch for stateful logic the
    * built-in window/dedup operators can't express. Emits one updated
    * (user_id, n_events, total_value_cents, last_seen) row per user per
    * micro-batch; state is GroupState-managed and survives batches.
    *
    * State is EVICTED once the event-time watermark passes the user's
    * last event plus `idleGapMs` — without the timeout, a true unbounded
    * stream accumulates one state row for every user EVER seen, the
    * scale-killer for a continuous 100 TB ingest. The documented trade:
    * a user reappearing after the idle horizon restarts their totals
    * (the totals become idle-bounded sessions — the same shape every
    * production running-counter carries). */
  case class UserState(n: Long, cents: Long, lastSeen: java.sql.Timestamp)
  case class UserUpdate(user_id: Long, n_events: Long, total_cents: Long,
                        last_seen: java.sql.Timestamp)

  /** Default state-expiry horizon: 30 days of event-time inactivity.
    * Far beyond any fixture's span (hashes unchanged on the replays);
    * the knob a deployment tunes to its dormancy SLA. */
  val DefaultIdleGapMs: Long = 30L * 24 * 3600 * 1000

  /** Timeout timestamp for a user last seen at `lastMs`: their idle
    * horizon, clamped above the current watermark (setTimeoutTimestamp
    * rejects timestamps at or below it — reachable when a user's only
    * events in a batch are older than the already-advanced watermark). */
  private def idleTimeoutMs(lastMs: Long, idleGapMs: Long,
                            watermarkMs: Long): Long =
    math.max(lastMs + idleGapMs, watermarkMs + 1)

  /** Drop rows whose event time is behind the current watermark.
    * flatMapGroupsWithState does NOT filter late input itself (verified
    * empirically on 4.1: numRowsDroppedByWatermark stays 0 with an
    * advanced watermark), so without this a row arriving after its
    * user's state was EVICTED by EventTimeTimeout would silently re-seed
    * fresh state with reset totals — worse than dropping. Enforced
    * in-operator: late-by-more-than-the-delay rows are discarded, the
    * same contract the built-in watermarked aggregations carry. On the
    * single-file fixture replays the watermark is still the epoch when
    * the only data batch runs, so nothing is dropped and the batch
    * oracles hold exactly. */
  private def dropLate[T](rows: Iterator[T], tsOf: T => java.sql.Timestamp,
                          watermarkMs: Long): Seq[T] =
    rows.filter(r => tsOf(r).getTime >= watermarkMs).toSeq

  def runningUserTotals(events: DataFrame,
                        idleGapMs: Long = DefaultIdleGapMs): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "ts", "CAST(round(value * 100) AS LONG) AS cents")
      .withWatermark("ts", "2 hours")
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[UserState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val live = dropLate[(Long, java.sql.Timestamp, Long)](
              rows, _._2, state.getCurrentWatermarkMs())
            if (live.isEmpty) Iterator.empty // all late: leave state as-is
            else {
              val prev = state.getOption.getOrElse(
                UserState(0L, 0L, new java.sql.Timestamp(0L)))
              var n = prev.n; var cents = prev.cents; var last = prev.lastSeen
              live.foreach { case (_, ts, c) =>
                n += 1; cents += c
                if (ts.after(last)) last = ts
              }
              state.update(UserState(n, cents, last))
              state.setTimeoutTimestamp(idleTimeoutMs(last.getTime, idleGapMs,
                state.getCurrentWatermarkMs()))
              Iterator.single(UserUpdate(user, n, cents, last))
            }
          }
        })
  }

  /** The one place a streaming query starts: configure `df`'s writer
    * with `sink`, start it, drain every available input with
    * `processAllAvailable`, stop it. Every streaming twin and store
    * builder runs through here.
    *
    * `statePartitions` pins `spark.sql.shuffle.partitions` for the
    * query's lifetime and restores the previous value afterwards: a
    * streaming query's state-store count is FIXED at first start, and
    * each stateful operator pays a per-micro-batch cost linear in it
    * (store init + commit + version bookkeeping × operators × batches)
    * regardless of data volume. The replayed-fixture twins carry a few
    * thousand rows, where 32 stores are pure fixed overhead; a
    * production deployment sizes this to its real key cardinality.
    * `None` leaves the session's width alone.
    *
    * Without a `checkpointDir` the query gets a FRESH checkpoint under
    * [[graft.Scratch]] (tmpfs where present: the offset/commit-log
    * fsyncs cost ~100 ms per micro-batch on a disk-backed /tmp), so no
    * two runs share one and a rerun never silently resumes an earlier
    * run's offsets. That checkpoint is deleted once the query has
    * stopped — after `stop`, never before, because a running query
    * still writes its offset and commit logs there — and also when the
    * query failed. A caller's own `checkpointDir` (the crash-replay
    * paths) is never deleted: resuming from it is the point. */
  private[graft] def runStream(df: DataFrame,
                               statePartitions: Option[Int] = None,
                               checkpointDir: Option[String] = None)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val prev = conf.get(key)
    val fresh = Option.when(checkpointDir.isEmpty)(graft.Scratch.dir("stream_chk"))
    try {
      statePartitions.foreach(n => conf.set(key, n.toString))
      val q = sink(df.writeStream.option("checkpointLocation",
        checkpointDir.getOrElse(fresh.get.toString))).start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      if (statePartitions.isDefined) conf.set(key, prev)
      fresh.foreach(graft.Scratch.deleteRec)
    }
  }

  /** Run a (finite) streaming DataFrame to an in-memory sink named
    * `name` plus a per-call suffix until all available input is
    * processed; returns the result table. The sink's temp view is
    * dropped once the result is resolved: the returned frame holds the
    * sink's rows, the session catalog does not (a view per call would
    * keep every result alive until the session ends).
    * `statePartitions`: see [[runStream]]. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  mode: String = "complete",
                  statePartitions: Int = 4): DataFrame = {
    val query = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    runStream(df, Some(statePartitions))(
      _.format("memory").queryName(query).outputMode(mode))
    val out = spark.table(query)
    spark.catalog.dropTempView(query)
    out
  }

  /** [[runToMemory]]'s partial-aggregate sibling: append
    * `partial(batch, epochId)` per micro-batch to a fresh per-call
    * [[graft.Scratch]] dir (a query result, not a store — the stream
    * runs on every call) and return the partials. */
  private def runToParts(df: DataFrame, prefix: String)(
      partial: (DataFrame, Long) => DataFrame): DataFrame = {
    val dir = graft.Scratch.dir(prefix).toString
    runStream(df, Some(4)) {
      _.foreachBatch { (batch: DataFrame, epochId: Long) =>
        partial(batch, epochId).coalesce(1).write.mode("append").parquet(dir)
      }
    }
    df.sparkSession.read.parquet(dir)
  }

  /** Create every part dir of a stream store before its stream starts:
    * a part no batch writes (an unpopulated HNSW layer) must exist for
    * the serves' emptiness checks and for the catalog's validity check,
    * which would otherwise rebuild the store in every later session. */
  private def createParts(parts: Map[String, String]): Unit =
    parts.values.foreach(p => java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(p)))

  /** Streaming twin of Events.tumbling over the replayed fixture —
    * verifiable against the SAME DuckDB oracle as the batch query. */
  def streamTumblingQuery(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, tumblingCounts(eventsStream(spark, dir)), "stream_tumbling")
      .orderBy(col("wstart"), col("event_type"))

  /** Streaming twin of Events.sessions (session_window + state store
    * on the replayed stream) — verifiable against the SAME DuckDB oracle
    * as the batch lag+running-sum form, proving the two sessionization
    * shapes agree on the end-exclusive >= 30min gap contract. */
  def streamSessionsQuery(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, sessionCounts(eventsStream(spark, dir)), "stream_sessions")
      .orderBy(col("user_id"), col("session_start"))

  /** Oracle-checkable streaming ingest-dedup twin (the `dedupedStream`
    * operator, SURVEY §2.13): the events fixture replayed at-least-once
    * — the full stream unioned with a SECOND replay of every 7th event,
    * byte-identical rows — through `dropDuplicatesWithinWatermark`. The
    * sink must then contain each event exactly once, so the DuckDB twin
    * is plain `SELECT .. FROM events`: the query proves exactly-once
    * output under duplicated at-least-once input, which is the contract
    * a continuous 100 TB ingest actually needs. Dedup state is bounded
    * by the 2-hour watermark, not corpus size; duplicates are exact
    * copies, so which replica survives is immaterial to the hash gate. */
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val dupes = eventsStream(spark, dir).filter(col("event_id") % 7 === 0)
    val deduped = dedupedStream(eventsStream(spark, dir).union(dupes))
    runToMemory(spark,
      deduped.select(col("event_id"), col("user_id"), col("event_type"),
        col("value")), "stream_dedup", mode = "append")
      .orderBy(col("event_id"))
  }

  def streamDedupOracleSql: String =
    "SELECT event_id, user_id, event_type, value FROM events"

  /** The documents fixture as a file stream. */
  def docsStream(spark: SparkSession, dir: String): DataFrame =
    fixtureStream(spark, dir, "documents")

  /** STREAM-STATIC decontamination (the continuous form of
    * Dedup.decontaminate): the training corpus arrives as a STREAM, the
    * benchmark span set is a STATIC batch table broadcast into every
    * micro-batch. This is the stream-static join surface — the third
    * Structured Streaming join shape next to the stream-stream interval
    * join and the stateful dedup — and it is STATELESS: a broadcast hash
    * join needs no state store and no watermark, so per-batch cost is
    * pure compute (the right shape for "screen every incoming document
    * against a fixed benchmark suite" at ingest time). The per-doc
    * distinct-span rollup runs as a batch pass over the appended sink —
    * the same post-pass posture as the stream-stream range join's
    * rollup, keeping the streaming side free of stateful aggregation.
    * Oracle: the SAME DuckDB SQL as batch decontaminate. */
  def streamDecontaminateQuery(spark: SparkSession, dir: String, w: Int = 4,
                               benchBelow: Long = 10): DataFrame = {
    import graft.operators.Dedup
    val bench = broadcast(benchSpans(spark, dir, w, benchBelow))
    val streamSpans = Dedup.spanTable(docsStream(spark, dir), w)
      .filter(col("doc_id") >= benchBelow)
    val matched = runToMemory(spark,
      streamSpans.join(bench, col("span") === col("b_span"))
        .select(col("doc_id"), col("span")), "stream_decon", mode = "append")
    matched.groupBy(col("doc_id"))
      .agg(countDistinct(col("span")).as("n_shared_spans"))
      .orderBy(col("doc_id"))
  }

  /** The static bench span set (`b_span`) of docs below `benchBelow`. */
  private def benchSpans(spark: SparkSession, dir: String, w: Int,
                         benchBelow: Long): DataFrame =
    graft.operators.Dedup.spanTable(graft.Tables.loadWide(spark, dir, "documents"), w)
      .filter(col("doc_id") < benchBelow)
      .select(col("span").as("b_span")).distinct()

  /** STREAMING BLOOM DECONTAMINATION: [[streamDecontaminateQuery]] with
    * the broadcast exact bench-span set replaced by
    * [[graft.operators.Dedup]]'s Bloom bits, embedded in the streaming
    * plan as a LITERAL — the shape that survives a bench suite too
    * large to broadcast exactly: the arriving span stream probes the
    * bits scan-side (codegen'd, stateless, no join machinery), only
    * Bloom hits reach the sink, and the exact verify join runs over
    * that small hit set in the batch rollup. Result — and oracle — are
    * exactly the exact-join decontamination's (no false negatives;
    * false positives die in the verify). */
  def streamBloomDecontaminateQuery(spark: SparkSession, dir: String,
                                    w: Int = 4, benchBelow: Long = 10,
                                    mBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    import graft.operators.Dedup
    val bits = Dedup.bloomBitsFor(spark, dir, w, benchBelow, mBits, k)
    val streamSpans = Dedup.spanTable(docsStream(spark, dir), w)
      .filter(col("doc_id") >= benchBelow)
    val hits = streamSpans
      .filter(Dedup.bloomContainsCol(lit(bits), xxhash64(col("span")), k))
    val matched = runToMemory(spark,
      hits.select(col("doc_id"), col("span")), "stream_bloom_decon", mode = "append")
    matched.join(broadcast(benchSpans(spark, dir, w, benchBelow)), col("span") === col("b_span"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("span")).as("n_shared_spans"))
      .orderBy(col("doc_id"))
  }

  /** STREAM-SCORED VOLUME ANOMALIES against a BATCH-TRAINED baseline —
    * the online-anomaly-detection shape (train offline, score the live
    * stream): per-type hourly count statistics come from one batch pass
    * (exact integer sums), the stream aggregates tumbling hourly counts
    * under a watermark, and each window is z-scored against the
    * broadcast baseline as it closes. Same exact-integer + one-sqrt
    * arithmetic as the batch twin, so the oracle hash matches. On a
    * true deployment the baseline would be yesterday's corpus; the
    * fixture trains and scores on the same replayed window so the
    * DuckDB twin can check every row. */
  def streamAnomaliesQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Events
    val batchHourly = graft.Tables.loadWide(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("wstart"))
      .agg(count(lit(1)).as("cnt"))
    val stats = Events.anomalyStats(batchHourly).localCheckpoint(true)
    val hourlyStream = eventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("window.start").as("wstart"), col("cnt"))
    val hourly = runToMemory(spark, hourlyStream, "stream_anomalies")
    Events.scoreAnomalies(hourly, stats)
  }

  /** STREAM-STREAM interval join (SURVEY §2.13): clicks joined to
    * purchases of the same user within the preceding hour, both sides
    * live streams. The event-time range condition plus the two
    * watermarks is what bounds the join state: each side can discard
    * buffered rows once the other side's watermark passes the
    * constraint, so state stays O(1 hour of traffic per user) at any
    * corpus size — without the range bound a stream-stream join must
    * buffer both streams forever. Inner-join matches emit as soon as
    * both rows have arrived (append mode, no watermark wait). */
  def clickPurchaseJoinStream(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") < col("p_ts"))
  }

  /** Streaming twin of Events.clicksBeforePurchase — the stream-stream
    * join runs under Structured Streaming (the stateful op under test);
    * the per-purchase count is a batch rollup of the joined rows (a
    * non-windowed key can't aggregate in append mode after a
    * stream-stream join). Verified against the SAME DuckDB oracle as
    * the batch range join. */
  def streamRangeJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val joined = clickPurchaseJoinStream(eventsStream(spark, dir))
      .select(col("p_id"))
    runToMemory(spark, joined, "stream_range_join", mode = "append")
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_clicks_1h"))
      .orderBy(col("p_id"))
  }

  /** The reference's TRUE shape, continuously: documents arrive one file
    * at a time (its HTTP loop), each flows through the FULL 7-stage ETL —
    * parse (binary ingest + format dispatch) → clean → classify → schema
    * lookup → extract → validate-with-retry → persist → respond. Round
    * 3's fused retry made every stage stateless-narrow (the split/union
    * loop was not streamable), so this is literally the batch pipeline
    * composition running under Structured Streaming; the only non-narrow
    * op is the stream-static broadcast schema join. doc_id is derived
    * from the file path (the stream has no fixture ids). */
  def streamDocPipeline(spark: SparkSession, dropDir: String,
      idFromPath: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_),
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ingested = graft.sources.BinaryIngest.ingest(spark,
      graft.sources.BinaryIngest.readBinaryStream(spark, dropDir, maxFilesPerTrigger))
    val docs = ingested.select(
      idFromPath(col("file_path")).as("doc_id"),
      col("raw_text").as("text"))
    graft.operators.DocPipeline.runOnDocs(spark, docs)
  }

  /** Staged one-file-per-document drop dir for the fixture (the
    * reference's upload loop replayed from disk). Cached per fixture
    * dir and documents fingerprint per JVM — Bench reps and Verify
    * share one staging. Harness code, not a query path: the collect
    * materializes the fixture corpus once to write the files a
    * FileStreamSource can replay. */
  private val stagedDocs =
    scala.collection.concurrent.TrieMap.empty[(String, Int), (String, String)]
  def stageDocsAsFiles(spark: SparkSession, dir: String,
                       cap: Int = Int.MaxValue): String =
    currentStaging(stagedDocs, (dir, cap), Seq(s"$dir/documents.parquet")) {
      import spark.implicits._
      val d = graft.Scratch.dir("docs_drop")
      graft.Tables.loadWide(spark, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) > 0 &&
          col("doc_id") < cap)
        .select(col("doc_id").cast(LongType), col("text"))
        .as[(Long, String)].collect()
        .foreach { case (id, text) =>
          java.nio.file.Files.write(d.resolve(s"doc_$id.txt"),
            text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      d.toString
    }

  /** Oracle-checkable streaming 7-stage doc pipeline: the fixture
    * corpus replayed as a file-drop stream in TWO micro-batches
    * (maxFilesPerTrigger = ceil(n/2) — proves cross-batch composition
    * without per-batch fixed cost scaling with corpus size), flowing
    * through ingest → clean → classify → schema lookup → extract →
    * validate-with-retry → persist → respond INSIDE the stream (every
    * stage narrow; the schema join is stream-static broadcast; append
    * mode, no stateful operator). doc_id parses back out of the staged
    * file name, so the DuckDB twin is the BATCH pipeline oracle over
    * the same rows — streaming and batch must agree bit-for-bit.
    *
    * The replay is capped at the first `DocCap` doc_ids — the ENTIRE
    * corpus at the correctness SFs (500 docs), a fixed-size drop-dir at
    * larger bench SFs: the streaming binaryFile source schedules one
    * task per file (measured: 5191 tasks for 5000 files, ~1.5 ms each),
    * so an uncapped per-doc-file replay times the task scheduler, not
    * the engine. A real 100 TB continuous ingest batches many docs per
    * container file; one-file-per-doc is the reference's per-request
    * shape, kept here at fixture scale. */
  val DocCap = 500
  def streamPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val drop = stageDocsAsFiles(spark, dir, DocCap)
    val nFiles = new java.io.File(drop).list().length
    val res = runToMemory(spark,
      streamDocPipeline(spark, drop,
        p => regexp_extract(p, "doc_(\\d+)\\.txt$", 1).cast(LongType),
        maxFilesPerTrigger = Some(math.max(1, (nFiles + 1) / 2))),
      "stream_pipeline", mode = "append")
    res.select(
      col("doc_id"), col("success"), col("doc_type"), col("record_id"),
      col("file_url"), col("x_first_token"), col("x_n_tokens"),
      col("is_valid"), col("retry_count"))
      .orderBy(col("doc_id"))
  }

  /** The batch pipeline oracle restricted to rows that survive the
    * file round trip (a 0-byte file is skipped by the binaryFile
    * source; a NULL text cannot be written at all) and to the replay
    * cap. */
  def streamPipelineOracleSql: String = {
    val table = "(SELECT * FROM documents WHERE text IS NOT NULL" +
      s" AND length(text) > 0 AND doc_id < $DocCap)"
    s"WITH ${graft.operators.DocPipeline.pipelineOracleCtes(table, "text")} " +
      graft.operators.DocPipeline.pipelineOracleSelect
  }

  /** Streaming upsert sink (the reference's CONTINUOUS ingest shape: one
    * Pinecone upsert per request, src/pinecone_utils.py:85-88 — here one
    * last-writer-wins merge per micro-batch via foreachBatch into the
    * Parquet store). Across batches, later batches win; WITHIN a batch,
    * same-id ties resolve by the highest `seqCol` when given (without
    * one, duplicate ids inside a single micro-batch keep an arbitrary
    * row — pass an event-time/sequence column for deterministic merges).
    * Blocks until the (finite) stream drains; production would keep
    * the query running and hold its handle. */
  def streamUpsertToStore(spark: SparkSession, updates: DataFrame,
                          storeDir: String, idCol: String = "vec_id",
                          seqCol: Option[String] = None): Unit = {
    runStream(updates) {
      _.foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.EmbeddingStore.upsertToStore(
          batch.sparkSession, storeDir, batch, idCol, seqCol)
      }
    }
  }

  /** The embeddings fixture as a file stream. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    fixtureStream(spark, dir, "embeddings")

  /** The stream-maintained LSH bucket store — like every stream store
    * here a [[graft.StoreCatalog]] store built once per source
    * fingerprint (a rebuild per call would duplicate rows AND pay the
    * streaming fixed cost every rep): family `stream_*`, sources =
    * every table the build reads, config = the parameters and layout
    * constants it bakes in, one part per store dir. */
  private[graft] def lshStore(spark: SparkSession, dir: String, bits: Int): String =
    graft.StoreCatalog.getOrBuild(spark, "stream_lsh_buckets",
      Seq(s"$dir/embeddings.parquet"), Seq("bits" -> bits.toString),
      Seq("store")) { parts =>
      createParts(parts)
      val in = embeddingsStream(spark, dir)
        .select(col("vec_id"), col("embedding"),
          graft.operators.Similarity.signBucket(col("embedding"), bits).as("bucket"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").partitionBy("bucket").parquet(parts("store"))
        }
      }
      Map.empty
    }.parts("store")

  /** STREAMING ANN INDEX MAINTENANCE (SURVEY §2.13 + V3's serve path):
    * embeddings arrive as a stream; each micro-batch is sign-LSH-
    * bucketed (a narrow, stateless map — no watermark, no state store)
    * and appended to a bucket-PARTITIONED parquet store in foreachBatch.
    * The index is therefore maintained INCREMENTALLY — a new batch only
    * adds files under the bucket directories it touches, nothing is
    * rebuilt — and serving reads only the probed bucket partitions
    * ([[graft.operators.Similarity.serveLshTopKFromStore]]). This is the
    * structure a continuously-ingesting 100 TB vector store actually
    * runs: write-time bucketing amortized over every subsequent query.
    * Oracle: byte-identical to batch `vector_lsh_topk_b6` (same bits →
    * same buckets, cosine, ranks); `bits` is pinned, not adaptive — a
    * stream cannot count its corpus up front. */
  def streamLshTopKQuery(spark: SparkSession, dir: String, k: Int = 3,
                         nQueries: Int = 10, bits: Int = 6): DataFrame = {
    graft.operators.Similarity.serveLshTopKFromStore(spark, dir,
      lshStore(spark, dir, bits), k, nQueries, bits)
  }

  /** Per-user funnel progress: (v, c, p) are the stage-reaching
    * timestamps, None = stage not reached. */
  case class FunnelState(v: Option[java.sql.Timestamp],
                         c: Option[java.sql.Timestamp],
                         p: Option[java.sql.Timestamp])

  /** STREAMING FUNNEL via flatMapGroupsWithState: the ordered
    * view→click→purchase conversion funnel as a per-user state machine.
    * Each user's state holds the timestamps that reached each stage; a
    * stage advances only on an event STRICTLY after the previous
    * stage's timestamp — Events.funnel's exact semantics, incremental.
    * The greedy update is correct because events arrive in event-time
    * order (the fixture replay preserves it; rows within a micro-batch
    * are sorted here) — the first view IS the min view, the first
    * qualifying click IS the min click after it. Ties at the same
    * timestamp can never advance a stage in either processing order
    * (strict >), so sort order within a tie is immaterial.
    *
    * Emits each user's current stage per micro-batch (append); the
    * 3-row stage rollup is a batch pass over the sink's per-user MAX
    * stage (monotone, so late rows never regress it). Oracle: the SAME
    * SQL as the batch funnel.
    *
    * Scale posture: state is 3 optional timestamps per user — O(ACTIVE
    * users in the idle horizon, not all users ever: once the event-time
    * watermark passes a user's last event + `idleGapMs`, their state is
    * evicted (EventTimeTimeout). Eviction is sound for the funnel
    * because the sink rollup takes the per-user MAX stage — a user
    * reappearing past the horizon restarts at stage 0 and can only
    * re-emit lower-or-equal rows, never regress the rollup. */
  def funnelUpdates(events: DataFrame,
                    idleGapMs: Long = DefaultIdleGapMs): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "2 hours")
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
         state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var s = state.getOption.getOrElse(FunnelState(None, None, None))
            // full-precision ordering: getTime is millis and would let a
            // same-millisecond view/click pair sort wrong (micros matter
            // under the strict-> stage conditions)
            val rs = dropLate[(Long, String, java.sql.Timestamp)](
              rows, _._3, state.getCurrentWatermarkMs())
              .sortWith((a, b) => a._3.compareTo(b._3) < 0)
            if (rs.isEmpty) Iterator.empty // all late: leave state as-is
            else {
              rs.foreach { case (_, et, ts) =>
                et match {
                  case "view" if s.v.isEmpty => s = s.copy(v = Some(ts))
                  case "click" if s.c.isEmpty &&
                    s.v.exists(v => ts.compareTo(v) > 0) => s = s.copy(c = Some(ts))
                  case "purchase" if s.p.isEmpty &&
                    s.c.exists(c => ts.compareTo(c) > 0) => s = s.copy(p = Some(ts))
                  case _ => ()
                }
              }
              state.update(s)
              state.setTimeoutTimestamp(idleTimeoutMs(rs.last._3.getTime, idleGapMs,
                state.getCurrentWatermarkMs()))
              val stage =
                if (s.p.nonEmpty) 3 else if (s.c.nonEmpty) 2 else if (s.v.nonEmpty) 1 else 0
              Iterator.single((user, stage))
            }
          }
        })
      .toDF("user_id", "stage")
  }

  def streamFunnelQuery(spark: SparkSession, dir: String): DataFrame = {
    val updates = funnelUpdates(eventsStream(spark, dir))
    val sunk = runToMemory(spark, updates, "stream_funnel", mode = "append")
    val perUser = sunk.groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
    val row = (ord: Int, label: String) =>
      perUser.filter(col("stage") >= ord)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(ord).as("stage_ord"), lit(label).as("stage"), col("n_users"))
    row(1, "view")
      .unionAll(row(2, "click_after_view"))
      .unionAll(row(3, "purchase_after_click"))
      .orderBy(col("stage_ord"))
  }

  /** STREAMING RETENTION: each user's cohort week is keyed state (set
    * by their first event — correct under the replay's event-time
    * order, same assumption as the funnel and min-tracked so a late
    * first event can only move the cohort EARLIER, matching the batch
    * min(ts)); every event emits its (user, cohort week, week offset)
    * tagged from state, and the triangle is a batch distinct-count over
    * the appended sink. State is one timestamp per user, EVICTED once
    * the watermark passes the user's last event + `idleGapMs`
    * (EventTimeTimeout): a user reappearing past the horizon re-seeds a
    * LATER first_ts, which the sink rollup's per-user min(first_ts)
    * ignores — the cohort stays the true earliest — so eviction trades
    * no correctness on the triangle, only bounds state to users active
    * within the horizon. Oracle: the SAME SQL as batch retention. */
  def retentionTagged(events: DataFrame,
                      idleGapMs: Long = DefaultIdleGapMs): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", "2 hours")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[java.sql.Timestamp]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rs = dropLate[(Long, java.sql.Timestamp)](
              rows, _._2, state.getCurrentWatermarkMs())
            if (rs.isEmpty) Iterator.empty // all late: leave state as-is
            else {
              val ord = Ordering.fromLessThan[java.sql.Timestamp](
                (a, b) => a.compareTo(b) < 0)
              val batchMin = rs.map(_._2).min(ord)
              val first = state.getOption match {
                case Some(f) if f.compareTo(batchMin) <= 0 => f
                case _ => batchMin
              }
              state.update(first)
              state.setTimeoutTimestamp(idleTimeoutMs(rs.map(_._2).max(ord).getTime,
                idleGapMs, state.getCurrentWatermarkMs()))
              rs.iterator.map { case (_, ts) => (user, first, ts) }
            }
          }
        })
      .toDF("user_id", "first_ts", "ts")
  }

  def streamRetentionQuery(spark: SparkSession, dir: String): DataFrame = {
    val tagged = retentionTagged(eventsStream(spark, dir))
    val sunk = runToMemory(spark, tagged, "stream_retention", mode = "append")
    // a user's cohort is their FINAL (earliest) first_ts — rows tagged
    // before an earlier first event arrived would carry a later cohort,
    // so re-derive the per-user min before bucketing
    val cohort = sunk.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("first_ts"))).as("cohort_week"))
    sunk.join(cohort.select(col("user_id").as("cu"), col("cohort_week")),
        col("user_id") === col("cu"))
      .select(col("user_id"), col("cohort_week"),
        expr("CAST(datediff(date_trunc('week', ts), cohort_week) div 7 AS INT)")
          .as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** The materialized bigram LM for a fixture dir — a persistent
    * [[graft.StoreCatalog]] store, fingerprint-keyed on the documents
    * source, so the model trains once per corpus rather than once per
    * streaming-twin invocation (the bm25/postings store pattern). */
  private[graft] def lmModelStoreDir(spark: SparkSession, dir: String): String =
    graft.StoreCatalog.getOrBuild(spark, "lm_model",
      Seq(s"$dir/documents.parquet"), Seq(), Seq("model")) { parts =>
      graft.operators.TextAnalytics.lmModel(spark, dir)
        .coalesce(1).write.mode("overwrite").parquet(parts("model"))
      Map.empty
    }.parts("model")

  /** STREAM-STATIC model scoring: the bigram LM trains ONCE in batch
    * (materialized — a per-micro-batch re-train would silently hide in
    * a lazy static side) and every streamed document's bigram slots
    * join it broadcast, stateless, per micro-batch — the "score fresh
    * crawl against yesterday's model" ingest shape. The per-doc mean is
    * a batch rollup over the appended sink (same post-pass posture as
    * the stream-stream range join; a non-windowed groupBy after the
    * join can't run in append mode). Oracle: the SAME SQL as batch
    * lm_fluency. */
  def streamLmFluencyQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalytics
    val model = broadcast(
      spark.read.parquet(lmModelStoreDir(spark, dir)))
    val scored = TextAnalytics.lmSlots(docsStream(spark, dir))
      .join(model, col("bg") === col("mbg"))
      .select(col("doc_id"), col("sc"))
    // PARTIAL-AGGREGATE inside each micro-batch (foreachBatch), then
    // merge partials: the earlier memory-sink shape appended every
    // matched bigram SLOT row — O(corpus tokens) rows through the
    // driver's sink — where the per-doc (sum, count) partials are
    // O(docs per batch) and merge exactly (integer sc). This is the
    // streaming twin of map-side combine, and most of the
    // stream-vs-batch fixed-cost gap was that sink volume.
    val parts = runToParts(scored, "lm_parts") { (batch, epochId) =>
      batch.groupBy(col("doc_id"))
        .agg(sum(col("sc")).as("s"), count(lit(1)).as("nb"))
        .withColumn("epoch", lit(epochId))
    }
    // epoch-stamped merge: max per (doc, epoch) absorbs an at-least-once
    // replay's IDENTICAL re-appended partial, sum across epochs carries
    // a document whose slots ever split across batches — correct under
    // both failure modes instead of silently undercounting if the
    // one-doc-one-batch staging invariant ever breaks
    val perDoc = parts
      .groupBy(col("doc_id"), col("epoch"))
      .agg(max(col("s")).as("s"), max(col("nb")).as("nb"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s")).as("s"), sum(col("nb")).as("nb"))
    graft.Tables.loadWide(spark, dir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        when(col("nb") > 0,
          col("s").cast("double") / col("nb").cast("double"))
          .otherwise(lit(0.0)).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** STREAM-APPLIED TOKENIZER: the BPE vocabulary trains ONCE in batch
    * ([[graft.operators.TextAnalytics.bpeSegs]] — materialized, same
    * train-offline/score-online posture as the LM and DSIR twins) and
    * every arriving document's word counts join it broadcast, stateless,
    * per micro-batch — "count the context-window budget of fresh crawl
    * under the production tokenizer" as a continuous query. Per-doc
    * (n_words, n_subwords) partials append per batch; a document lives
    * wholly in ONE batch (file-per-batch staging), so its partial row
    * is its global count and the final rollup merges by MAX — an
    * at-least-once crash-replayed batch re-appends an IDENTICAL row,
    * which max absorbs where sum would double-count (the
    * stream_bm25_store replay contract). Oracle: the SAME SQL as batch
    * bpe_tokenize. */
  def streamBpeTokenizeQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalytics
    import graft.functions.TextFunctions.words
    val segs = broadcast(
      TextAnalytics.bpeSegs(spark, dir).localCheckpoint(true))
    val counted = docsStream(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(segs, "w")
      .select(col("doc_id"), col("k"))
    mergeBpePartials(runToParts(counted, "bpe_parts") { (batch, epochId) =>
      batch.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"), sum(col("k")).as("ns"))
        .withColumn("epoch", lit(epochId))
    })
  }

  /** The BPE partial merge, factored out for the replay spec: one
    * (nw, ns, epoch) row per (doc, batch). MAX per (doc, epoch) makes
    * an at-least-once re-appended identical partial a no-op; SUM
    * across epochs carries a document whose tokens ever split across
    * batches (the staging layout keeps a doc in one batch, but the
    * merge no longer silently undercounts if that invariant breaks). */
  private[graft] def mergeBpePartials(parts: DataFrame): DataFrame =
    parts.groupBy(col("doc_id"), col("epoch"))
      .agg(max(col("nw")).as("nw"), max(col("ns")).as("ns"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nw")).as("n_words"), sum(col("ns")).as("n_subwords"))
      .orderBy(col("doc_id"))

  /** STREAM-SCORED DSIR SELECTION against a BATCH-TRAINED importance
    * model — the online form of [[graft.operators.TextAnalytics
    * .dsirSelect]] and the third train-offline/score-online twin (LM
    * fluency, volume anomalies): the <= nBuckets (bucket, weight) model
    * trains once in batch and broadcasts into every micro-batch; the
    * arriving pool documents pay hashing once, join the model
    * STATELESSLY (no watermark, no state store), and per-batch per-doc
    * score partials — O(docs per batch), integer-exact under any
    * batching — merge in the final top-k pass. On a true deployment the
    * model would come from yesterday's corpus; the fixture trains and
    * scores on the same replayed documents so the DuckDB twin checks
    * every row. Oracle: dsirSelectSql itself. The score partials are a
    * store keyed on the scoring config; they carry batch_id so a
    * replayed epoch dedupes at read instead of double-counting. */
  def streamDsirSelectQuery(spark: SparkSession, dir: String,
                            nBuckets: Int = 4096, k: Int = 100,
                            targetLang: String = "en"): DataFrame = {
    import graft.operators.TextAnalytics
    val partDir = graft.StoreCatalog.getOrBuild(spark, "stream_dsir_parts",
      Seq(s"$dir/documents.parquet"),
      Seq("nBuckets" -> nBuckets.toString, "targetLang" -> targetLang),
      Seq("parts")) { parts =>
      createParts(parts)
      val model = broadcast(
        TextAnalytics.dsirModel(spark, dir, nBuckets, targetLang)
          .localCheckpoint(true))
      val pool = docsStream(spark, dir)
        .filter(col("lang") =!= targetLang)
      // slot-level join (a streaming pre-aggregation would need a
      // watermark); the per-doc rollup partial-aggregates in foreachBatch
      val scored = TextAnalytics.lmSlots(pool)
        .select(col("doc_id"),
          pmod(graft.functions.TextFunctions.fingerprint(col("bg")),
            lit(nBuckets.toLong)).as("b"))
        .join(model, "b")
        .select(col("doc_id"), col("lw").as("p"))
      runStream(scored, Some(4)) {
        _.foreachBatch { (batch: DataFrame, epochId: Long) =>
          batch.groupBy(col("doc_id"))
            .agg(sum(col("p")).as("s"))
            .withColumn("batch_id", lit(epochId))
            .coalesce(1).write.mode("append").parquet(parts("parts"))
        }
      }
      Map.empty
    }.parts("parts")
    val perDoc = spark.read.parquet(partDir)
      .groupBy(col("doc_id"), col("batch_id"))
      .agg(first(col("s")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("s")).as("dsir_score"))
    TextAnalytics.dsirTopK(perDoc, k)
  }

  /** The refresh store built through [[ingestDsirRefreshBatch]]:
    * (features dir, count-partials dir, model-versions dir). */
  private[graft] def dsirRefreshStores(
      spark: SparkSession, dir: String, nBuckets: Int = 4096,
      targetLang: String = "en"): (String, String, String) = {
    val h = graft.StoreCatalog.getOrBuild(spark, "stream_dsir_refresh",
      Seq(s"$dir/documents.parquet"),
      Seq("nBuckets" -> nBuckets.toString, "targetLang" -> targetLang),
      Seq("feats", "counts", "models")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      runStream(in, Some(4)) {
        _.foreachBatch { (batch: DataFrame, epochId: Long) =>
          ingestDsirRefreshBatch(batch, epochId, parts("feats"),
            parts("counts"), parts("models"), nBuckets, targetLang)
        }
      }
      Map.empty
    }
    (h.parts("feats"), h.parts("counts"), h.parts("models"))
  }

  /** One micro-batch of the DSIR model-REFRESH pipeline, factored out
    * so the replay spec can re-run an epoch by hand. Three appends,
    * each idempotent on replay by construction:
    *   1. per-doc bucket FEATURES (doc_id, b, n, lang, batch_id) —
    *      replays dedupe on (doc_id, b, batch_id) at read;
    *   2. per-bucket COUNT PARTIAL (b, ct_p, cr_p, batch_id) — a
    *      <= nBuckets-row sketch of the batch, replays dedupe on
    *      (b, batch_id); counts are sums, so the merged partials equal
    *      the full-corpus counts under ANY batching;
    *   3. the refreshed MODEL VERSION — retrained from ALL committed
    *      partials (this one included) and appended under
    *      epoch=epochId; a replayed epoch appends byte-identical rows
    *      (its training input is the deduped partial set), which the
    *      serve-side DISTINCT collapses. */
  private[graft] def ingestDsirRefreshBatch(batch: DataFrame, epochId: Long,
                                            featsDir: String, countsDir: String,
                                            modelDir: String, nBuckets: Int,
                                            targetLang: String): Unit = {
    import graft.operators.TextAnalytics
    val feats = TextAnalytics.dsirDocBuckets(batch, nBuckets)
      .join(batch.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("batch_id", lit(epochId))
      .localCheckpoint(true) // two consumers: the feature append + the partial
    feats.coalesce(1).write.mode("append").parquet(featsDir)
    feats.groupBy(col("b"))
      .agg(sum(when(col("lang") === targetLang, col("n"))
          .otherwise(lit(0L))).as("ct_p"),
        sum(when(col("lang") =!= targetLang, col("n"))
          .otherwise(lit(0L))).as("cr_p"))
      .withColumn("batch_id", lit(epochId))
      .coalesce(1).write.mode("append").parquet(countsDir)
    // retrain on everything committed so far: the merged (deduped)
    // partials ARE the corpus counts through this epoch
    val merged = batch.sparkSession.read.parquet(countsDir)
      .groupBy(col("b"), col("batch_id"))
      .agg(max(col("ct_p")).as("ct_p"), max(col("cr_p")).as("cr_p"))
      .groupBy(col("b"))
      .agg(sum(col("ct_p")).as("ct"), sum(col("cr_p")).as("cr"))
      .localCheckpoint(true) // tc, rc, and both totals read it
    TextAnalytics.dsirModelFromCounts(
        merged.filter(col("ct") > 0).select(col("b"), col("ct")),
        merged.filter(col("cr") > 0).select(col("b"), col("cr")), nBuckets)
      .withColumn("epoch", lit(epochId))
      .coalesce(1).write.mode("append").partitionBy("epoch").parquet(modelDir)
  }

  /** STREAMING DSIR WITH MODEL REFRESH — the production form of
    * [[streamDsirSelectQuery]], whose model is trained once up front:
    * here every micro-batch EXTENDS the corpus counts and commits a
    * retrained model version under its epoch, and serving joins the
    * stored features against the LATEST committed version (the
    * stream-static join picking head-of-store — a real pipeline's
    * "yesterday's model scores today's pool, retrained as the corpus
    * grows"). Scale shape: per batch, the feature pass is paid on the
    * BATCH only; the retrain reads <= nBuckets × batches bounded
    * partial rows (never documents) and broadcasts nothing bigger than
    * the <= nBuckets-row model. Serving rescoring rides the stored
    * per-doc features — O(corpus bucket rows), one broadcast join.
    *
    * Oracle: dsirSelectSql — the LATEST version is trained on the
    * merged partials of every batch, and counts are sums, so it equals
    * the batch model over the full corpus bit-for-bit; scoring the
    * deduped stored features against it reproduces the batch scores
    * exactly. A replayed epoch re-appends byte-identical rows in all
    * three stores (see [[ingestDsirRefreshBatch]]) and the serve
    * result is unchanged — the replay spec drives this. */
  def streamDsirRefreshQuery(spark: SparkSession, dir: String,
                             nBuckets: Int = 4096, k: Int = 100,
                             targetLang: String = "en"): DataFrame = {
    import graft.operators.TextAnalytics
    val (featsDir, _, modelDir) =
      dsirRefreshStores(spark, dir, nBuckets, targetLang)
    val versions = spark.read.parquet(modelDir)
    // head-of-store pick: ONE long of driver control state (partition
    // columns read back as int when values fit — widen via Number)
    val latest = versions.agg(max(col("epoch"))).head()
      .get(0).asInstanceOf[Number].longValue
    val model = versions.filter(col("epoch") === latest)
      .select(col("b"), col("lw")).distinct() // replay appends collapse here
    val feats = spark.read.parquet(featsDir)
      .filter(col("lang") =!= targetLang)
      .groupBy(col("doc_id"), col("b"), col("batch_id"))
      .agg(max(col("n")).as("n")) // replay dedupe
    val scored = feats.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("n") * col("lw")).as("dsir_score"))
    TextAnalytics.dsirTopK(scored, k)
  }

  /** STREAMING EXACTLY-ONCE RELATIONAL SINK: [[graft.operators.Sinks
    * .writeJdbcExactlyOnce]] wired into foreachBatch with the EPOCH id
    * as the batch id. Structured Streaming's foreachBatch contract is
    * at-least-once — after a crash between the sink write and the
    * checkpoint commit, the SAME epoch re-runs with the SAME epochId —
    * and the stage-and-merge keyed on epochId absorbs exactly that
    * replay: the re-run's stage merges zero new rows. This is the true
    * end-to-end form of the reference's continuous ingest + Postgres
    * persist (supabase_client.py:45-77): at-least-once source, exactly-
    * once relational state. Blocks until the (finite) stream drains.
    * `checkpointDir` is the checkpoint a restart resumes from; it is
    * kept. Without one the run gets a fresh checkpoint, deleted after
    * stop ([[runStream]]). */
  def streamJdbcExactlyOnce(updates: DataFrame, url: String, table: String,
                            key: String,
                            checkpointDir: Option[String] = None,
                            writeOptions: Map[String, String] = Map.empty): Unit = {
    runStream(updates, checkpointDir = checkpointDir) {
      _.foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.operators.Sinks.writeJdbcExactlyOnce(
          batch, url, table, key, s"epoch_$epochId",
          writeOptions = writeOptions)
      }
    }
  }

  /** One sunk DuckDB file per fixture dir (and events fingerprint) per
    * JVM: bench reps and Verify re-enter this builder, and each
    * re-entry REPLAYS the whole stream into the SAME database with the
    * same epoch ids — the exactly-once merge absorbs the duplicate
    * epochs, which is the idempotence claim itself, exercised on every
    * rep. */
  private val jdbcSinkDbs =
    new scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Oracle-checkable streaming exactly-once sink twin: the events
    * fixture streamed micro-batch-wise through [[streamJdbcExactlyOnce]]
    * into a relational table, read back. The DuckDB twin is plain
    * `SELECT .. FROM events` — exact row set, no dupes, across replays.
    */
  def streamSinkJdbcQuery(spark: SparkSession, dir: String): DataFrame = {
    val url = currentStaging(jdbcSinkDbs, dir, Seq(s"$dir/events.parquet"))(
      s"jdbc:duckdb:${graft.Scratch.dir("jdbc_sink")}/sink.db")
    val rows = eventsStream(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // 10k-row prepared-statement batches: the default 1000 spends the
    // sink's wall time on JDBC round-trip overhead at 100k rows/epoch
    streamJdbcExactlyOnce(rows, url, "events_sunk", key = "event_id",
      writeOptions = Map("batchsize" -> "10000"))
    graft.operators.Sinks.readJdbc(spark, url, "events_sunk")
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"), col("value").cast("double").as("value"))
      .orderBy(col("event_id"))
  }

  def streamSinkJdbcOracleSql: String =
    "SELECT event_id, user_id, event_type, value FROM events"

  /** Fingerprint-store partition fan-out: fp-prefix buckets, the
    * partition key of the at-rest layout. 64 suits the fixtures; a
    * 100 TB deployment raises it (the serve contract below is
    * bucket-count-agnostic — it's baked into the layout, so changing it
    * means rewriting the store, like any partitioned table). */
  private[graft] val DedupStoreBuckets = 64

  private[graft] def fpBucket(fp: Column): Column =
    pmod(fp, lit(DedupStoreBuckets.toLong)).cast("int")

  /** The seen-side of the per-micro-batch anti-join, PRUNED to the
    * buckets the arriving batch touches: `bucket` is the store's
    * partition column, so the static isin filter prunes directory
    * listings before any bytes are read — per-batch cost tracks the
    * batch's bucket fan-out, not the store's total history (the same
    * probe-pruning shape as [[graft.operators.Similarity.serveLshTopKFromStore]]).
    * `fps` (small batches only, [[DriverCap.FpPushdownLimit]]) also lands
    * in PushedFilters: the store is written fp-sorted within each
    * bucket, so row-group min/max stats turn the anti-join's seen side
    * into a point lookup. */
  private[graft] def prunedSeenFps(spark: SparkSession, storeDir: String,
                                   buckets: Seq[Int],
                                   fps: Option[Seq[Long]] = None): DataFrame = {
    val pruned = spark.read.parquet(storeDir)
      .where(col("bucket").isin(buckets: _*))
    val scoped = fps match {
      case Some(f) => pruned.where(col("fp").isin(f: _*))
      case None => pruned
    }
    scoped.select(col("fp").as("seen_fp"))
  }

  /** The rows of `keyed` (fp, bucket, ..) whose fp the seen-store does
    * not hold yet. ONE bounded action decides the pushdown AND sizes the
    * batch: getting ≤ FpPushdownLimit rows means we hold the WHOLE
    * batch, so the same rows serve as the pushdown fp set and the
    * complete touched-bucket set; only an over-limit batch pays a
    * second action for its full bucket set. */
  private def unseenFps(keyed: DataFrame, storeDir: String): DataFrame =
    if (!storeNonEmpty(storeDir)) keyed
    else {
      val probe = DriverCap.collect(keyed.select(col("fp"), col("bucket")),
        DriverCap.FpPushdownLimit)
      val touched = probe match {
        case Some(rows) => rows.map(_.getInt(1)).distinct.toSeq.sorted
        case None => keyed.select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
      }
      val fps = probe.map(_.map(_.getLong(0)).toSeq.sorted)
      keyed.join(prunedSeenFps(keyed.sparkSession, storeDir, touched, fps),
        col("fp") === col("seen_fp"), "left_anti")
    }

  /** Admit `fresh` into the seen-store: ONE file per touched bucket per
    * batch (file count, not row count, dominates serve cost), fp-sorted
    * so row-group min/max stats are tight for the point lookup. */
  private def appendSeenFps(fresh: DataFrame, storeDir: String): Unit =
    graft.operators.Sinks.writeClustered(
      fresh.select(col("fp"), col("doc_id"), col("bucket")),
      storeDir, "bucket", Seq("fp"))

  /** STORE-BACKED streaming exact dedup — UNBOUNDED-HISTORY ingest
    * dedup: each micro-batch collapses its own duplicates (min doc_id
    * per content fingerprint), anti-joins the persistent seen-store,
    * and appends only never-seen content. This is the posture
    * `dropDuplicatesWithinWatermark` cannot cover: the state there is
    * watermark-bounded BY DESIGN, while a continuous corpus ingest must
    * dedup against everything EVER admitted — so the "state" lives in a
    * disk-backed store (parquet here; the layout accretes under
    * [[graft.operators.Sinks.compact]]'s hygiene), not in state-store
    * memory, and serving-side cost is one fingerprint-keyed anti-join
    * per batch. Survivor = min doc_id per fingerprint (batches arrive
    * in doc order, within-batch collapse takes the min) — the same
    * keeper contract as batch exact_dedup, so the oracle is one GROUP
    * BY over the static table.
    *
    * The store is PARTITIONED by fp-prefix bucket and each batch's
    * anti-join reads only the buckets it touches ([[prunedSeenFps]]), so
    * per-batch serve cost is O(touched buckets' rows), not O(entire
    * history). The touched-bucket collect is bounded by
    * [[DedupStoreBuckets]] ints — model-state-sized, like the IVF
    * codebook — never by batch or store size. */
  def streamExactDedupStoreQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.fingerprint
    val store = graft.StoreCatalog.getOrBuild(spark, "stream_exact_dedup",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> DedupStoreBuckets.toString), Seq("store")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          val batchMin = batch.groupBy(col("fp"))
            .agg(min(col("doc_id")).as("doc_id"))
            .withColumn("bucket", fpBucket(col("fp")))
            .persist() // two consumers: the bucket-set probe + the join
          try appendSeenFps(unseenFps(batchMin, parts("store")), parts("store"))
          finally batchMin.unpersist()
        }
      }
      Map.empty
    }.parts("store")
    spark.read.parquet(store)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  def streamExactDedupStoreOracleSql: String =
    s"""SELECT min(doc_id) AS doc_id FROM documents
        GROUP BY ${graft.functions.TextFunctions.fingerprintSql("text")}
        ORDER BY 1"""

  /** STREAMING-MAINTAINED NEAR-DUP INDEX: the MinHash-LSH analogue of
    * the store-backed exact dedup above, and the text-side sibling of
    * the streaming ANN index. Each micro-batch pays the per-document
    * cost ONCE on arrival — shingle → hash → k minhash aggregates,
    * through the very plan the batch path uses (Dedup.sigTableFrom) —
    * and appends the 8-long signature row to a persistent store. The
    * heavy text never re-tokenizes on replay or re-serve.
    *
    * Serving is [[graft.operators.Dedup]]'s band join + exact-Jaccard
    * verify + connected components + representative keep, reading
    * signatures from the store instead of recomputing them — so the
    * continuously-ingesting corpus gets batch-identical near-dedup
    * (oracle: the full LSH keep in SQL) at the cost of band-joining
    * 8 longs per document.
    *
    * 100 TB: the store accretes ids+longs (a few hundred GB per
    * TRILLION documents) PARTITIONED BY BAND at write time like the ANN
    * bucket store — the at-rest rows are the already-banded
    * (doc_id, band, bh) form ([[graft.operators.Dedup.bandedRows]]), so
    * serving band-joins the store's own layout with no mh
    * reconstitution, and the replay-membership check reads ONE band
    * partition ([[storeDocIds]]); the arriving batch's signature pass is
    * the only text-touching work. */
  def streamNearDupStoreQuery(spark: SparkSession, dir: String): DataFrame = {
    val (sigK, bandR) = (8, 2)
    val store = graft.StoreCatalog.getOrBuild(spark, "stream_neardup_sigs",
      Seq(s"$dir/documents.parquet"),
      Seq("k" -> sigK.toString, "r" -> bandR.toString), Seq("store")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("text"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          appendUnseenBanded(graft.operators.Dedup.sigTableFrom(batch, k = sigK),
            parts("store"))(graft.operators.Dedup.bandedRows(_, k = sigK, r = bandR))
        }
      }
      Map.empty
    }.parts("store")
    graft.operators.Dedup.keepFromPairs(spark, dir,
      graft.operators.Dedup.lshPairsFromBanded(spark, dir,
        spark.read.parquet(store)))
  }

  /** Replay-membership read over a band-partitioned store (signatures
    * or image hashes): every document has exactly ONE band-0 row, so
    * membership needs only the `band=0` partition — the anti-join's
    * seen side is partition-pruned to 1/nBands of the store. */
  private[graft] def storeDocIds(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .where(col("band") === 0)
      .select(col("doc_id").as("seen_id"))

  /** Append the `banded` rows of `keyed`'s documents not in the store
    * yet (replays append nothing), one file per band per batch. */
  private def appendUnseenBanded(keyed: DataFrame, storeDir: String)(
      banded: DataFrame => DataFrame): Unit = {
    val fresh =
      if (!storeNonEmpty(storeDir)) keyed
      else keyed.join(storeDocIds(keyed.sparkSession, storeDir),
        col("doc_id") === col("seen_id"), "left_anti")
    banded(fresh).repartition(col("band"))
      .write.mode("append").partitionBy("band").parquet(storeDir)
  }

  def streamNearDupStoreOracleSql: String = graft.operators.Dedup.lshDedupKeepSql()

  /** The band-partitioned image-hash store the stream below builds. */
  private[graft] def imageHashStore(spark: SparkSession, dir: String): String =
    graft.StoreCatalog.getOrBuild(spark, "stream_image_hashes",
      Seq(s"$dir/documents.parquet"),
      Seq("bands" -> graft.operators.Multimodal.DhashBands.toString,
        "bandBits" -> graft.operators.Multimodal.DhashBandBits.toString),
      Seq("store")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("text"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          appendUnseenBanded(graft.operators.Multimodal.imageDhashFrom(batch)
            .withColumnRenamed("dhash", "hash"), parts("store"))(
            graft.operators.Multimodal.dhashBandedRows(_))
        }
      }
      Map.empty
    }.parts("store")

  /** STREAMING-MAINTAINED IMAGE-HASH INDEX — the media member of the
    * persistent-store family (exact-dedup fp store / MinHash signature
    * store / CMS store / ANN bucket store): each micro-batch pays the
    * per-image cost ONCE on arrival — real PNG encode → distributed
    * decode → 56-bit block-sum dHash, through the very plan the batch
    * path uses ([[graft.operators.Multimodal.imageDhashFrom]]) — and
    * appends the already-BANDED (doc_id, hash, band, bv) rows to a
    * band-partitioned store. The pixels never re-decode on replay or
    * serve.
    *
    * Serving band-joins the store's own at-rest layout
    * ([[graft.operators.Multimodal.pairsFromBandedHashes]]) and
    * Hamming-verifies — so the continuously-ingesting media corpus gets
    * batch-identical near-dup pairs (oracle: the batch dHash pipeline
    * in SQL) at the cost of joining 8-byte hashes.
    *
    * 100 TB: images are the HEAVIEST rows a pipeline carries; this is
    * the layout where they are decoded exactly once, the store accretes
    * ids + one long per band, replay membership reads the band=0
    * partition only, and serve touches no pixel data at all. */
  def streamImageNearDupStoreQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.pairsFromBandedHashes(
      spark.read.parquet(imageHashStore(spark, dir)))

  def streamImageNearDupStoreOracleSql: String =
    graft.operators.Multimodal.imageNearDupOracleSql()

  /** PERSISTENT STREAMING KMV STORE — unbounded-ingest distinct counting
    * with bounded per-batch state, and the one sketch whose streamed form
    * is bit-equal to the batch form even in the ESTIMATING regime: a KMV
    * sketch is a pure function of the key SET (the k smallest distinct
    * hashes), so however ingestion was batched, merging per-batch
    * partials — distinct-union then keep the k smallest — yields exactly
    * the sketch a single pass would have built (any hash in the global
    * k-minimum is necessarily within its own batch's k-minimum). CMS
    * gets this from elementwise addition; KLL does NOT (compaction is
    * arrival-order-dependent, its oracle pins the exact regime only) —
    * which is why the quantile sketch has no store twin and this one
    * does.
    *
    * Each micro-batch appends one (event_type, batch_id, mins) row —
    * O(k) longs, never a row per event; a replayed epoch deduplicates
    * away on (type, batch) exactly like the CMS store. Serve merges the
    * partials per type and runs the batch estimator + exact counterpart,
    * so the oracle is `events_distinct_kmv`'s own SQL. */
  def streamKmvDistinctQuery(spark: SparkSession, dir: String,
                             k: Int = 64): DataFrame = {
    import graft.operators.Sketches
    val merged = kmvStoreMins(spark, dir, k)
    val ev = graft.Tables.loadWide(spark, dir, "events")
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"),
        Sketches.kmvEstimate("mins", k).as("est_users"), col("n_exact"))
      .orderBy(col("event_type"))
  }

  /** The store's merged per-type sketches: ingest if first touch, then
    * dedupe replays on (type, batch) and distinct-union each type's
    * partials down to its k minimum values — the (event_type, mins)
    * table BOTH store-served queries consume. */
  private[graft] def kmvStoreMins(spark: SparkSession, dir: String,
                                  k: Int): DataFrame = {
    import graft.functions.NativeFunctions.kmvMins
    import graft.operators.Sketches
    val store = graft.StoreCatalog.getOrBuild(spark, "stream_kmv",
      Seq(s"$dir/events.parquet"), Seq("k" -> k.toString), Seq("store")) { parts =>
      createParts(parts)
      runStream(eventsStream(spark, dir)) {
        _.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
          batch.select(col("event_type"),
              Sketches.kmvHash(col("user_id")).as("h"))
            .groupBy(col("event_type"))
            .agg(kmvMins(col("h"), k).as("mins"))
            .withColumn("batch_id", lit(epochId))
            .coalesce(1) // a handful of k-long sketch rows per batch
            .write.mode("append").parquet(parts("store"))
        }
      }
      Map.empty
    }.parts("store")
    spark.read.parquet(store)
      .groupBy(col("event_type"), col("batch_id"))
      .agg(first(col("mins")).as("mins"))
      .groupBy(col("event_type"))
      .agg(slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))),
        1, k).as("mins"))
  }

  /** Theta-sketch-style SET ALGEBRA served from the streaming KMV store:
    * pairwise distinct-union and intersection estimates computed from
    * the merged per-type store sketches alone — no raw-history scan at
    * serve time. Because the merged store sketch equals the batch
    * sketch (KMV is a pure function of the key set), the pairwise
    * algebra — and therefore the oracle — is `events_kmv_setops`' own;
    * the raw table appears only in the exact counterpart columns that
    * pin the estimator (dropped at 100 TB). */
  def streamKmvSetopsQuery(spark: SparkSession, dir: String,
                           k: Int = 64): DataFrame =
    graft.operators.Sketches.kmvSetOpsFromSketches(
      kmvStoreMins(spark, dir, k),
      graft.Tables.loadWide(spark, dir, "events"), k)

  /** PERSISTENT STREAMING SKETCH STORE — unbounded-ingest heavy-hitter
    * counting with O(1)-per-batch state: each micro-batch folds its
    * events into per-type Count-Min matrices (the same map-side-combined
    * [[graft.plans.CmsAgg]] the batch query uses) and APPENDS the
    * (event_type, batch_id, cms) partial to a persistent store. Serving
    * keeps ONE row per (type, batch) — a replayed epoch's re-appended
    * partial deduplicates away, the idempotence-not-transactions posture
    * of the content-addressed K1 upload — then zip-adds the partials per
    * type with exact integer sums. CMS merge is elementwise addition, so
    * the streamed sketch equals the batch sketch BIT-FOR-BIT regardless
    * of how ingestion was batched, and the probe contract (top-3
    * most-active users per type, exact count alongside the estimate) is
    * the batch query's own. Store growth is O(types × batches) rows of
    * depth·width longs — a bounded sketch per batch, never a row per
    * event. Oracle: the SAME SQL as `events_cms_counts`. */
  def streamCmsCountsQuery(spark: SparkSession, dir: String,
                           depth: Int = 4, width: Int = 8192): DataFrame = {
    import graft.functions.NativeFunctions.cmsAgg
    val store = graft.StoreCatalog.getOrBuild(spark, "stream_cms",
      Seq(s"$dir/events.parquet"),
      Seq("depth" -> depth.toString, "width" -> width.toString),
      Seq("store")) { parts =>
      createParts(parts)
      runStream(eventsStream(spark, dir)) {
        _.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
          batch.groupBy(col("event_type"))
            .agg(cmsAgg(col("user_id"), depth, width).as("cms"))
            .withColumn("batch_id", lit(epochId))
            .coalesce(1) // a handful of matrix rows per batch
            .write.mode("append").parquet(parts("store"))
        }
      }
      Map.empty
    }.parts("store")
    val parts = spark.read.parquet(store)
      .groupBy(col("event_type"), col("batch_id"))
      .agg(first(col("cms")).as("cms"))
    val merged = parts
      .select(col("event_type"), posexplode(col("cms")).as(Seq("pos", "v")))
      .groupBy(col("event_type"), col("pos"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), s -> s.sv)")
        .as("cms"))
    val ev = graft.Tables.loadWide(spark, dir, "events")
    val exact = ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("n_exact").desc, col("user_id"))
    val probes = exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    probes.join(merged, Seq("event_type"))
      .select(col("event_type"), col("user_id"), col("n_exact"),
        graft.operators.Sketches.cmsEstimate(col("cms"), col("user_id"),
          depth, width).as("n_cms"))
      .orderBy(col("event_type"), col("user_id"))
  }

  /** The streaming graph store built through [[ingestGraphBatch]]:
    * (node store dir, edge store dir). */
  private[graft] def knnGraphStreamStore(
      spark: SparkSession, dir: String, deg: Int = 8,
      bits: Int = GraphStreamBits): (String, String) = {
    val h = graft.StoreCatalog.getOrBuild(spark, "stream_knn_graph",
      Seq(s"$dir/embeddings.parquet"),
      Seq("deg" -> deg.toString, "bits" -> bits.toString,
        "buckets" -> graft.operators.Similarity.GraphStoreBuckets.toString),
      Seq("nodes", "edges")) { parts =>
      createParts(parts)
      val in = embeddingsStream(spark, dir)
        .select(col("vec_id"), col("embedding"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          ingestGraphBatch(batch.sparkSession, batch, parts("nodes"),
            parts("edges"), deg, bits)
        }
      }
      Map.empty
    }
    (h.parts("nodes"), h.parts("edges"))
  }

  /** Pinned sign-LSH width for the streaming graph build: a stream
    * cannot count its corpus up front, so the index config is fixed at
    * deploy (the [[streamLshTopKQuery]] precedent; re-widening the
    * buckets is a store rewrite, like re-bucketing any partitioned
    * table). */
  private[graft] val GraphStreamBits = 6

  /** Node-store read PRUNED to a bucket set (the arriving batch's own
    * buckets for replay membership; its radius-1 probe set for candidate
    * generation): `bucket` is the partition column, so the static isin
    * prunes directory listings before any bytes are read — per-batch
    * node-read cost tracks the batch's bucket fan-out, not ingested
    * history (the [[prunedSeenFps]] legitimacy class). */
  private[graft] def prunedGraphNodes(spark: SparkSession, nodeDir: String,
                                      buckets: Seq[Int]): DataFrame =
    spark.read.parquet(nodeDir).where(col("bucket").isin(buckets: _*))
      .select(col("vec_id"), col("embedding"), col("bucket"))

  /** Edge-store read PRUNED to the src buckets a batch's new candidates
    * touch — the merge rewrites exactly these partitions. */
  private[graft] def prunedGraphStoreEdges(spark: SparkSession, edgeDir: String,
                                           gbuckets: Seq[Int]): DataFrame =
    spark.read.parquet(edgeDir).where(col("gbucket").isin(gbuckets: _*))
      .select(col("src"), col("dst"), col("score"))

  /** The running top-deg merged with a batch's new candidate edges —
    * exact because an edge once evicted from a src's top-deg can never
    * re-enter it (scores are immutable), so per-src state of deg rows is
    * a lossless summary of every candidate ever proposed. The (src, dst)
    * pre-aggregation deduplicates CRASH-REPLAY re-proposals: a batch
    * that died between its edge write and its node write re-runs with
    * its nodes still "fresh", re-proposing candidates its first attempt
    * already merged — without the dedupe a duplicate (src, dst) could
    * occupy two of a node's deg slots. Scores are deterministic, so
    * max == the only value; normal operation has no duplicates and the
    * pre-aggregation combines map-side into the same shuffle. */
  private def topDegEdges(cands: DataFrame, deg: Int): DataFrame =
    cands.groupBy(col("src"), col("dst"))
      .agg(max(col("score")).as("score"))
      .groupBy(col("src"))
      .agg(graft.functions.NativeFunctions.topKByScore(
        col("score"), col("dst"), deg).as("top"))
      .select(col("src"), explode(col("top")).as("p"))
      .select(col("src"), col("p.id").as("dst"), col("p.score").as("score"))

  /** One micro-batch of the incremental graph build: admit never-seen
    * nodes, propose LSH candidates against the bucket-pruned node store,
    * and fold both edge directions into the per-src running top-deg with
    * a dynamic-partition-overwrite of ONLY the touched edge buckets.
    * Package-private so the spec can drive a genuine multi-batch build
    * (the driver fixture replays as a single file). */
  private[graft] def ingestGraphBatch(sp: SparkSession, batch: DataFrame,
                                      nodeDir: String, edgeDir: String,
                                      deg: Int, bits: Int): Unit = {
    import graft.operators.Similarity
    val gb = Similarity.GraphStoreBuckets.toLong
    val nodes = batch
      .select(col("vec_id"), col("embedding"),
        Similarity.signBucket(col("embedding"), bits).as("bucket"))
      .persist()
    try {
      nodes.count() // materialize eagerly: >=2 consumers below
      // the batch's bucket set — bounded by 2^bits ints of control state
      val batchBuckets = nodes.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val nodesEmpty = !storeNonEmpty(nodeDir)
      // replay membership: the seen side prunes to the batch's own
      // buckets (vec_id -> bucket is deterministic of the embedding)
      val fresh = (if (nodesEmpty) nodes
        else nodes.join(
          prunedGraphNodes(sp, nodeDir, batchBuckets)
            .select(col("vec_id").as("seen_id")),
          col("vec_id") === col("seen_id"), "left_anti")
          .select(col("vec_id"), col("embedding"), col("bucket")))
        .persist()
      try {
        if (fresh.isEmpty) return
        // probe side: radius-1 probes of the FRESH nodes only; probe
        // bucket set is again <= 2^bits control ints
        val probes = fresh
          .select(col("vec_id").as("src"), col("embedding").as("s_emb"),
            col("bucket").as("s_bucket"))
          .withColumn("probe",
            explode(Similarity.probeArray("s_bucket", bits, radius = 1)))
        val probeBuckets = probes.select(col("probe")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        val oldNodes =
          if (nodesEmpty) sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            fresh.schema)
          else prunedGraphNodes(sp, nodeDir, probeBuckets)
        // candidate relation is SYMMETRIC (bucket(v) in probes(u) <=>
        // hamming <= 1 <=> bucket(u) in probes(v)), so fresh<->fresh
        // pairs emit both directions from the probe join alone and
        // old->fresh is the swap of fresh->old — old<->old directions
        // were proposed when those nodes arrived
        val side = oldNodes.unionByName(fresh)
        val cand1 = side.join(probes,
            col("bucket") === col("probe") && col("vec_id") =!= col("src"))
          .select(col("src"), col("vec_id").as("dst"),
            graft.functions.VectorFunctions.cosine(
              col("s_emb"), col("embedding")).as("score"))
          .filter(col("score").isNotNull) // NULL-score contract: see topK
        val freshIds = fresh.select(col("vec_id").as("fid"))
        // reverse direction for OLD destinations only (fresh<->fresh
        // pairs already emitted both ways by the symmetric probe join)
        val reversed = cand1
          .join(freshIds, col("dst") === col("fid"), "left_anti")
          .select(col("dst").as("src"), col("src").as("dst"), col("score"))
        val newCands = cand1.unionByName(reversed).persist()
        try {
          newCands.count()
          val edgesEmpty = !storeNonEmpty(edgeDir)
          val withG = (df: DataFrame) => df
            .withColumn("gbucket", pmod(col("src"), lit(gb)).cast(IntegerType))
            .repartition(col("gbucket")) // one file per touched bucket
            .sortWithinPartitions(col("gbucket"), col("src"))
          if (edgesEmpty) {
            withG(topDegEdges(newCands, deg))
              .write.mode("append").partitionBy("gbucket").parquet(edgeDir)
          } else {
            // touched edge buckets: <= GraphStoreBuckets control ints
            val touchedG = newCands
              .select(pmod(col("src"), lit(gb)).cast(IntegerType).as("g"))
              .distinct().collect().map(_.getInt(0)).toSeq.sorted
            val stored = prunedGraphStoreEdges(sp, edgeDir, touchedG)
            val touchedSrcs = newCands.select(col("src").as("t_src")).distinct()
            val storedTouched = stored
              .join(touchedSrcs, col("src") === col("t_src"), "left_semi")
            val storedUntouched = stored
              .join(touchedSrcs, col("src") === col("t_src"), "left_anti")
            // rewrite ONLY the touched gbucket partitions: merged top-deg
            // for touched srcs + carried-over rows for their bucket mates
            val out = topDegEdges(storedTouched.unionByName(newCands), deg)
              .unionByName(storedUntouched)
            val prev = sp.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try withG(out).write.mode("overwrite")
              .partitionBy("gbucket").parquet(edgeDir)
            finally sp.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
          }
        } finally newCands.unpersist()
        // admit the fresh nodes AFTER the edges: a crash between the two
        // writes re-runs the batch with its nodes still fresh, so the
        // candidates are re-proposed (and deduped in topDegEdges) rather
        // than orphaned — nodes-first would instead mark the batch seen
        // and silently skip its edges forever
        fresh.repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("vec_id"))
          .write.mode("append").partitionBy("bucket").parquet(nodeDir)
      } finally fresh.unpersist()
    } finally nodes.unpersist()
  }

  /** STREAMING-MAINTAINED k-NN GRAPH INDEX — the graph-family member of
    * the persistent-store family (exact-dedup fp store / MinHash
    * signature store / image-hash store / CMS store / ANN bucket store):
    * embeddings arrive as a stream, and each micro-batch (a) admits its
    * never-seen vectors into a sign-bucket-PARTITIONED node store, (b)
    * proposes LSH candidates for the new nodes against ONLY the node
    * partitions its radius-1 probes touch, and (c) folds both edge
    * directions into a per-src running top-deg edge store partitioned by
    * src bucket, rewriting only the touched partitions
    * (dynamic-partition overwrite). The final graph is BATCH-IDENTICAL
    * to [[graft.operators.Similarity.knnGraph]] at the same pinned
    * width: the union of per-batch candidate sets is exactly the batch
    * build's symmetric hamming<=1 candidate relation, and the running
    * top-deg is a lossless summary (an evicted edge can never re-enter).
    * Oracle: knnGraphSql at the pinned bits.
    *
    * 100 TB: per-batch cost tracks the BATCH — probe-pruned node reads
    * (the arriving batch's bucket fan-out, not history), candidate
    * volume bounded by bucket occupancy, and an edge rewrite of at most
    * the touched src buckets at deg rows per src — while the graph a
    * billion-row corpus serves ([[graft.operators.Similarity
    * .graphBeamSearchFromStore]]'s walk) stays continuously fresh
    * without ever rebuilding. */
  def streamKnnGraphStoreQuery(spark: SparkSession, dir: String,
                               deg: Int = 8,
                               bits: Int = GraphStreamBits): DataFrame = {
    val (_, edgeDir) = knnGraphStreamStore(spark, dir, deg, bits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("score").desc, col("dst"))
    spark.read.parquet(edgeDir)
      .withColumn("rn", row_number().over(w).cast(IntegerType))
      .select(col("src"), col("rn"), col("dst"), col("score"))
      .orderBy(col("src"), col("rn"))
  }

  def streamKnnGraphStoreOracleSql(deg: Int = 8): String =
    graft.operators.Similarity.knnGraphSql(deg, Some(GraphStreamBits))

  /** BEAM SEARCH SERVED OFF THE STREAMING-MAINTAINED GRAPH — the full
    * loop: the index a stream built incrementally
    * ([[streamKnnGraphStoreQuery]]) answers the production walk
    * ([[graft.operators.Similarity.graphBeamSearchFromStore]]'s serve
    * shape) with no rebuild between ingest and query. Each superstep
    * collects the frontier's src-bucket set (O(nQueries·beamWidth) ints
    * of control state) and pushes it as a static partition filter on
    * the edge store; destination vectors attach by id equi-join. The
    * walk — and therefore the oracle — is graphBeamSearchSql at the
    * store's pinned width: same graph, same cosines, same tie orders. */
  def streamGraphBeamQuery(spark: SparkSession, dir: String, deg: Int = 8,
                           nQueries: Int = 10, nEntries: Int = 8,
                           beamWidth: Int = 8, steps: Int = 8,
                           k: Int = 3): DataFrame =
    BeamDescent.run(spark, streamGraphBeamDescent(spark, dir, deg, nQueries,
      nEntries, beamWidth, steps, k))

  /** [[streamGraphBeamQuery]] as a descent: spread entries, one phase
    * over the streamed edge store (no vectors at rest — the walk joins
    * them from the corpus). */
  private[graft] def streamGraphBeamDescent(spark: SparkSession, dir: String,
                                            deg: Int = 8, nQueries: Int = 10,
                                            nEntries: Int = 8, beamWidth: Int = 8,
                                            steps: Int = 8, k: Int = 3): BeamDescent.Descent = {
    val (_, edgeDir) = knnGraphStreamStore(spark, dir, deg)
    BeamDescent.Descent(embeddingsCorpus(spark, dir), nQueries,
      BeamDescent.Spread(nEntries),
      Seq(BeamDescent.Phase(BeamDescent.Store(spark.read.parquet(edgeDir)),
        beamWidth, steps)),
      k)
  }

  private def embeddingsCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.loadWide(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))

  def streamGraphBeamOracleSql(deg: Int = 8): String =
    graft.operators.Similarity.graphBeamSearchSql(
      deg = deg, bitsOpt = Some(GraphStreamBits))

  /** PAGERANK OVER THE STREAMING-MAINTAINED GRAPH: the rank iterations
    * run directly on the edge set the stream accreted
    * ([[streamKnnGraphStoreQuery]] — batch-identical at the pinned
    * width), so centrality scores refresh after ingest with NO graph
    * rebuild — the "recompute the selection signal over tonight's
    * index" shape. Unlike the beam serve this is deliberately a FULL
    * edge read: rank is a global batch computation over the whole
    * graph by definition (every round touches every edge once); what
    * the store saves is the build, not the scan. Oracle: the batch
    * [[graft.operators.Similarity.pageRankSql]] at the store's width. */
  def streamPageRankQuery(spark: SparkSession, dir: String, deg: Int = 8,
                          iters: Int = 4, k: Int = 20): DataFrame = {
    import graft.operators.Similarity
    val edges = streamKnnGraphStoreQuery(spark, dir, deg)
      .select(col("src"), col("dst"))
    Similarity.pageRankFromEdges(
      graft.Tables.loadWide(spark, dir, "embeddings"), edges, iters, k)
  }

  def streamPageRankOracleSql(deg: Int = 8): String =
    graft.operators.Similarity.pageRankSql(
      deg = deg, bitsOpt = Some(GraphStreamBits))

  /** word-hash partition bucket for the seen-words store (the Heaps
    * twin's membership state — same pruning class as the fingerprint
    * store's [[fpBucket]]). */
  private[graft] val WordStoreBuckets = 64

  private[graft] def prunedSeenWords(spark: SparkSession, storeDir: String,
                                     buckets: Seq[Int]): DataFrame =
    spark.read.parquet(storeDir).where(col("wbucket").isin(buckets: _*))
      .groupBy(col("w")).agg(min(col("bucket")).as("seen_bucket"))
      .select(col("w").as("seen_w"), col("seen_bucket"))

  /** One micro-batch's SEEN-store update, factored out for the
    * out-of-order-arrival spec: a word's row lands when it is UNSEEN or
    * when this batch observed a strictly SMALLER checkpoint bucket than
    * the stored min — first-ARRIVAL order is not a contract
    * (FileStreamSource listing order is incidental), so an out-of-order
    * batch must be able to lower a word's bucket; the serve's
    * min(bucket)-per-word merge absorbs the extra rows, which also
    * makes a crash-replayed batch (identical rows, none strictly
    * smaller) a no-op. Reads prune to the word-hash buckets the batch
    * touches (the fingerprint-store read class). */
  private[graft] def updateSeenWords(sp: SparkSession, sd: String,
                                     batch: DataFrame): Unit = {
    val firsts = batch.groupBy(col("w"))
      .agg(min(col("bucket")).as("bucket"))
      .withColumn("wbucket", graft.operators.TextAnalytics
        .termBucketCol(col("w"), WordStoreBuckets)).persist()
    try {
      val touched = firsts.select(col("wbucket")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val empty = !storeNonEmpty(sd)
      val fresh =
        if (empty) firsts
        else firsts.join(prunedSeenWords(sp, sd, touched),
            col("w") === col("seen_w"), "left")
          .filter(col("seen_bucket").isNull ||
            col("bucket") < col("seen_bucket"))
      graft.operators.Sinks.writeClustered(
        fresh.select(col("w"), col("bucket"), col("wbucket")),
        sd, "wbucket", Seq("w"))
    } finally firsts.unpersist()
  }

  /** The stores [[streamCorpusStatsQuery]] describes: (seen-words dir,
    * token-partials dir). */
  private[graft] def corpusStatsStores(
      spark: SparkSession, dir: String, nBuckets: Int = 20): (String, String) = {
    import graft.functions.TextFunctions.words
    val h = graft.StoreCatalog.getOrBuild(spark, "stream_corpus_stats",
      Seq(s"$dir/documents.parquet"),
      Seq("nBuckets" -> nBuckets.toString,
        "wbuckets" -> WordStoreBuckets.toString),
      Seq("seen", "toks")) { parts =>
      createParts(parts)
      val mx = graft.Tables.load(spark, dir, "documents")
        .agg(max(col("doc_id"))).head().getLong(0)
      val width = mx / nBuckets + 1
      val in = docsStream(spark, dir)
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .select(expr(s"cast(doc_id div $width as int)").as("bucket"),
          col("w"))
      runStream(in, Some(4)) {
        _.foreachBatch { (batch: DataFrame, epochId: Long) =>
          batch.groupBy(col("bucket")).agg(count(lit(1)).as("toks"))
            .withColumn("batch_id", lit(epochId))
            .coalesce(1).write.mode("append").parquet(parts("toks"))
          updateSeenWords(batch.sparkSession, parts("seen"), batch)
        }
      }
      Map.empty
    }
    (h.parts("seen"), h.parts("toks"))
  }

  /** STREAMING VOCABULARY-GROWTH TRACKING — the online form of
    * [[graft.operators.TextAnalytics.corpusStats]]: is the crawl still
    * surfacing new vocabulary, answered WHILE it ingests. Each
    * micro-batch appends (a) per-checkpoint-bucket token partials keyed
    * by epoch — a crash-replayed epoch re-writes identical partials and
    * the serve's per-(epoch, bucket) max-merge absorbs them — and (b)
    * its vocabulary rows into a word-hash-partitioned SEEN store
    * (pruned to the buckets the batch touches, the fingerprint-store
    * read class): a word's row lands when it is unseen OR when the
    * batch observed a strictly smaller checkpoint bucket than the
    * stored min — so a word is charged to its min-DOC_ID bucket in ANY
    * arrival order, not its first-arrival bucket (file listing order is
    * incidental, never a contract); re-appended duplicates collapse
    * under the serve's min(bucket)-per-word merge. The checkpoint width
    * is deploy-time
    * config (derived here from the static table, the train-offline
    * posture — a stream cannot know its final id range). Serve merges
    * both stores into the batch op's exact cumulative curve; oracle:
    * corpusStatsSql. */
  def streamCorpusStatsQuery(spark: SparkSession, dir: String,
                             nBuckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (seenDir, tokDir) = corpusStatsStores(spark, dir, nBuckets)
    val toks = spark.read.parquet(tokDir)
      .groupBy(col("batch_id"), col("bucket")).agg(max(col("toks")).as("toks"))
      .groupBy(col("bucket")).agg(sum(col("toks")).as("toks"))
    val types = spark.read.parquet(seenDir)
      .groupBy(col("w")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(types, Seq("bucket"), "full")
      .select(col("bucket"),
        sum(coalesce(col("toks"), lit(0L))).over(w).as("cum_tokens"),
        sum(coalesce(col("types"), lit(0L))).over(w).as("cum_types"))
      .orderBy(col("bucket"))
  }

  /** STREAMING WEIGHTED SAMPLE — priority sampling is ONE-PASS by
    * construction (Duffield-Lund-Thorup: the sample is the n smallest
    * u/w priorities, and a running min-n is a streaming aggregate), so
    * the batch draw ([[graft.operators.TextAnalytics.weightedSample]])
    * has an exact online form: each micro-batch computes its documents'
    * deterministic priorities, unions the stored candidate set, and
    * keeps the n smallest — the store never holds more than n rows, the
    * bounded-reservoir posture. Replays are no-ops twice over: a
    * re-arriving document carries the SAME priority (hash-derived, no
    * RNG state), and the keep-min-n merge deduplicates by doc_id before
    * ranking. Oracle: the batch weightedSampleSql — the stream must land
    * on the identical sample. */
  /** One reservoir step: union the arriving priced rows with the held
    * candidate set, dedupe by doc_id (replay absorption — duplicates
    * carry identical deterministic values, so min is identity), keep
    * the n smallest (priority, doc_id). Monotone: an item discarded
    * once can never re-enter (the nth-smallest bound only tightens), so
    * folding batches through this step lands on the exact batch top-n
    * in any arrival order — the spec exercises a multi-batch fold. */
  private[graft] def mergeTopPriorities(batch: DataFrame, prev: DataFrame,
                                        n: Int): DataFrame =
    batch.select(col("doc_id"), col("n_chars"), col("priority"))
      .unionByName(prev)
      .groupBy(col("doc_id"))
      .agg(min(col("n_chars")).as("n_chars"), min(col("priority")).as("priority"))
      .orderBy(col("priority"), col("doc_id")).limit(n)

  /** The batch weightedSample's deterministic priority. */
  private def priorityCol: Column = {
    val p = graft.operators.Dedup.P
    expr(s"((((2654435761 * (doc_id % $p)) % $p + 40503) % $p) * 100000)" +
      " div (n_chars + 1)").as("priority")
  }

  /** Fold priced rows into the reservoir file `top`. It is O(n) rows BY
    * CONTRACT, so collecting it is bounded control state — and the
    * driver hop breaks the same-file read-then-overwrite cycle. */
  private def foldReservoir(priced: DataFrame, top: String, n: Int): Unit = {
    val sp = priced.sparkSession
    import sp.implicits._
    val prev =
      if (new java.io.File(top).exists()) sp.read.parquet(top) else priced.limit(0)
    mergeTopPriorities(priced, prev, n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .toDF("doc_id", "n_chars", "priority")
      .coalesce(1).write.mode("overwrite").parquet(top)
  }

  /** The served reservoir, ranked by (priority, doc_id). */
  private def rankedReservoir(spark: SparkSession, top: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("priority"), col("doc_id"))
    spark.read.parquet(top)
      .withColumn("rn", row_number().over(w).cast(IntegerType))
      .select(col("rn"), col("doc_id"), col("n_chars"), col("priority"))
      .orderBy(col("rn"))
  }

  def streamWeightedSampleQuery(spark: SparkSession, dir: String,
                                n: Int = 50): DataFrame = {
    val store = graft.StoreCatalog.getOrBuild(spark, "stream_weighted_sample",
      Seq(s"$dir/documents.parquet"), Seq("n" -> n.toString),
      Seq("store")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("n_chars"), priorityCol)
      runStream(in, Some(4)) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          foldReservoir(batch, s"${parts("store")}/top.parquet", n)
        }
      }
      Map.empty
    }.parts("store")
    rankedReservoir(spark, s"$store/top.parquet")
  }

  /** STREAMED END-TO-END CORPUS CURATION — the batch capstone
    * ([[graft.operators.TextAnalytics.corpusCuration]]) run ONLINE, the
    * posture the reference's continuous-ingest pipeline implies
    * (/root/reference/src/app.py:46-78): documents arrive as a stream
    * and the curated training subset is maintained incrementally, one
    * pass per micro-batch, querying-ready between batches.
    *
    * Per arriving batch, each stage keeps its verified streaming form:
    *   1. exact dedup — within-batch min-doc_id-per-content-hash, then
    *      an anti-join against the persistent fingerprint store
    *      (bucket-pruned + fp-pushdown, the
    *      [[streamExactDedupStoreQuery]] shape; same arrival-in-doc-
    *      order keeper contract);
    *   2. quality scoring — per-doc, no corpus-global state, so the
    *      arriving batch runs the exact batch plan
    *      ([[graft.operators.TextAnalytics.qualityFilterFrom]]);
    *   3. benchmark decontamination — the STATIC bench span set
    *      broadcast into every batch (train-offline posture of
    *      [[streamDecontaminateQuery]]; the benchmark suite is fixed,
    *      the corpus is what streams);
    *   4. weighted selection — deterministic priorities folded into the
    *      bounded keep-n-smallest reservoir ([[mergeTopPriorities]]:
    *      priority sampling is a monotone streaming aggregate, so the
    *      fold lands on the exact batch draw in any batch split).
    *
    * Crash-safety ordering: the DERIVED store (the reservoir) is
    * written first, fp membership LAST — a crash between them
    * re-proposes the batch's work on replay instead of orphaning it,
    * and replays are no-ops because every value is a deterministic
    * function of the document and the merge dedupes by doc_id.
    *
    * 100 TB: per-batch cost is the batch's own text passes plus a
    * bucket-pruned membership anti-join — nothing rescans history; the
    * reservoir is O(n) rows by contract; the bench spans are the only
    * broadcast (bounded by the benchmark suite, not the corpus).
    * Oracle: the batch corpusCurationSql — end-of-stream state must
    * equal the one-shot batch curation exactly. */
  def streamCorpusCurationQuery(spark: SparkSession, dir: String,
                                n: Int = 100, benchBelow: Long = 10,
                                w: Int = 4): DataFrame = {
    import graft.operators.{Dedup, TextAnalytics}
    val root = graft.StoreCatalog.getOrBuild(spark, "stream_curation",
      Seq(s"$dir/documents.parquet"),
      Seq("n" -> n.toString, "benchBelow" -> benchBelow.toString,
        "w" -> w.toString, "buckets" -> DedupStoreBuckets.toString),
      Seq("store")) { parts =>
      createParts(parts)
      val sd = parts("store")
      val fpDir = s"$sd/fps"
      val bench = benchSpans(spark, dir, w, benchBelow).localCheckpoint(true)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("text"), col("n_chars"),
          Dedup.chash(col("text")).as("fp"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          val minIds = batch.groupBy(col("fp"))
            .agg(min(col("doc_id")).as("doc_id"))
          val keepers = batch.join(minIds, Seq("fp", "doc_id"))
            .withColumn("bucket", fpBucket(col("fp")))
            .persist()
          try {
            // materialized once: quality, spans, survivors, and the
            // membership append all read the fresh set
            val fresh = unseenFps(keepers, fpDir).localCheckpoint(true)
            val qkeep = TextAnalytics.qualityFilterFrom(
                fresh.select(col("doc_id"), col("text")))
              .filter(col("keep")).select(col("doc_id"))
            val contaminated = Dedup.spanTable(
                fresh.select(col("doc_id"), col("text")), w)
              .join(broadcast(bench), col("span") === col("b_span"))
              .select(col("doc_id")).distinct()
            val survivors = fresh.join(qkeep, Seq("doc_id"))
              .filter(col("doc_id") >= benchBelow)
              .join(contaminated, Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("n_chars"), priorityCol)
            foldReservoir(survivors, s"$sd/top.parquet", n)
            appendSeenFps(fresh, fpDir) // membership LAST
          } finally keepers.unpersist()
        }
      }
      Map.empty
    }.parts("store")
    rankedReservoir(spark, s"$root/top.parquet")
  }

  /** The store [[streamBm25StoreQuery]] describes: (postings, lengths),
    * appended per micro-batch by the batch build's kernel. */
  private[graft] def bm25StreamStore(spark: SparkSession,
                                     dir: String): (String, String) = {
    import graft.operators.TextAnalytics
    import graft.functions.TextFunctions.words
    val h = graft.StoreCatalog.getOrBuild(spark, "stream_bm25_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> TextAnalytics.PostingsBuckets.toString),
      Seq("posts", "docs")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .filter(col("word") =!= "")
      runStream(in, Some(4)) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          TextAnalytics.appendBm25(batch, parts("posts"), parts("docs"))
        }
      }
      Map.empty
    }
    (h.parts("posts"), h.parts("docs"))
  }

  /** BM25 SERVED OFF A STREAM-ACCRETED POSTINGS STORE: each arriving
    * micro-batch appends its documents' (word, doc_id, tf) rows into
    * the term-bucket partitions and its (doc_id, dl) lengths beside
    * them — the continuously-indexed text search shape (a crawler
    * ingests, the index is queryable between batches, no rebuild).
    * A document lives wholly in one batch, so per-batch counts ARE its
    * global counts; a crash-replayed batch re-appends identical rows,
    * and the serve's max() merge makes that a no-op (tf and dl are
    * deterministic functions of the document — any duplicate carries
    * the same value). Serving prunes to the query terms' bucket
    * partitions exactly like the batch store and scores through the
    * same [[graft.operators.TextAnalytics.bm25TopK]] tree. Oracle: the
    * batch bm25SearchSql. */
  def streamBm25StoreQuery(spark: SparkSession, dir: String,
                           terms: Seq[String] = Seq("vector", "scan", "merge"),
                           k: Int = 20): DataFrame = {
    import graft.operators.TextAnalytics
    val (pd, dd) = bm25StreamStore(spark, dir)
    val posts = TextAnalytics.prunedPostings(spark, pd, terms)
      .groupBy(col("tbucket"), col("word"), col("doc_id"))
      .agg(max(col("tf")).as("tf"))
    val docs = spark.read.parquet(dd)
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    TextAnalytics.serveBm25(spark, dir, posts, docs, terms, k)
  }

  /** The positional postings store [[streamPhraseStoreQuery]] describes,
    * appended per micro-batch by the batch build's kernel. */
  private[graft] def phraseStreamStore(spark: SparkSession, dir: String): String = {
    import graft.operators.TextAnalytics
    graft.StoreCatalog.getOrBuild(spark, "stream_phrase_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("buckets" -> TextAnalytics.PostingsBuckets.toString),
      Seq("posts")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("text"))
      runStream(in, Some(4)) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          TextAnalytics.appendPhrasePostings(batch, parts("posts"))
        }
      }
      Map.empty
    }.parts("posts")
  }

  /** PHRASE SEARCH SERVED OFF A STREAM-ACCRETED POSITIONAL POSTINGS
    * STORE: each arriving micro-batch appends its documents'
    * (word, doc_id, pos) rows into the term-hash bucket partitions —
    * the continuously-indexed phrase-query shape (BM25's streamed
    * sibling, with positions kept so order-aware matches stay exact).
    * A document lives wholly in one batch, so its positional rows are
    * final on arrival; a crash-replayed batch re-appends IDENTICAL
    * rows, and the serve's distinct over (word, doc_id, pos) absorbs
    * them (a position triple is a set element, not a count — dedup IS
    * the exact merge). Serving prunes to the phrase terms' bucket
    * partitions and ranks through the same [[graft.operators
    * .TextAnalytics.phraseRank]] tail as the batch store. Oracle: the
    * batch phraseSearchSql. */
  def streamPhraseStoreQuery(spark: SparkSession, dir: String,
                             phrase: Seq[String] = Seq("vector", "small"),
                             k: Int = 20): DataFrame =
    streamPhraseServe(spark, dir, phrase, k, slop = 0)

  /** PROXIMITY phrase search off the SAME stream-accreted positional
    * store — slop is a query-time band on the position joins
    * ([[graft.operators.TextAnalytics.phraseRank]]), so one online
    * index serves exact and proximate queries alike. Oracle: the batch
    * phraseSearchSql at the same slop. */
  def streamPhraseSlopQuery(spark: SparkSession, dir: String,
                            phrase: Seq[String] = Seq("vector", "small"),
                            slop: Int = 2, k: Int = 20): DataFrame =
    streamPhraseServe(spark, dir, phrase, k, slop)

  private def streamPhraseServe(spark: SparkSession, dir: String,
                                phrase: Seq[String], k: Int,
                                slop: Int): DataFrame = {
    import graft.operators.TextAnalytics
    val pruned = TextAnalytics.prunedPostings(spark,
        phraseStreamStore(spark, dir), phrase.distinct)
      .select(col("word"), col("doc_id"), col("pos")).distinct()
    TextAnalytics.phraseRank(pruned, phrase, k, slop)
  }

  /** The trigram index [[streamSubstrStoreQuery]] describes:
    * (postings, stored fields), appended per micro-batch by the batch
    * build's kernel. */
  private[graft] def trigramStreamStore(spark: SparkSession,
                                        dir: String): (String, String) = {
    import graft.operators.TextSearch
    val h = graft.StoreCatalog.getOrBuild(spark, "stream_trigram_postings",
      Seq(s"$dir/documents.parquet"),
      Seq("tgbuckets" -> TextSearch.TrigramBuckets.toString,
        "dbuckets" -> TextSearch.DocBuckets.toString),
      Seq("posts", "docs")) { parts =>
      createParts(parts)
      val in = docsStream(spark, dir)
        .select(col("doc_id"), col("text"))
      runStream(in, Some(4)) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          TextSearch.appendTrigrams(batch, parts("posts"), parts("docs"))
        }
      }
      Map.empty
    }
    (h.parts("posts"), h.parts("docs"))
  }

  /** SUBSTRING SEARCH SERVED OFF A STREAM-ACCRETED TRIGRAM INDEX: each
    * arriving micro-batch appends its documents' distinct (tg, doc_id)
    * rows into trigram-hash bucket partitions and the documents
    * themselves into doc-bucket stored-fields partitions — the
    * continuously-indexed form of [[graft.operators.TextSearch
    * .substrSearchFromStore]] (a grep-index that is never rebuilt, only
    * appended). A document's trigram set is final on arrival (one doc,
    * one batch); a crash-replayed batch re-appends IDENTICAL rows and
    * the serve's distinct absorbs them — the phrase store's replay
    * posture. The serve prunes exactly like the batch store: query
    * trigrams' bucket partitions for candidates, candidates' doc
    * buckets for verification (one bounded driver collect, ≤ DocBuckets
    * ints). Oracle: the batch substrSearchSql. */
  def streamSubstrStoreQuery(spark: SparkSession, dir: String,
                             pat: String = "le par", k: Int = 20): DataFrame = {
    import graft.operators.TextSearch
    val grams = TextSearch.queryTrigrams(pat)
    require(grams.nonEmpty, "substring query needs >= 3 chars")
    val (pd, dd) = trigramStreamStore(spark, dir)
    val cands = TextSearch.candidateDocs(
      TextSearch.prunedTrigramPostings(spark, pd, grams).distinct(), grams)
      .localCheckpoint(true)
    TextSearch.verifyRank(
      TextSearch.prunedDocText(spark, dd, cands).distinct(), cands,
      col("text").contains(pat), TextSearch.substrHits(pat), k)
  }

  /** Streaming HNSW hierarchy: the pinned level cap and per-layer
    * sign-LSH widths (a stream cannot count its corpus or layer
    * populations up front — the [[GraphStreamBits]] deploy-time-config
    * contract; layer populations shrink 16× per level, so the upper
    * layers take the minimum width). */
  private[graft] val HnswStreamMaxLevel = 2
  private[graft] def hnswStreamBits(l: Int): Int =
    if (l == 0) GraphStreamBits else 4

  /** The streaming hierarchy built through [[ingestHnswBatch]]:
    * per-level (node store dir, edge store dir), level 0 = base. */
  private[graft] def hnswStreamStores(
      spark: SparkSession, dir: String, deg: Int = 8): IndexedSeq[(String, String)] = {
    val levels = 0 to HnswStreamMaxLevel
    val h = graft.StoreCatalog.getOrBuild(spark, "stream_hnsw_hierarchy",
      Seq(s"$dir/embeddings.parquet"),
      Seq("deg" -> deg.toString,
        "maxLevel" -> HnswStreamMaxLevel.toString,
        "bits" -> levels.map(hnswStreamBits).mkString(","),
        "buckets" -> graft.operators.Similarity.GraphStoreBuckets.toString),
      levels.flatMap(l => Seq(s"nodes_$l", s"edges_$l"))) { parts =>
      createParts(parts)
      val sts = levels.map(l => (parts(s"nodes_$l"), parts(s"edges_$l")))
      val in = embeddingsStream(spark, dir)
        .select(col("vec_id"), col("embedding"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          ingestHnswBatch(batch.sparkSession, batch, sts, deg)
        }
      }
      Map.empty
    }
    levels.map(l => (h.parts(s"nodes_$l"), h.parts(s"edges_$l")))
  }

  /** One micro-batch of the incremental HIERARCHY build: levels are a
    * pure hash of the id ([[graft.operators.Similarity.hnswLevelCol]]),
    * so each arriving vector's layer memberships are known statelessly
    * and the batch folds into every layer it belongs to through the
    * SAME [[ingestGraphBatch]] the flat store uses — per layer: admit
    * fresh nodes into the layer's bucket-partitioned node store,
    * propose probe-pruned candidates, merge the per-src running
    * top-deg into the layer's edge store (touched-partition rewrite).
    * Each layer store is therefore batch-identical to that layer's
    * batch k-NN graph at the pinned width, by the flat store's own
    * argument applied per layer; crash replays are absorbed the same
    * way (nodes written last, re-proposals deduped in the merge). */
  private[graft] def ingestHnswBatch(sp: SparkSession, batch: DataFrame,
                                     stores: IndexedSeq[(String, String)],
                                     deg: Int): Unit = {
    import graft.operators.Similarity
    for (l <- 0 to HnswStreamMaxLevel) {
      val sub =
        if (l == 0) batch
        else batch.filter(Similarity.hnswLevelCol(col("vec_id")) >= l)
      ingestGraphBatch(sp, sub, stores(l)._1, stores(l)._2, deg,
        hnswStreamBits(l))
    }
  }

  /** HNSW SEARCH SERVED OFF THE STREAMING-MAINTAINED HIERARCHY — the
    * full production loop for the graph family's hierarchical form: an
    * embedding stream maintains one (node store, edge store) pair PER
    * LAYER ([[ingestHnswBatch]]), and a query descends the streamed
    * hierarchy exactly like [[graft.operators.Similarity
    * .hnswSearchFromStore]] descends the batch-built one — entries
    * from the top populated layer's node store, width-1 routing per
    * upper layer, base-layer beam, every superstep's edge read pruned
    * to the frontier's src buckets. Driver control state per step is
    * the frontier bucket set plus one int (the top populated level, a
    * driver-side directory check). The walk — and therefore the
    * oracle — is hnswSearchSql at the pinned per-layer widths: the
    * streamed layer graphs are batch-identical, the cosines and tie
    * orders the same. Unpopulated layers are no-ops on both engines
    * (empty graph = empty expansion), the batch oracle's own
    * convention. */
  def streamHnswSearchQuery(spark: SparkSession, dir: String, deg: Int = 8,
                            nQueries: Int = 10, stepsUpper: Int = 4,
                            beamWidth: Int = 8, steps: Int = 8,
                            k: Int = 3): DataFrame =
    BeamDescent.run(spark, streamHnswDescent(spark, dir, deg, nQueries,
      stepsUpper, beamWidth, steps, k))

  /** [[streamHnswSearchQuery]] as a descent: entered at the top
    * populated layer's node store (a directory existence check per
    * level — O(levels) driver work against store METADATA, no data
    * read), one phase per layer's edge store; a layer no batch wrote
    * is a no-op phase. */
  private[graft] def streamHnswDescent(spark: SparkSession, dir: String,
                                       deg: Int = 8, nQueries: Int = 10,
                                       stepsUpper: Int = 4, beamWidth: Int = 8,
                                       steps: Int = 8, k: Int = 3): BeamDescent.Descent = {
    val stores = hnswStreamStores(spark, dir, deg)
    val maxl = (HnswStreamMaxLevel to 0 by -1)
      .find(l => storeNonEmpty(stores(l)._1)).getOrElse(0)
    def layer(l: Int): BeamDescent.Edges =
      if (storeNonEmpty(stores(l)._2))
        BeamDescent.Store(spark.read.parquet(stores(l)._2))
      else BeamDescent.NoEdges
    graft.operators.Similarity.hnswPhases(embeddingsCorpus(spark, dir), nQueries,
      spark.read.parquet(stores(maxl)._1).select(col("vec_id"), col("embedding")),
      maxl, layer, stepsUpper, beamWidth, steps, k)
  }

  def streamHnswSearchOracleSql(deg: Int = 8): String =
    graft.operators.Similarity.hnswSearchSql(
      deg = deg, layerBits = Some(hnswStreamBits))

  /** The cell store [[streamIvfTopKQuery]] describes, appended per
    * micro-batch by the batch build's kernel. */
  private[graft] def ivfStreamStore(spark: SparkSession, dir: String,
                                    nCells: Int,
                                    codebook: Array[(Long, Array[Float])]): String =
    graft.StoreCatalog.getOrBuild(spark, "stream_ivf_cells",
      Seq(s"$dir/embeddings.parquet"), Seq("nCells" -> nCells.toString),
      Seq("store")) { parts =>
      createParts(parts)
      val in = embeddingsStream(spark, dir)
        .select(col("vec_id"), col("embedding"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Similarity.appendIvfCells(batch, parts("store"), codebook)
        }
      }
      Map.empty
    }.parts("store")

  /** IVF TOP-K SERVED OFF THE STREAMING-MAINTAINED CELL STORE — the
    * cells-family member of the streamed-index family (LSH buckets /
    * k-NN graph / HNSW hierarchy): embeddings arrive as a stream and
    * accumulate into a cell-partitioned vector store
    * ([[graft.operators.Similarity.appendIvfCells]]); serving pushes the query set's probe-cell
    * union (O(nQueries·nProbe) ints of driver control state) as a
    * static partition filter and scans nProbe-many cells, never the
    * corpus. The store equals the batch assignment set, so results —
    * and the oracle — are ivfTopK's own. */
  def streamIvfTopKQuery(spark: SparkSession, dir: String, k: Int = 3,
                         nQueries: Int = 10, nCells: Int = 8,
                         nProbe: Int = 2): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.Tables.loadWide(spark, dir, "embeddings")
    val codebook = Similarity.seedCodebook(emb, nCells)
    if (codebook.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    Similarity.serveIvfFromStore(spark, emb,
      ivfStreamStore(spark, dir, nCells, codebook), codebook,
      k, nQueries, nProbe)
  }

  def streamIvfTopKOracleSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                             nProbe: Int = 2): String =
    graft.operators.Similarity.ivfTopKSql(k, nQueries, nCells, nProbe)

  /** The code store [[streamPqTopKQuery]] describes, appended per
    * micro-batch by the batch build's kernel. */
  private[graft] def pqStreamStore(spark: SparkSession, dir: String,
                                   nCells: Int, m: Int, dim: Int,
                                   codebook: Array[(Long, Array[Float])]): String =
    graft.StoreCatalog.getOrBuild(spark, "stream_pq_codes",
      Seq(s"$dir/embeddings.parquet"),
      Seq("nCells" -> nCells.toString, "m" -> m.toString, "dim" -> dim.toString),
      Seq("store")) { parts =>
      createParts(parts)
      val in = embeddingsStream(spark, dir)
        .select(col("vec_id"), col("embedding"))
      runStream(in) {
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Similarity.appendPqCodes(batch, parts("store"),
            codebook, m, dim)
        }
      }
      Map.empty
    }.parts("store")

  /** PQ + EXACT RERANK SERVED OFF THE STREAMING-MAINTAINED CODE STORE —
    * the codes-family member of the streamed-index family (LSH buckets
    * / graph / hierarchy / IVF cells): embeddings arrive as a stream
    * and accumulate, ENCODED, into the codes-only store
    * ([[graft.operators.Similarity.appendPqCodes]]); serving broadcasts per-query LUTs against the
    * stored codes, shortlists by asymmetric distance, and reranks
    * exactly. The store equals the batch encode set, so results — and
    * the oracle — are pqRerankTopK's own. */
  def streamPqTopKQuery(spark: SparkSession, dir: String, k: Int = 3,
                        nQueries: Int = 10, nCells: Int = 8, m: Int = 4,
                        dim: Int = 64, budget: Int = 32): DataFrame = {
    import graft.operators.Similarity
    val emb = graft.Tables.loadWide(spark, dir, "embeddings")
    val codebook = Similarity.seedCodebook(emb, nCells)
    if (codebook.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("qid", "rn", "vec_id", "score")
    }
    Similarity.servePqFromStore(spark, dir, emb,
      pqStreamStore(spark, dir, nCells, m, dim, codebook),
      Similarity.pqSliceFn(codebook, m, dim), m, dim / m, k, nQueries, budget)
  }

  def streamPqTopKOracleSql(k: Int = 3, nQueries: Int = 10, nCells: Int = 8,
                            m: Int = 4, dim: Int = 64,
                            budget: Int = 32): String =
    graft.operators.Similarity.pqRerankTopKSql(k, nQueries, nCells, m, dim, budget)

  /** The n-way Agarwal-et-al. merge of stored Misra-Gries partials,
    * as relational ops: dedupe replays on (group, batch), sum matching
    * counters across all partials, then restore the cap bound ONCE by
    * subtracting the (cap+1)-th largest merged count per group and
    * dropping non-positive counters. Summing all partials before a
    * single subtraction IS the n-way merge (associativity of the
    * counter sums; one restore preserves the mergeable-summaries error
    * bound exactly like a binary merge tree). In the exactness regime
    * (merged distinct items <= cap) the subtrahend row does not exist
    * and the merged counters equal the GROUP BY truth.
    *
    * Replay dedupe picks min-by-JSON, not first(): past the exact
    * regime a crash-replayed batch can legally produce a DIFFERENT
    * valid MG partial (per-batch output depends on Spark's
    * partial-aggregation merge order), and first() would make the
    * served counters depend on parquet file listing order. min_by a
    * canonical encoding keeps every serve deterministic for a given
    * set of stored files — the error bound holds for any valid
    * partial, so any deterministic pick is correct. */
  private[graft] def mergedTopFreq(parts: DataFrame, cap: Int): DataFrame = {
    val one = parts.groupBy(col("lang_pred"), col("batch_id"))
      .agg(min_by(col("tf"), to_json(col("tf"))).as("tf"))
    val summed = one
      .select(col("lang_pred"), explode(col("tf")).as("p"))
      .groupBy(col("lang_pred"), col("p.item").as("item"))
      .agg(sum(col("p.cnt")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang_pred")).orderBy(col("cnt").desc, col("item"))
    val kth = summed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === cap + 1)
      .select(col("lang_pred").as("l2"), col("cnt").as("sub"))
    summed.join(kth, col("lang_pred") === col("l2"), "left")
      .select(col("lang_pred"), col("item"),
        (col("cnt") - coalesce(col("sub"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** PERSISTENT STREAMING HEAVY-HITTER STORE — the Misra-Gries member
    * of the mergeable-sketch store family (KMV distinct / CMS counts /
    * MG heavy hitters): each micro-batch folds its documents into
    * per-language MG summaries through the very aggregate the batch
    * query uses ([[graft.plans.TopFreq]], map-side-combined) and
    * APPENDS the (lang, batch_id, counters) partial — a bounded sketch
    * per batch, never a row per token. Serving merges the partials
    * n-way ([[mergedTopFreq]]) and ranks; replayed epochs dedupe on
    * (lang, batch). While merged distinct tokens stay <= cap the
    * summed counters are EXACT (the regime the oracle checks — the
    * fixture vocabulary is far under cap), and past it the
    * subtract-(cap+1)-th restore keeps the proven under-estimate bound
    * under any batching. Oracle: the SAME SQL as batch
    * `lang_top_words`. */
  def streamTopFreqStoreQuery(spark: SparkSession, dir: String, k: Int = 5,
                              cap: Int = 256): DataFrame = {
    import graft.functions.TextFunctions.{langId, words}
    val store = graft.StoreCatalog.getOrBuild(spark, "stream_top_freq",
      Seq(s"$dir/documents.parquet"), Seq("cap" -> cap.toString),
      Seq("store")) { parts =>
      createParts(parts)
      runStream(docsStream(spark, dir)) {
        _.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], epochId: Long) =>
          batch
            .select(langId(col("text")).as("lang_pred"),
              explode(words(col("text"))).as("word"))
            .filter(col("word") =!= "")
            .groupBy(col("lang_pred"))
            .agg(graft.functions.NativeFunctions.topFreq(col("word"), cap).as("tf"))
            .withColumn("batch_id", lit(epochId))
            .coalesce(1) // a handful of counter rows per batch
            .write.mode("append").parquet(parts("store"))
        }
      }
      Map.empty
    }.parts("store")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang_pred")).orderBy(col("cnt").desc, col("item"))
    mergedTopFreq(spark.read.parquet(store), cap)
      .withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= k)
      .select(col("lang_pred"), col("rnk"), col("item").as("word"), col("cnt"))
      .orderBy(col("lang_pred"), col("rnk"))
  }
}
