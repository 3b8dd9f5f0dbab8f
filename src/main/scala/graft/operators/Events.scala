package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Tables

/** Event-time analytics over the `events` fixture (SURVEY §2.13 — the
  * categories the reference lacks but a continuous-ingest engine needs;
  * the streaming versions of the window ops live in graft.streaming and
  * share these semantics).
  *
  * Determinism: money-ish double sums use the exact-integer-cents trick
  * (events.value is 2-decimal by construction); everything else is
  * counts/min/max/int sums — order-independent under parallel agg.
  *
  * Scale posture: every op shuffles at most once on its natural key
  * (window bucket, user_id); the as-of join is the union-window form —
  * never a per-row lookup or a nested-loop join; the range join is
  * bucketized to stay equi-join shaped.
  */
object Events {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast(LongType)
  private val Wide = DecimalType(38, 0)
  private def dsum(c: org.apache.spark.sql.Column) =
    (sum(cents(c).cast(Wide)).cast(DoubleType) / 100.0)

  /** Tumbling 1-hour windows per event type: count + exact value sum. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWide(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("wstart"), col("event_type"))
  def tumblingSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
       FROM events GROUP BY 1, 2"""

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2). */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWide(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("wstart"), col("n_events"))
      .orderBy(col("wstart"))
  def slidingSql: String =
    """SELECT wstart, count(*) AS n_events FROM (
         SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS wstart
         FROM events) GROUP BY 1"""

  /** Sessionization: per-user sessions split at 30-minute inactivity
    * gaps; one row per session with its start and event count.
    *
    * Batch shape: lag + running-sum session numbering over ONE window
    * partitioned by user_id, then a groupBy(user_id, session_id) that
    * REUSES the window's hash partitioning (user_id is a subset of the
    * grouping keys, so Catalyst inserts no second shuffle) — one shuffle
    * total. The native session_window form pays two shuffles plus the
    * state-store merge machinery; it earns that cost only under
    * continuous arrival, so it lives in the streaming path
    * (graft.streaming.StreamOps.sessionCounts), which shares these
    * semantics. Boundary contract (matching session_window's
    * END-EXCLUSIVE ranges): an event arriving exactly 30 minutes after
    * the previous one starts a NEW session — split on gap >= 30min. */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    // microsecond arithmetic: a seconds cast would truncate sub-second
    // timestamps and disagree with the oracle's exact INTERVAL compare
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser))
    Tables.loadWide(spark, dir, "events")
      .select(col("user_id"), col("ts"))
      .withColumn("new_session",
        when(gap.isNull || gap >= 30L * 60L * 1000000L, lit(1)).otherwise(lit(0)))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }
  def sessionsSql: String =
    """WITH marked AS (
         SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
                THEN 1 ELSE 0 END AS new_session
         FROM events),
       numbered AS (
         SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM marked)
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events
       FROM numbered GROUP BY user_id, session_id"""

  /** As-of join: for every purchase, the user's most recent click at or
    * before it. Implemented as union + one window pass over (user_id, ts)
    * — the scalable form: one shuffle on user_id, no per-row lookups, no
    * range explosion. The oracle uses DuckDB's native ASOF JOIN. */
  def asofClickBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadWide(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // same-timestamp ties: clicks sort BEFORE purchases so a click at
    // exactly the purchase's ts is visible to it — matching ASOF's
    // inclusive `p.ts >= c.ts` semantics
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"),
        when(col("event_type") === "click", lit(0)).otherwise(lit(1)),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_click_id"), col("last_click_ts"))
      .orderBy(col("event_id"))
  }
  def asofClickBeforePurchaseSql: String =
    """SELECT p.event_id, p.user_id, p.ts,
       c.event_id AS last_click_id, c.ts AS last_click_ts
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND p.ts >= c.ts"""

  /** Range join: clicks by the same user within the hour before each
    * purchase. Bucketized to hour buckets so it stays an equi-join on
    * (user_id, bucket) — each purchase probes its own and the previous
    * bucket; the residual range predicate filters after the hash join.
    * At 100 TB this is the difference between a hash join and a
    * broadcast-nested-loop. */
  def clicksBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadWide(spark, dir, "events")
    val hourB = (c: org.apache.spark.sql.Column) => floor(unix_timestamp(c) / 3600L)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withColumn("bucket", explode(array(hourB(col("p_ts")), hourB(col("p_ts")) - 1)))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withColumn("c_bucket", hourB(col("c_ts")))
    purchases.join(clicks,
        col("user_id") === col("c_user") && col("bucket") === col("c_bucket") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_clicks_1h"))
      .orderBy(col("p_id"))
  }
  def clicksBeforePurchaseSql: String =
    """SELECT p.event_id AS p_id, count(*) AS n_clicks_1h
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts < p.ts
       GROUP BY 1"""

  /** JSON property extraction (the reference's jsonb analogue, SURVEY
    * §1.2): pull props.k as an int and aggregate per event type. */
  def propsExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.loadWide(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  def propsExtractSql: String =
    """SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
       FROM events GROUP BY 1"""

  /** VariantType adoption (SURVEY §1.2 maps the reference's jsonb to
    * Spark 4 `VariantType`): the dynamic-JSON column is `parse_json`ed
    * ONCE per row into a variant, then every field access is a
    * `variant_get` shredded read of the binary encoding — unlike
    * [[propsExtract]]'s `get_json_object`, which re-parses the JSON
    * text per extracted field. The fixture's one-key props is enriched
    * into a nested object in-plan so the query exercises multi-field /
    * nested-path access. Measured at sf0.1 (min of 3 noop-sink runs):
    * parity at 3 fields of a tiny object (plan floor dominates), ~1.2×
    * (0.19-0.22 s vs 0.22-0.25 s) over per-field text re-parse at 8
    * fields of a 21-field object, growing with field count and object
    * size. Output is plain longs, so the DuckDB twin needs no variant
    * support. */
  def propsExtractVariant(spark: SparkSession, dir: String): DataFrame = {
    val j = concat(lit("""{"p": """), col("props"),
      lit(""", "u": """), col("user_id").cast("string"),
      lit(", \"t\": \""), col("event_type"), lit("\"}"))
    val v = parse_json(j)
    Tables.loadWide(spark, dir, "events")
      .select(col("event_type"), v.as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.p.k", "long").as("k"),
        variant_get(col("v"), "$.u", "long").as("u"),
        length(variant_get(col("v"), "$.t", "string")).as("tlen"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("u")).as("sum_u"), sum(col("tlen")).cast(LongType).as("sum_tlen"))
      .orderBy(col("event_type"))
  }
  def propsExtractVariantSql: String =
    """WITH j AS (SELECT event_type,
         '{"p": ' || props || ', "u": ' || CAST(user_id AS VARCHAR) ||
         ', "t": "' || event_type || '"}' AS js
         FROM events)
       SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract(js, '$.p.k') AS BIGINT)) AS BIGINT) AS sum_k,
         min(CAST(json_extract(js, '$.p.k') AS BIGINT)) AS min_k,
         max(CAST(json_extract(js, '$.p.k') AS BIGINT)) AS max_k,
         CAST(sum(CAST(json_extract(js, '$.u') AS BIGINT)) AS BIGINT) AS sum_u,
         CAST(sum(length(json_extract_string(js, '$.t'))) AS BIGINT) AS sum_tlen
       FROM j GROUP BY 1"""

  /** Ordered conversion funnel view → click → purchase: a user advances
    * a stage only with an event STRICTLY AFTER the timestamp that
    * reached the previous stage (the product-analytics primitive —
    * sessionization's companion in SURVEY §2.13's event-time family).
    * Emits one row per stage with the surviving-user count.
    *
    * Scale shape: three user-keyed aggregations, each preceded by an
    * equi-join on user_id against the (tiny, one row per surviving user)
    * previous-stage frame — the per-stage frames are |users|-sized, so
    * at 100 TB the event table streams through three hash joins against
    * broadcast/co-partitioned stage tables; no window over the full
    * event log, no self-join of events to events. Timestamps compare as
    * exact microseconds. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadWide(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v.select(col("user_id").as("vu"), col("v_ts")),
        col("user_id") === col("vu") && col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id").as("cu"), col("c_ts")),
        col("user_id") === col("cu") && col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val row = (df: DataFrame, stage: String, ord: Int) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(ord).as("stage_ord"), lit(stage).as("stage"), col("n_users"))
    row(v, "view", 1)
      .unionAll(row(c, "click_after_view", 2))
      .unionAll(row(p, "purchase_after_click", 3))
      .orderBy(col("stage_ord"))
  }

  def funnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
         WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
         JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
         WHERE e.event_type = 'click' GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
         JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
         WHERE e.event_type = 'purchase' GROUP BY 1)
       SELECT 1 AS stage_ord, 'view' AS stage, count(*) AS n_users FROM v
       UNION ALL
       SELECT 2, 'click_after_view', count(*) FROM c
       UNION ALL
       SELECT 3, 'purchase_after_click', count(*) FROM p"""

  /** Weekly retention cohorts: users grouped by the week of their FIRST
    * event; one row per (cohort week, week offset) with the distinct
    * users active that week — the classic retention triangle.
    *
    * Scale shape: one user-keyed aggregate finds each user's cohort
    * (map-side combined min), one equi-join tags events with their
    * user's cohort (users-sized build side), one
    * (cohort, offset, user) distinct then count — all exact integer /
    * timestamp arithmetic (both engines truncate weeks to Monday and
    * difference whole days). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.loadWide(spark, dir, "events")
      .select(col("user_id"), col("ts"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    ev.join(cohort.select(col("user_id").as("cu"), col("cohort_week")),
        col("user_id") === col("cu"))
      .select(col("user_id"), col("cohort_week"),
        expr("CAST(datediff(date_trunc('week', ts), cohort_week) div 7 AS INT)")
          .as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Volume-anomaly detection per event type: hourly counts scored by
    * global z-score, hours beyond |z| > 2 flagged (the monitoring
    * primitive next to the funnel/retention family).
    *
    * Cross-engine float determinism: mean and variance derive from
    * EXACT integer sums (n, Σc, Σc²) — var = (n·Σc² − (Σc)²)/n²
    * computed with integer numerator, ONE division, and sqrt (the one
    * libm call IEEE 754 requires correctly rounded, so both engines
    * agree bit-for-bit, unlike ln/exp). The z expression divides in the
    * same order on both engines.
    *
    * Scale shape: one (type, hour) count shuffle (map-side combined),
    * one per-type stats reduce over the SMALL hourly frame, broadcast
    * back — never a second pass over raw events. */
  private[graft] def anomalyStats(hourly: DataFrame): DataFrame =
    hourly.groupBy(col("event_type").as("st"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))

  /** Score an (event_type, wstart, cnt) hourly frame against per-type
    * count statistics — exact integer sums feed one correctly-rounded
    * sqrt, so batch and streaming callers hash-match. */
  private[graft] def scoreAnomalies(hourly: DataFrame, stats: DataFrame): DataFrame =
    hourly.join(broadcast(stats), col("event_type") === col("st"))
      .select(col("event_type"), col("wstart"), col("cnt"),
        (col("s1").cast("double") / col("n").cast("double")).as("mean"),
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * col("n")).cast("double")).as("sd"))
      .select(col("event_type"), col("wstart"), col("cnt"), col("mean"), col("sd"),
        ((col("cnt").cast("double") - col("mean")) / col("sd")).as("z"))
      .filter(abs(col("z")) > 2.0)
      .orderBy(col("event_type"), col("wstart"))

  def anomalies(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.loadWide(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("wstart"))
      .agg(count(lit(1)).as("cnt"))
    scoreAnomalies(hourly, anomalyStats(hourly))
  }

  def anomaliesSql: String =
    """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS wstart,
         count(*) AS cnt FROM events GROUP BY 1, 2),
       s AS (SELECT event_type AS st, count(*) AS n,
         CAST(sum(cnt) AS BIGINT) AS s1,
         CAST(sum(cnt * cnt) AS BIGINT) AS s2
         FROM h GROUP BY 1),
       z AS (SELECT event_type, wstart, cnt,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE)) AS sd
         FROM h JOIN s ON h.event_type = s.st)
       SELECT event_type, wstart, cnt, mean, sd,
         (CAST(cnt AS DOUBLE) - mean) / sd AS z
       FROM z WHERE abs((CAST(cnt AS DOUBLE) - mean) / sd) > 2.0"""

  /** Conversion-latency quantiles: for users who complete the funnel,
    * the view→purchase duration's quartiles via the mergeable
    * quantile sketch (composing [[funnel]]'s stage frames with
    * graft.plans.QuantileSketch — exact regime on the fixture, type-1
    * quantiles in the oracle). Durations are exact integer
    * microseconds; the single division to seconds is one IEEE op. */
  def funnelLatency(spark: SparkSession, dir: String,
                    k: Int = 1 << 18): DataFrame = {
    import graft.functions.NativeFunctions.quantileSketch
    val ev = Tables.loadWide(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v.select(col("user_id").as("vu"), col("v_ts")),
        col("user_id") === col("vu") && col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"), first(col("v_ts")).as("v_ts0"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id").as("cu"), col("c_ts"), col("v_ts0")),
        col("user_id") === col("cu") && col("ts") > col("c_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("p_ts"), first(col("v_ts0")).as("v_ts1"))
    // zero-conversion guard: the sketch returns 0 on an empty buffer but
    // the oracle's aggregate over an empty frame yields NULL quantiles —
    // emit NULL on both engines (the oracle COALESCEs only n_converted)
    def qAt(i: Int) = when(col("n_converted") > 0,
      element_at(col("qs"), i).cast("double") / 1000000.0)
    p.select((unix_micros(col("p_ts")) - unix_micros(col("v_ts1"))).as("lat_us"))
      .agg(quantileSketch(col("lat_us"), k, Seq(0.25, 0.5, 0.75)).as("qs"),
        count(lit(1)).as("n_converted"))
      .select(qAt(1).as("p25_s"), qAt(2).as("p50_s"), qAt(3).as("p75_s"),
        col("n_converted"))
  }

  def funnelLatencySql: String =
    """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
         WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS c_ts, min(v.v_ts) AS v_ts0
         FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
         WHERE e.event_type = 'click' GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS p_ts, min(c.v_ts0) AS v_ts1
         FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
         WHERE e.event_type = 'purchase' GROUP BY 1),
       lat AS (SELECT epoch_us(p_ts) - epoch_us(v_ts1) AS lat_us FROM p),
       r AS (SELECT lat_us,
         row_number() OVER (ORDER BY lat_us) - 1 AS rk,
         count(*) OVER () AS n FROM lat)
       SELECT
         CAST(max(CASE WHEN rk = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN lat_us END) AS DOUBLE) / 1000000.0 AS p25_s,
         CAST(max(CASE WHEN rk = CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN lat_us END) AS DOUBLE) / 1000000.0 AS p50_s,
         CAST(max(CASE WHEN rk = CAST(floor(0.75 * (n - 1)) AS BIGINT) THEN lat_us END) AS DOUBLE) / 1000000.0 AS p75_s,
         CAST(coalesce(max(n), 0) AS BIGINT) AS n_converted
       FROM r"""

  def retentionSql: String =
    """WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
         FROM events GROUP BY 1)
       SELECT c.cohort_week,
         CAST(date_diff('day', c.cohort_week, date_trunc('week', e.ts)) // 7 AS INT)
           AS week_offset,
         count(DISTINCT e.user_id) AS n_users
       FROM events e JOIN c ON e.user_id = c.user_id
       GROUP BY 1, 2"""

  // ---------------------------------------------------------------------
  // Multi-dimensional data layout (north star: Z-order clustering — the
  // table-layout lever behind multi-column data skipping in every lake
  // format: sort by the Morton interleave of the filter columns and a
  // box predicate on EITHER column prunes most files via min/max stats,
  // where a lexicographic sort only skips on its leading column)
  // ---------------------------------------------------------------------

  /** Bits per dimension in the audit's bucket codes: 8+8 → a 16-bit
    * z-space (the interleave itself — [[Sinks.zValue]] — handles the
    * full 32 bits; with sub-256 codes the high bits are zero, so the
    * oracle's 8-bit generate_series interleave is value-identical). */
  private val ZBits = 8

  /** Z-ORDER LAYOUT AUDIT: bucketize events on the two filter dimensions
    * a box query would hit (user bucket = user_id mod 256, time bucket =
    * event minute mod 256), Morton-interleave them ([[Sinks.zValue]] —
    * the same expression [[Sinks.writeZOrdered]] lays files out by, so
    * this query is that sink's oracle-checked audit), and tile the
    * z-range into write-unit-sized groups of 16 z-cells. Each output row
    * is one tile — one would-be parquet file under the z-sorted write — with
    * its row count and per-dimension min/max: the exact column stats a
    * scan's file-skipping consults. `span` is the tile's bounding-box
    * area in (user, time) space; z-tiles keep it near the tile's own
    * cardinality (both dims stay narrow TOGETHER), where id-ordered
    * tiles of the same size sprawl across one full dimension — the
    * measured gap is EventsSpec's pruning assertion.
    *
    * Scale shape: one narrow projection (two bucket codes, the
    * interleave fold — all codegen'd bit ops), one map-side-combinable
    * aggregate by tile. Writing the layout for real is `events.sort(z)`
    * before the sink; this query is the audit that the sort buys
    * box-query pruning. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.loadWide(spark, dir, "events")
      .select(pmod(col("user_id"), lit(256L)).as("ub"),
        pmod(expr("unix_micros(ts) div 60000000"), lit(256L)).as("tb"))
    b.select(Sinks.zValue(col("ub"), col("tb")).as("zv"),
        col("ub"), col("tb"))
      .select(expr("zv div 16").as("tile"), col("ub"), col("tb"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ub")).as("min_ub"), max(col("ub")).as("max_ub"),
        min(col("tb")).as("min_tb"), max(col("tb")).as("max_tb"))
      .withColumn("span",
        (col("max_ub") - col("min_ub") + 1) * (col("max_tb") - col("min_tb") + 1))
      .orderBy(col("tile"))
  }

  /** Driver-side Morton twin of [[Sinks.zValue]] for small codes —
    * produces the tile-cover control set (O(box area / 16) ints). */
  private[graft] def mortonOf(a: Int, b: Int): Int =
    (0 until ZBits).foldLeft(0) { (acc, i) =>
      acc | (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))
    }

  /** Build the Z-ORDERED EVENT STORE once per corpus into the
    * [[graft.StoreCatalog]] (create-if-absent, fingerprint-checked): rows
    * land in `ztile` partitions — contiguous 256-cell z-runs, each a
    * bounded 16×16 rectangle of the (user-bucket, time-bucket) plane,
    * 256 partitions over the 16-bit z-space. This is
    * [[Sinks.writeZOrdered]]'s layout made SERVABLE: with the tile as a
    * partition column, a box query's pruning is directory listing
    * (assertable, engine-enforced), not just row-group stats. Partition
    * count is a LISTING-COST knob: Spark's partition discovery walks
    * every directory once per read regardless of pruning, so the tile
    * grain must amortize against real file sizes — 256 dirs matches the
    * other stores' 64-bucket grain (a 4096-tile first cut put a 5-6 s
    * listing floor under every serve at fixture scale); rows stay
    * z-sorted WITHIN each tile, so finer boxes still row-group-skip
    * inside the pruned partitions. */
  private[graft] def buildZStore(spark: SparkSession, dir: String): String =
    graft.StoreCatalog.getOrBuild(spark, "events_ztiles",
      Seq(s"$dir/events.parquet"),
      Seq("tilecells" -> "256"),
      Seq("tiles")) { parts =>
      Tables.loadWide(spark, dir, "events")
        .withColumn("ub", pmod(col("user_id"), lit(256L)))
        .withColumn("tb", pmod(expr("unix_micros(ts) div 60000000"), lit(256L)))
        .withColumn("zv", Sinks.zValue(col("ub"), col("tb")))
        .withColumn("ztile", expr("zv div 256").cast(IntegerType))
        .repartition(col("ztile"))
        .sortWithinPartitions(col("ztile"), col("zv"))
        .drop("zv")
        .write.mode("overwrite").partitionBy("ztile").parquet(parts("tiles"))
      Map.empty
    }.parts("tiles")

  /** The pruned tile read — exposed for the plan spec. */
  private[graft] def prunedZTiles(spark: SparkSession, storeDir: String,
                                  tiles: Seq[Int]): DataFrame =
    spark.read.parquet(storeDir).where(col("ztile").isin(tiles: _*))

  /** BOX QUERY SERVED FROM THE Z-ORDERED STORE: the classic z-index
    * read path — decompose the query box into its covering z-tiles on
    * the driver (a tile is the interleave of 16-cell-coarsened
    * coordinates, so the cover is exactly the coarsened box's Morton
    * codes: (ubHi/16−ubLo/16+1)·(tbHi/16−tbLo/16+1) ints of control
    * state), push the cover as a static partition filter, and re-check
    * the exact box in-plan (tile-mates outside the box are filtered
    * after the pruned scan). At 100 TB the scan cost is the box's share
    * of the z-space, never the table — the payoff [[zorderLayout]]'s
    * box stats predict. Oracle: the plain WHERE on the raw table. */
  def zStoreBoxQuery(spark: SparkSession, dir: String,
                     ubLo: Int = 0, ubHi: Int = 63,
                     tbLo: Int = 0, tbHi: Int = 127): DataFrame = {
    val sd = buildZStore(spark, dir)
    val tiles = for {
      a <- (ubLo >> 4) to (ubHi >> 4)
      b <- (tbLo >> 4) to (tbHi >> 4)
    } yield mortonOf(a, b)
    prunedZTiles(spark, sd, tiles)
      .filter(col("ub").between(ubLo, ubHi) && col("tb").between(tbLo, tbHi))
      .select(col("event_id"), col("ub"), col("tb"))
      .orderBy(col("event_id"))
  }

  def zStoreBoxSql(ubLo: Int = 0, ubHi: Int = 63,
                   tbLo: Int = 0, tbHi: Int = 127): String =
    s"""SELECT event_id, user_id % 256 AS ub,
               (epoch_us(ts) // 60000000) % 256 AS tb
        FROM events
        WHERE user_id % 256 BETWEEN $ubLo AND $ubHi
          AND (epoch_us(ts) // 60000000) % 256 BETWEEN $tbLo AND $tbHi
        ORDER BY event_id"""

  /** Oracle twin of [[zorderLayout]]: the same interleave as a
    * generate_series bit sum, the same 16-cell tiling and box stats. */
  def zorderLayoutSql: String = {
    val z = (0 until ZBits).map(i =>
      s"(((ub >> $i) & 1) << ${2 * i}) + (((tb >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH b AS (SELECT user_id % 256 AS ub,
                          (epoch_us(ts) // 60000000) % 256 AS tb
                   FROM events),
        z AS (SELECT CAST(($z) // 16 AS BIGINT) AS tile, ub, tb FROM b)
        SELECT tile, count(*) AS n_events,
               min(ub) AS min_ub, max(ub) AS max_ub,
               min(tb) AS min_tb, max(tb) AS max_tb,
               CAST((max(ub) - min(ub) + 1) * (max(tb) - min(tb) + 1) AS BIGINT)
                 AS span
        FROM z GROUP BY tile ORDER BY tile"""
  }
}
