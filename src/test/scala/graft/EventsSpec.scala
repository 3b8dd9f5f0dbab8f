package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Events

class EventsSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Scratch.dir("events").toString
    Seq(
      (0L, "2024-01-01 10:00:00", 1L, "click", 1.00, """{"k": 1}"""),
      (1L, "2024-01-01 10:10:00", 1L, "click", 2.00, """{"k": 2}"""),
      (2L, "2024-01-01 10:20:00", 1L, "purchase", 9.99, """{"k": 3}"""),
      (3L, "2024-01-01 09:00:00", 1L, "click", 1.00, """{"k": 4}"""), // outside 1h of purchase
      (4L, "2024-01-01 10:15:00", 2L, "click", 1.00, """{"k": 5}"""), // other user
      (5L, "2024-01-01 12:00:00", 2L, "purchase", 5.00, """{"k": 6}"""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("as-of join: most recent click at or before each purchase, per user") {
    val out = Events.asofClickBeforePurchase(spark, dir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(out(2L) == 1L) // user 1's latest click before 10:20 is event 1
    assert(out(5L) == 4L) // user 2's only click
  }

  test("range join: clicks within the hour before each purchase, same user") {
    val out = Events.clicksBeforePurchase(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(2L) == 2L) // events 0,1 in window; 3 too old; 4 wrong user
    assert(!out.contains(5L)) // user 2 has no click within the hour
  }

  test("sessionization splits at >30min gaps") {
    val out = Events.sessions(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
    // user 1: 09:00 alone (gap 60min), then 10:00/10:10/10:20 together
    assert(out.count(_._1 == 1L) == 2)
    assert(out.exists(s => s._1 == 1L && s._3 == 3))
    assert(out.exists(s => s._1 == 1L && s._3 == 1))
    // user 2: 10:15 alone, 12:00 alone
    assert(out.count(_._1 == 2L) == 2)
  }

  test("tumbling windows start on the hour, exact cents sums") {
    val out = Events.tumbling(spark, dir).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("2024-01-01 10:00:00.0", "click")) == ((3L, 4.00)))
    assert(out(("2024-01-01 10:00:00.0", "purchase")) == ((1L, 9.99)))
  }

  test("props JSON extraction (jsonb analogue)") {
    val out = Events.propsExtract(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("click") == 1 + 2 + 4 + 5)
    assert(out("purchase") == 3 + 6)
  }

  test("funnel: stages require STRICT event-time order per user") {
    val d = Scratch.dir("funnel").toString
    Seq(
      // u1: full ordered funnel
      (0L, "2024-01-01 10:00:00", 1L, "view", 0.0, "{}"),
      (1L, "2024-01-01 10:05:00", 1L, "click", 0.0, "{}"),
      (2L, "2024-01-01 10:10:00", 1L, "purchase", 0.0, "{}"),
      // u2: click BEFORE view, purchase after view but no click after view
      (3L, "2024-01-01 09:00:00", 2L, "click", 0.0, "{}"),
      (4L, "2024-01-01 10:00:00", 2L, "view", 0.0, "{}"),
      (5L, "2024-01-01 11:00:00", 2L, "purchase", 0.0, "{}"),
      // u3: view + click, purchase exactly AT the click ts (strict: no)
      (6L, "2024-01-01 08:00:00", 3L, "view", 0.0, "{}"),
      (7L, "2024-01-01 08:30:00", 3L, "click", 0.0, "{}"),
      (8L, "2024-01-01 08:30:00", 3L, "purchase", 0.0, "{}"),
      // u4: never views
      (9L, "2024-01-01 08:00:00", 4L, "click", 0.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val out = Events.funnel(spark, d).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out("view") == 3)                 // u1, u2, u3
    assert(out("click_after_view") == 2)     // u1, u3 (u2's click precedes its view)
    assert(out("purchase_after_click") == 1) // u1 only (u3's ties, strict)
  }

  test("retention: week offsets count whole weeks from the cohort week") {
    val d = Scratch.dir("retention").toString
    Seq(
      // u1 first active Mon Jan 1 week; active again 2 weeks later
      (0L, "2024-01-02 10:00:00", 1L, "view", 0.0, "{}"),
      (1L, "2024-01-16 10:00:00", 1L, "view", 0.0, "{}"),
      // u2 same cohort week, active only that week (two events, one user)
      (2L, "2024-01-03 10:00:00", 2L, "view", 0.0, "{}"),
      (3L, "2024-01-05 10:00:00", 2L, "view", 0.0, "{}"),
      // u3 cohort the following week
      (4L, "2024-01-10 10:00:00", 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val out = Events.retention(spark, d).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out(("2024-01-01", 0)) == 2) // u1 + u2 in their cohort week
    assert(out(("2024-01-01", 2)) == 1) // u1 back two weeks on
    assert(out(("2024-01-08", 0)) == 1) // u3's own cohort
    assert(out.size == 3)
  }

  test("anomalies: an injected hourly spike is flagged with the hand-computed z") {
    val d = Scratch.dir("anom").toString
    // 9 quiet hours at 1 event + one spike hour with 11 events
    val rows = (0 until 9).map { h =>
      (h.toLong, f"2024-01-01 $h%02d:15:00", 1L, "click", 0.0, "{}")
    } ++ (0 until 11).map { i =>
      (100L + i, s"2024-01-01 09:${10 + i}:00", 1L, "click", 0.0, "{}")
    }
    rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val out = Events.anomalies(spark, d).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getTimestamp(1).toString.startsWith("2024-01-01 09:"))
    assert(r.getLong(2) == 11L)
    // n=10, s1=20, s2=130 -> mean 2, var (10*130-400)/100 = 9, sd 3, z = 3
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 3.0 && r.getDouble(5) == 3.0)
  }

  test("zValue: hand-computed Morton codes (the write layout and the audit share it)") {
    val cases = Seq((0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L),
      // x=3 -> bits 0,1 land at 0,2 (1+4); y=5 -> bits 0,2 land at 1,5 (2+32)
      (3L, 5L, 39L), (255L, 255L, 65535L),
      // past the audit's 8-bit buckets: bit 16 of x lands at bit 32
      (65536L, 0L, 4294967296L))
    val got = cases.map { case (x, y, _) => (x, y) }
      .toDF("x", "y")
      .select(col("x"), col("y"),
        graft.operators.Sinks.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == cases)
  }

  test("zorderLayout: tiles partition the events, and z-tiles bound boxes " +
    "tighter than same-size id-ordered tiles (the data-skipping win)") {
    import org.apache.spark.sql.expressions.Window
    val out = Events.zorderLayout(spark, TestSession.sfDir).collect()
    val total = graft.Tables.load(spark, TestSession.sfDir, "events").count()
    assert(out.map(_.getLong(1)).sum == total) // every event in exactly one tile
    // per-tile box stats are internally consistent
    out.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2) && r.getLong(5) >= r.getLong(4))
      assert(r.getLong(6) ==
        (r.getLong(3) - r.getLong(2) + 1) * (r.getLong(5) - r.getLong(4) + 1))
    }
    // control layout: the same events tiled in event_id order with the
    // same tile count — the "however the crawl happened to arrive" file
    // layout. Its boxes must be LOOSER on average: arrival order ignores
    // (user, time) locality, so each file's min/max stats span most of
    // the space and a box query can prune almost nothing.
    val nTiles = out.length
    val b = graft.Tables.load(spark, TestSession.sfDir, "events")
      .select(col("event_id"), pmod(col("user_id"), lit(256L)).as("ub"),
        pmod(expr("unix_micros(ts) div 60000000"), lit(256L)).as("tb"))
      .withColumn("rk", row_number().over(Window.orderBy(col("event_id"))))
      .withColumn("tile", expr(s"(rk - 1) * $nTiles div $total"))
    val ctrl = b.groupBy(col("tile"))
      .agg(((max(col("ub")) - min(col("ub")) + 1) *
        (max(col("tb")) - min(col("tb")) + 1)).as("span"))
      .collect().map(_.getLong(1))
    val zAvg = out.map(_.getLong(6)).sum.toDouble / out.length
    val ctrlAvg = ctrl.sum.toDouble / ctrl.length
    assert(zAvg < ctrlAvg / 4,
      s"z-order boxes not tighter: z avg $zAvg vs id-order avg $ctrlAvg")
  }

  test("zStoreBoxQuery: served box equals the raw-table filter; cover is " +
    "a strict subset of the tile space") {
    val served = Events.zStoreBoxQuery(spark, TestSession.sfDir,
      ubLo = 8, ubHi = 39, tbLo = 16, tbHi = 79)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val raw = graft.Tables.load(spark, TestSession.sfDir, "events")
      .select(col("event_id"), pmod(col("user_id"), lit(256L)).as("ub"),
        pmod(expr("unix_micros(ts) div 60000000"), lit(256L)).as("tb"))
      .filter(col("ub").between(8, 39) && col("tb").between(16, 79))
      .orderBy(col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(served == raw && served.nonEmpty)
    // the cover for this box is (39/16-8/16+1)*(79/16-16/16+1) = 3*4 = 12
    // tiles of the 256-tile space — the pruning is real, not a rescan
    val cover = for { a <- 0 to 2; b <- 1 to 4 } yield Events.mortonOf(a, b)
    assert(cover.distinct.size == 12 && cover.forall(_ < 256))
  }
}
