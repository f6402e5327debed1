package graft.queries

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Event-stream analytics on the `events` table (the batch equivalents of
  * the Structured Streaming operators in graft.streaming — windowed
  * aggregation and stateful sessionization; same logic, bounded input).
  *
  * Event-time handling is SCHEMA-DRIVEN ([[normalized]]): the driver has
  * shipped `events.ts` both as parquet TIMESTAMP(NANOS) (bound as an
  * epoch-nano long under `spark.sql.legacy.parquet.nanosAsLong=true`) and
  * as timestamp[us] (bound as TIMESTAMP / TIMESTAMP_NTZ). Hardcoding
  * either binding breaks on the other (the round-7 regression), so every
  * consumer goes through one normalization that branches on the BOUND
  * type, not the expected one. All conversions stay in exact integer
  * arithmetic — a double round-trip would corrupt (1.7e18 > 2^53).
  */
object EventQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Canonical event-time columns derived from whatever type `ts` bound
    * as: `event_time` (TimestampType, µs precision — the windowing /
    * calendar column) and `ts_ns` (epoch-nano long — the exact-gap
    * arithmetic column).
    *
    *  - LongType: nanosAsLong-era data; `ts` IS epoch nanos. µs
    *    truncation via integer `div` (exact).
    *  - Timestamp / TimestampNTZ: µs-era data; `unix_micros` is exact and
    *    `* 1000` cannot overflow (µs since epoch ≈ 1.7e15 ≪ 2^63/1000).
    *    NTZ→TZ cast is exact under the session's UTC timezone
    *    (GraftSession pins `spark.sql.session.timeZone=UTC`).
    */
  def normalized(events: DataFrame): DataFrame = events.schema("ts").dataType match {
    case LongType =>
      events
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withColumn("ts_ns", col("ts"))
    case TimestampType | TimestampNTZType =>
      val t = col("ts").cast(TimestampType)
      events
        .withColumn("event_time", t)
        .withColumn("ts_ns", unix_micros(t) * lit(1000L))
    case other => throw new IllegalArgumentException(
      s"events.ts bound as unsupported type $other (expected long / timestamp)")
  }

  /** The events table with the canonical columns attached. */
  def loadEvents(s: SparkSession, dir: String): DataFrame =
    normalized(load(s, dir, "events"))

  /** §2.11 tumbling-window aggregate (batch form): events per hour ×
    * event_type with deterministic revenue-style sums. */
  val q28EventsHourly: Q = (s, dir) => {
    loadEvents(s, dir)
      .groupBy(year(col("event_time")).as("y"), month(col("event_time")).as("m"),
        dayofmonth(col("event_time")).as("d"), hour(col("event_time")).as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), lsum(col("value")).as("sum_value"))
      .orderBy("y", "m", "d", "h", "event_type")
  }

  /** Gap-based sessionization (30-min inactivity): lag window over each
    * user's ordered events, cumulative new-session flags. The batch twin of
    * flatMapGroupsWithState sessionization. All-integer output. */
  val q30Sessionize: Q = (s, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val gapNs = 30L * 60 * 1000000000L
    loadEvents(s, dir)
      .withColumn("prev_ts", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_ns") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("new_session")).as("n_sessions"))
      .orderBy("user_id")
  }

  /** Cohort retention: users bucketed by FIRST-ACTIVE day, counted on
    * every later active day as an offset from their cohort — the
    * engagement curve every event pipeline reports. Scale shape: one
    * (user, day) distinct (shuffle ∝ active pairs), one bounded
    * per-user min, one join back on the user key; the cohort matrix
    * output is days² rows at most. Day bucketing uses truncating `div`
    * against the oracle's floor `//` — identical under the ts_ns >= 0
    * (post-1970) contract [[normalized]] data satisfies. */
  val q113Retention: Q = (s, dir) => {
    val dayNs = 86400L * 1000000000L
    val activity = loadEvents(s, dir)
      .select(col("user_id"), expr(s"ts_ns div $dayNs").as("day"))
      .distinct()
    val cohorts = activity.groupBy("user_id").agg(min("day").as("cohort_day"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset"))
      // activity is distinct at (user, day): one row per user per cell
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "offset")
  }

  /** Ordered session funnel: within each 30-min-gap session, how far the
    * view → click → purchase sequence progressed IN ORDER (a click only
    * counts after a view, a purchase only after a qualifying click) —
    * the conversion report every event pipeline ships.
    *
    * Scale shape: the session id rides q30's lag + running-sum window
    * (one shuffle on user_id); the three step timestamps are chained
    * conditional MIN windows over (user, session) — hash-partitioning
    * by user_id already clusters (user, session), so Catalyst inserts
    * NO further exchange, just per-partition sorts; the depth roll-up
    * shuffles one row per session. Strictly-after semantics (ts_ns >
    * prev step) — simultaneous events do not satisfy an order. */
  val q116Funnel: Q = (s, dir) => {
    val gapNs = 30L * 60 * 1000000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val bySession = Window.partitionBy("user_id", "session_id")
    val sess = loadEvents(s, dir)
      .withColumn("prev_ts", lag(col("ts_ns"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_ns") - col("prev_ts") > gapNs,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val funneled = sess
      .withColumn("t1", min(when(col("event_type") === "view",
        col("ts_ns"))).over(bySession))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts_ns") > col("t1"), col("ts_ns"))).over(bySession))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts_ns") > col("t2"), col("ts_ns"))).over(bySession))
    funneled.groupBy("user_id", "session_id")
      .agg(min(when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
        .when(col("t1").isNotNull, 1L).otherwise(0L)).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_sessions"))
      .orderBy("depth")
  }

  /** Per-user inter-event-gap percentiles: exact discrete median/p90 of
    * each user's gap distribution (full value oracle via QUANTILE_DISC)
    * plus DDSketch estimates verified against the LIKE-convention exact
    * order statistic — the sketch is the 100 TB path (mergeable,
    * bounded state; the exact histogram is the audit). One lag window
    * on user_id; all three aggregations group on the user key. */
  val q117GapQuantiles: Q = (s, dir) => {
    import graft.ops.{DdSketch, ExactPercentile}
    val byUser = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val gaps = graft.ops.OpCaches.persist(loadEvents(s, dir)
      .withColumn("gap",
        (col("ts_ns") - lag(col("ts_ns"), 1).over(byUser)).cast("double"))
      .filter(col("gap").isNotNull)
      .select(col("user_id"), col("gap")))
    val ps = Seq("median_gap" -> 0.5, "p90_gap" -> 0.9)
    val duckDisc = ExactPercentile.discByHistogram(
      gaps, "user_id", "gap", ps, ExactPercentile.discIndexCeil)
    val ddDisc = ExactPercentile.discByHistogram(
        gaps, "user_id", "gap",
        Seq("__e50" -> 0.5, "__e90" -> 0.9), ExactPercentile.discIndexFloor)
    val sk = gaps.groupBy("user_id")
      .agg(DdSketch.sketch(col("gap")).as("sk"))
    // the α = 1% relative-error contract against the sketch's OWN rank
    // convention (no bucket collapse at this value range)
    def ok(q: Double, exact: org.apache.spark.sql.Column) =
      abs(DdSketch.quantile(col("sk"), q) - exact) <= abs(exact) * 0.0101 + 1.0
    duckDisc.join(ddDisc, Seq("user_id")).join(sk, Seq("user_id"))
      .select(col("user_id"), col("median_gap"), col("p90_gap"),
        ok(0.5, col("__e50")).as("dd50_ok"),
        ok(0.9, col("__e90")).as("dd90_ok"))
      .orderBy("user_id")
  }

  /** Last-touch attribution: each purchase attributed to the user's
    * most recent click within a 24 h lookback — the as-of-join
    * composition every event pipeline ships. Rides
    * [[graft.ops.AsOf.asofJoin]] (union + running last-non-null, one
    * shuffle on the user key — no new machinery); revenue accumulates
    * in exact integer cents (the lsum contract) so the daily roll-up
    * replays bit-for-bit; days after 1970 by the ts_ns >= 0 contract.
    * Purchases with no qualifying click stay counted, unattributed. */
  val q119Attribution: Q = (s, dir) => {
    val dayNs = 86400L * 1000000000L
    val lookbackNs = 24L * 3600 * 1000000000L
    val ev = loadEvents(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_ns"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_ns").as("click_ts"))
    graft.ops.AsOf.asofJoin(purchases, clicks, "user_id",
        "ts_ns", "click_ts", Seq("click_id", "click_ts"), "left")
      .withColumn("attributed", col("click_id").isNotNull &&
        col("ts_ns") - col("click_ts") <= lookbackNs)
      .groupBy(expr(s"ts_ns div $dayNs").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
        (sum(when(col("attributed"), cents(col("value")))) / lit(100.0))
          .as("attr_value"))
      .orderBy("day")
  }

  val all: Map[String, Q] = Map(
    "q28_events_hourly" -> q28EventsHourly,
    "q30_sessionize" -> q30Sessionize,
    "q113_retention" -> q113Retention,
    "q116_funnel" -> q116Funnel,
    "q117_gap_quantiles" -> q117GapQuantiles,
    "q119_attribution" -> q119Attribution,
  )

  /** DuckDB oracles are written against the CURRENT testdata binding
    * (timestamp[us] → DuckDB TIMESTAMP; `epoch_us` is exact on it). */
  val oracles: Map[String, String] = Map(
    "q28_events_hourly" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM CAST(ts AS TIMESTAMP)) AS INT) AS y,
         |CAST(EXTRACT(MONTH FROM CAST(ts AS TIMESTAMP)) AS INT) AS m,
         |CAST(EXTRACT(DAY FROM CAST(ts AS TIMESTAMP)) AS INT) AS d,
         |CAST(EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS INT) AS h,
         |event_type, COUNT(*) AS n, ${sqlLsum("value")} AS sum_value
         |FROM events GROUP BY 1,2,3,4,5 ORDER BY 1,2,3,4,5""".stripMargin,
    "q30_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts, event_id,
        |          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |SELECT user_id, COUNT(*) AS n_events,
        |CAST(SUM(new_session) AS BIGINT) AS n_sessions
        |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q113_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) * 1000) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT c.cohort_day, a.day - c.cohort_day AS offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q116_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) * 1000 AS ts_ns FROM events),
        |l AS (SELECT *, LAG(ts_ns) OVER
        |    (PARTITION BY user_id ORDER BY ts_ns, event_id) AS prev_ts FROM e),
        |s AS (SELECT *, SUM(CASE WHEN prev_ts IS NULL
        |      OR ts_ns - prev_ts > 1800000000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id FROM l),
        |w1 AS (SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_ns END)
        |    OVER (PARTITION BY user_id, session_id) AS t1 FROM s),
        |w2 AS (SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_ns > t1
        |      THEN ts_ns END)
        |    OVER (PARTITION BY user_id, session_id) AS t2 FROM w1),
        |w3 AS (SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_ns > t2
        |      THEN ts_ns END)
        |    OVER (PARTITION BY user_id, session_id) AS t3 FROM w2),
        |d AS (SELECT user_id, session_id,
        |    MIN(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |      WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS depth
        |  FROM w3 GROUP BY 1, 2)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q119_attribution" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |    epoch_us(ts) * 1000 AS ts_ns, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id,
        |    epoch_us(ts) * 1000 AS click_ts FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, p.ts_ns, p.value, c.click_id, c.click_ts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.user_id AND p.ts_ns >= c.click_ts),
        |a AS (SELECT *, (click_id IS NOT NULL
        |    AND ts_ns - click_ts <= 86400000000000) AS attributed FROM j)
        |SELECT ts_ns // 86400000000000 AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_attributed,
        |  CAST(SUM(CASE WHEN attributed
        |    THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END)
        |    AS DOUBLE) / 100.0 AS attr_value
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q117_gap_quantiles" ->
      """WITH g AS (SELECT user_id,
        |    CAST(epoch_us(ts) * 1000 - LAG(epoch_us(ts) * 1000) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS gap
        |  FROM events)
        |SELECT user_id, QUANTILE_DISC(gap, 0.5) AS median_gap,
        |  QUANTILE_DISC(gap, 0.9) AS p90_gap,
        |  TRUE AS dd50_ok, TRUE AS dd90_ok
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
