package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Num, Windows}

/** The reference's four streaming processors — funnel, GMV, drop-off,
  * payment (SURVEY.md §2.6–§2.8; funnel_processor.py, gmv_processor.py,
  * dropoff_processor.py, payment_processor.py) — re-expressed as batch
  * analytics over the `events` testdata table. The window expressions
  * are identical to the streaming path (operators.Windows /
  * streaming.Processors); batch execution is what makes them
  * oracle-checkable (SURVEY §5b).
  *
  * Window sizes are scaled up (1 h / 30 min vs the reference's
  * 1 min / 30 s) because the testdata spans a month — the operator
  * shape (overlapping windows, conditional counts, rates) is unchanged.
  *
  * 100 TB notes: a sliding window with width/slide = 2 doubles rows
  * before aggregation, but partial (map-side) aggregation collapses
  * them to ≤ (#windows × #groups) per task before the shuffle — state
  * size is bounded by window-count, not event-count. `collect_list`
  * samples are bounded by slice(sort,1,3); see operators.Sampling for
  * the cap-at-N aggregator that avoids materializing unbounded lists.
  */
object EventAnalyticsQueries {

  private val Width = "1 hour"
  private val Slide = "30 minutes"
  private val WidthSec = 3600L
  private val SlideSec = 1800L

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  /** q12: funnel — conditional stage counts + conversion rates per
    * sliding window (funnel_processor.py:23-61: A1/A2/A4/P4/P6). */
  def q12Funnel(spark: SparkSession, dir: String): DataFrame = {
    val win = Windows.withSlidingWindow(events(spark, dir), "ts", Width, Slide)
    win.groupBy(col("window_start"), col("window_end"))
      .agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("unique_users"),
        sum(when(col("event_type") === "signup", 1).otherwise(0)).as("signups"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("errors"))
      .withColumn("click_rate", Windows.pct(col("clicks"), col("views")))
      .withColumn("conversion_rate", Windows.pct(col("purchases"), col("views")))
      .orderBy(col("window_start"))
  }

  val q12Sql: String = {
    val from = Windows.duckSlidingFrom("events", "ts", WidthSec, SlideSec)
    s"""SELECT window_start, window_end,
       |  count(*) AS total_events,
       |  count(DISTINCT user_id) AS unique_users,
       |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
       |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
       |  CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
       |    THEN floor((floor((sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::DOUBLE
       |      / sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 100) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 END AS click_rate,
       |  CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) > 0
       |    THEN floor((floor((sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE
       |      / sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 100) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 END AS conversion_rate
       |FROM $from w
       |GROUP BY window_start, window_end
       |ORDER BY window_start""".stripMargin
  }

  /** q13: GMV — sum/avg/min/max of purchase value per sliding window
    * (gmv_processor.py:23-51: P2 derived col, A3/A5/A6, P6 round). */
  def q13Gmv(spark: SparkSession, dir: String): DataFrame = {
    val purchases = events(spark, dir).filter(col("event_type") === "purchase")
    val win = Windows.withSlidingWindow(purchases, "ts", Width, Slide)
    win.groupBy(col("window_start"), col("window_end"))
      .agg(
        Num.r(sum(col("value")), 2).as("total_gmv"),
        count(lit(1)).as("purchase_count"),
        countDistinct(col("user_id")).as("unique_buyers"),
        Num.r(avg(col("value")), 2).as("avg_value"),
        Num.r(max(col("value")), 2).as("max_value"),
        Num.r(min(col("value")), 2).as("min_value"))
      .orderBy(col("window_start"))
  }

  val q13Sql: String = {
    val from = Windows.duckSlidingFrom(
      "(SELECT * FROM events WHERE event_type = 'purchase')", "ts", WidthSec, SlideSec)
    s"""SELECT window_start, window_end,
       |  floor((floor((sum(value)) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS total_gmv,
       |  count(*) AS purchase_count,
       |  count(DISTINCT user_id) AS unique_buyers,
       |  floor((floor((avg(value)) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS avg_value,
       |  floor((floor((max(value)) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS max_value,
       |  floor((floor((min(value)) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS min_value
       |FROM $from w
       |GROUP BY window_start, window_end
       |ORDER BY window_start""".stripMargin
  }

  /** q14: drop-off — window × event_type grouping with alert flag and a
    * deterministic bounded sample of ids (dropoff_processor.py:31-69:
    * A7 first, A8 collect_list + AR1 slice, F4 threshold). The sample is
    * sorted before slicing so it is deterministic — the reference's
    * arbitrary-order collect_list+slice is not reproducible across
    * engines (SURVEY §2.8 note). */
  def q14DropOff(spark: SparkSession, dir: String): DataFrame = {
    val alertAbove = 50
    val dropTypes = Seq("error", "click")
    val ev = events(spark, dir)
      .withColumn("is_dropoff", col("event_type").isin(dropTypes: _*))
    val win = Windows.withSlidingWindow(ev, "ts", Width, Slide)
    // Two-level aggregation: a single-level count(DISTINCT user_id) makes
    // Catalyst group on (window, event_type, user_id) first AND drags the
    // BoundedMinSample UDAF into that per-user stage — ObjectHashAggregate
    // (no codegen, object buffers, sort-based fallback past 128 keys) over
    // every window-expanded event row. Grouping per-user explicitly keeps
    // the full-input stage a codegen HashAggregate of declarative aggs; the
    // UDAF then only sees one row per distinct (window, type, user).
    val perUser = win
      .groupBy(col("window_start"), col("window_end"), col("event_type"),
        col("user_id"))
      .agg(
        count(lit(1)).as("user_events"),
        first(col("is_dropoff")).as("is_dropoff"))
    perUser.groupBy(col("window_start"), col("window_end"), col("event_type"))
      .agg(
        sum(col("user_events")).as("status_count"),
        count(col("user_id")).as("unique_users"),
        first(col("is_dropoff")).as("is_dropoff"),
        // bounded-state sample (operators.Sampling): k smallest distinct
        // ids with O(k) aggregation state — the scale-safe form of the
        // reference's collect_list+slice (A8/AR1)
        concat_ws(",", graft.operators.Sampling.smallestK(
          col("user_id").cast("string"), 3)).as("sample_user_ids"))
      .withColumn("alert_triggered",
        col("is_dropoff") && col("status_count") > alertAbove)
      .orderBy(col("window_start"), col("event_type"))
  }

  val q14Sql: String = {
    val from = Windows.duckSlidingFrom("events", "ts", WidthSec, SlideSec)
    s"""SELECT window_start, window_end, event_type,
       |  count(*) AS status_count,
       |  count(DISTINCT user_id) AS unique_users,
       |  (event_type IN ('error', 'click')) AS is_dropoff,
       |  array_to_string(list_slice(list_sort(list_distinct(list(user_id::VARCHAR))), 1, 3), ',') AS sample_user_ids,
       |  ((event_type IN ('error', 'click')) AND count(*) > 50) AS alert_triggered
       |FROM $from w
       |GROUP BY window_start, window_end, event_type
       |ORDER BY window_start, event_type""".stripMargin
  }

  /** q15: payment-style analytics — JSON prop extraction + coalesce +
    * conditional success rates per window × type
    * (payment_processor.py:23-66: P5 coalesce, A4 success counts, S2
    * from_json analog via get_json_object). */
  def q15Payment(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .withColumn("k", coalesce(
        get_json_object(col("props"), "$.k").cast("int"), lit(0)))
      .withColumn("is_success", col("k") % 10 =!= 0)
    val win = Windows.withSlidingWindow(ev, "ts", Width, Slide)
    win.groupBy(col("window_start"), col("window_end"), col("event_type"))
      .agg(
        count(lit(1)).as("txn_count"),
        Num.r(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"),
        Num.r(avg(coalesce(col("value"), lit(0.0))), 2).as("avg_value"),
        sum(when(col("is_success"), 1).otherwise(0)).as("success_count"),
        sum(when(!col("is_success"), 1).otherwise(0)).as("failed_count"),
        max(col("k")).as("max_k"))
      .withColumn("success_rate", Windows.pct(col("success_count"), col("txn_count")))
      .orderBy(col("window_start"), col("event_type"))
  }

  val q15Sql: String = {
    val from = Windows.duckSlidingFrom(
      """(SELECT *,
        |  coalesce(CAST(json_extract_string(props, '$.k') AS INT), 0) AS k,
        |  (coalesce(CAST(json_extract_string(props, '$.k') AS INT), 0) % 10 <> 0) AS is_success
        | FROM events)""".stripMargin, "ts", WidthSec, SlideSec)
    s"""SELECT window_start, window_end, event_type,
       |  count(*) AS txn_count,
       |  floor((floor((sum(coalesce(value, 0.0))) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS total_value,
       |  floor((floor((avg(coalesce(value, 0.0))) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS avg_value,
       |  CAST(sum(CASE WHEN is_success THEN 1 ELSE 0 END) AS BIGINT) AS success_count,
       |  CAST(sum(CASE WHEN NOT is_success THEN 1 ELSE 0 END) AS BIGINT) AS failed_count,
       |  max(k) AS max_k,
       |  CASE WHEN count(*) > 0
       |    THEN floor((floor((sum(CASE WHEN is_success THEN 1 ELSE 0 END)::DOUBLE
       |      / count(*) * 100) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 END AS success_rate
       |FROM $from w
       |GROUP BY window_start, window_end, event_type
       |ORDER BY window_start, event_type""".stripMargin
  }

  /** q16: exact dedup by event_id then aggregate — the reference's D1
    * (dropDuplicates on event_id, stream_processor.py:138-139) in batch
    * form. */
  def q16DedupExact(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        countDistinct(col("user_id")).as("unique_users"),
        Num.r(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))

  val q16Sql: String =
    """SELECT event_type, count(*) AS event_count,
      |  count(DISTINCT user_id) AS unique_users,
      |  floor((floor((sum(value)) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS total_value
      |FROM (SELECT * FROM events
      |      QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts) = 1)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q17: session windows — per-user sessionization with a 30-minute
    * gap (engine extension; SURVEY §2.7 W2). Spark's session_window is
    * verified against a gaps-and-islands SQL oracle. */
  def q17Session(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("session_count"),
        max(col("events_in_session")).as("max_session_events"),
        sum(col("events_in_session")).as("total_events"))
      .orderBy(col("user_id"))

  val q17Sql: String =
    """WITH marks AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |           OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |sessions AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marks),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS events_in_session
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT user_id, count(*) AS session_count,
      |  max(events_in_session) AS max_session_events,
      |  CAST(sum(events_in_session) AS BIGINT) AS total_events
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q18: tumbling daily rollup (W2) — the downstream dashboard
    * regroup pattern (init_metrics.sql:199-223). */
  def q18Tumbling(spark: SparkSession, dir: String): DataFrame = {
    val win = Windows.withTumblingWindow(events(spark, dir), "ts", "1 day")
    win.groupBy(col("window_start"))
      .agg(count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("unique_users"),
        Num.r(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))), 2).as("daily_gmv"))
      .orderBy(col("window_start"))
  }

  val q18Sql: String = {
    val from = Windows.duckTumblingFrom("events", "ts", 86400L)
    s"""SELECT window_start,
       |  count(*) AS total_events,
       |  count(DISTINCT user_id) AS unique_users,
       |  floor((floor((sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)) * 1000000 + 0.5) / 1000000) * 100 + 0.5) / 100 AS daily_gmv
       |FROM $from w
       |GROUP BY window_start
       |ORDER BY window_start""".stripMargin
  }

  /** q19: approximate distinct (A2 — approx_count_distinct, HLL++).
    * DuckDB's HLL register layout differs, so the sketch ESTIMATE is
    * not oracle-matchable — but its error bound is: the output carries
    * the exact twin (hash-checked) plus `within_bound`, the assertion
    * |approx − exact| ≤ 3·rsd·exact (rsd = 0.05, Spark's default).
    * A sketch regression flips `within_bound` to false and fails the
    * hash match; exact-twin drift fails it directly. This replaces the
    * retired golden-hash pin with a check that runs at every SF. */
  def q19ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.15)).as("within_bound"))
      .orderBy(col("event_type"))

  val q19Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_bound
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q32: as-of join — for each purchase, the user's most recent view
    * at-or-before it, within 1 hour (operators.AsOfJoin: union +
    * last-over-window; verified against DuckDB's native ASOF JOIN). */
  def q32AsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
    val views = ev.filter(col("event_type") === "view")
    graft.operators.AsOfJoin.asOf(
      purchases, views, "user_id", "ts", "ts",
      leftCols = Seq("value"), rightCols = Seq("value"),
      toleranceSec = Some(3600))
      .select(
        col("user_id"),
        unix_timestamp(col("ts")).as("purchase_ts"),
        col("asof_ts").isNotNull.as("has_prior_view"),
        when(col("asof_ts").isNotNull,
          unix_timestamp(col("ts")) - unix_timestamp(col("asof_ts")))
          .as("gap_seconds"),
        Num.r(col("value"), 2).as("purchase_value"))
      .orderBy(col("user_id"), col("purchase_ts"))
  }

  val q32Sql: String =
    s"""WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
       |m AS (
       |  SELECT p.user_id, p.ts AS pts, p.value, v.ts AS vts
       |  FROM p ASOF LEFT JOIN v
       |    ON p.user_id = v.user_id AND v.ts <= p.ts)
       |SELECT user_id,
       |  CAST(floor(epoch(pts)) AS BIGINT) AS purchase_ts,
       |  (vts IS NOT NULL AND floor(epoch(pts)) - floor(epoch(vts)) <= 3600)
       |    AS has_prior_view,
       |  CASE WHEN vts IS NOT NULL AND floor(epoch(pts)) - floor(epoch(vts)) <= 3600
       |       THEN CAST(floor(epoch(pts)) - floor(epoch(vts)) AS BIGINT) END
       |    AS gap_seconds,
       |  ${Num.sqlR2("value")} AS purchase_value
       |FROM m
       |ORDER BY user_id, purchase_ts""".stripMargin

  /** q32b: the NATIVE as-of operator (plans.AsOfJoinPlan — custom
    * LogicalPlan/Strategy/SparkPlan) through the oracle gate. Same
    * shape as q32; tolerance compares at full (µs) precision, so the
    * oracle uses fractional epoch. */
  def q32bAsOfNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    graft.operators.AsOfJoin.asOfNative(
      purchases, views, "user_id", "ts", "ts",
      rightCols = Seq(), toleranceSec = Some(3600))
      .select(
        col("user_id"),
        unix_timestamp(col("ts")).as("purchase_ts"),
        col("asof_ts").isNotNull.as("has_prior_view"),
        when(col("asof_ts").isNotNull,
          unix_timestamp(col("ts")) - unix_timestamp(col("asof_ts")))
          .as("gap_seconds"),
        Num.r(col("value"), 2).as("purchase_value"))
      .orderBy(col("user_id"), col("purchase_ts"))
  }

  val q32bSql: String =
    s"""WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
       |m AS (
       |  SELECT p.user_id, p.ts AS pts, p.value, v.ts AS vts
       |  FROM p ASOF LEFT JOIN v
       |    ON p.user_id = v.user_id AND v.ts <= p.ts)
       |SELECT user_id,
       |  CAST(floor(epoch(pts)) AS BIGINT) AS purchase_ts,
       |  (vts IS NOT NULL AND epoch(pts) - epoch(vts) <= 3600.0)
       |    AS has_prior_view,
       |  CASE WHEN vts IS NOT NULL AND epoch(pts) - epoch(vts) <= 3600.0
       |       THEN CAST(floor(epoch(pts)) - floor(epoch(vts)) AS BIGINT) END
       |    AS gap_seconds,
       |  ${Num.sqlR2("value")} AS purchase_value
       |FROM m
       |ORDER BY user_id, purchase_ts""".stripMargin

  /** q154: two-level mergeable-sketch rollup — the 100 TB distinct-
    * count pattern. Level 1 builds one DataSketches HLL sketch of
    * user_id per (event_type, day) cell (`hll_sketch_agg`, the
    * store-this-in-your-metrics-lake granularity); level 2 UNIONS the
    * daily sketches per event_type (`hll_union_agg`) — the
    * re-aggregation exact distincts cannot do (per-day exact counts
    * don't add). Correctness gate follows the q19 graduation pattern:
    * the exact twin is hash-checked and the sketch estimate is
    * asserted within its published error (lgK=14 ⇒ rse ≈ 1.04/√2¹⁴ ≈
    * 0.8%; bound 5% ≈ 6σ) via `within_bound` — a register-merge
    * regression flips the bit at any SF. */
  def q154SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
    val rolled = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("day_cells"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, "event_type")
      .select(col("event_type"), col("day_cells"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_bound"))
      .orderBy(col("event_type"))
  }

  val q154Sql: String =
    """SELECT event_type,
      |  count(DISTINCT CAST(ts AS DATE)) AS day_cells,
      |  count(DISTINCT user_id) AS exact_users,
      |  TRUE AS within_bound
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q161: SLIDING-window distinct users (trailing 7 days per day) by
    * HLL re-aggregation — the query shape where sketches beat exact
    * partials structurally: exact distinct cannot slide (per-day
    * exact counts don't merge), so the exact form re-reads 7 days of
    * raw events per output day, while the sketch form unions 7
    * PRE-BUILT daily sketches — at 100 TB the window pass touches
    * only (days × 7) sketch rows of bounded size. Each daily sketch
    * is exploded to the ≤7 windows it serves (shuffle carries
    * sketches, not events) and union-merged per target day.
    * Gate: q19/q154 pattern — exact twin hash-checked, estimate
    * asserted within bound. */
  def q161SlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
    val rolled = daily
      .select(col("day"), col("sk"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(date_add(col("day"), col("off")).as("day"), col("sk"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("window_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    // exact twin: each (eday, user) serves the ≤7 target days
    // [eday, eday+6] — offset-explode to an EQUI join on the day key
    // (semi vs existing days), never a datediff range BNLJ; the
    // pre-distinct bounds the explode at 7·|distinct (day, user)|.
    // The oracle keeps the naive BETWEEN form — the equality proves
    // the rewrite (the q119 bucketing contract).
    val exact = ev.select(to_date(col("ts")).as("eday"), col("user_id"))
      .distinct()
      .select(col("user_id"), col("eday"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(col("user_id"), date_add(col("eday"), col("off")).as("day"))
      .join(broadcast(daily.select(col("day"))), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    rolled.join(exact, "day")
      .select(col("day"), col("window_days"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_bound"))
      .orderBy(col("day"))
  }

  val q161Sql: String =
    """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |e AS (SELECT CAST(ts AS DATE) AS eday, user_id FROM events)
      |SELECT d.day, count(DISTINCT e.eday) AS window_days,
      |  count(DISTINCT e.user_id) AS exact_users,
      |  TRUE AS within_bound
      |FROM days d JOIN e ON e.eday BETWEEN d.day - 6 AND d.day
      |GROUP BY d.day
      |ORDER BY d.day""".stripMargin

  /** q162: sliding-window p95 purchase value per day via MERGEABLE
    * fixed-bin histograms — the latency/value-dashboard companion of
    * q161: exact percentiles don't merge across windows any more than
    * exact distincts do, but per-day bin-count histograms merge by
    * addition, so the 7-day window pass touches (days × bins) count
    * rows, never raw events. The p95 read-off is integer-exact end to
    * end (bin = ⌊value/10⌋; threshold 20·cum ≥ 19·total avoids 0.95
    * float math), so the oracle hash-matches EXACTLY — no tolerance
    * row needed. The per-day cumulative window is day-partitioned
    * (≤ #bins rows per group). */
  def q162SlidingP95(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val BinW = 10
    val pv = events(spark, dir).filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"),
        floor(col("value") / BinW).cast("long").as("bin"))
    val dayBins = pv.groupBy(col("day"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val anchors = pv.select(col("day")).distinct()
    val merged = dayBins
      .select(col("day"), col("bin"), col("c"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(date_add(col("day"), col("off")).as("day"), col("bin"), col("c"))
      .join(broadcast(anchors), Seq("day"))
      .groupBy(col("day"), col("bin")).agg(sum(col("c")).as("c"))
    val byDay = Window.partitionBy(col("day"))
    val cum = merged
      .withColumn("cum", sum(col("c")).over(byDay.orderBy(col("bin"))))
      .withColumn("total", sum(col("c")).over(byDay))
    cum.filter(col("cum") * 20 >= col("total") * 19)
      .groupBy(col("day"))
      .agg(max(col("total")).as("n_purchases"),
        ((min(col("bin")) + 1) * BinW).as("p95_le"))
      .orderBy(col("day"))
  }

  val q162Sql: String =
    """WITH pv AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(floor(value / 10) AS BIGINT) AS bin
      |  FROM events WHERE event_type = 'purchase'),
      |db AS (SELECT day, bin, count(*) AS c FROM pv GROUP BY 1, 2),
      |anchors AS (SELECT DISTINCT day FROM pv),
      |merged AS (
      |  SELECT a.day, db.bin, sum(db.c) AS c
      |  FROM db JOIN anchors a
      |    ON a.day BETWEEN db.day AND db.day + 6
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT day, bin, c,
      |    sum(c) OVER (PARTITION BY day ORDER BY bin) AS cum,
      |    sum(c) OVER (PARTITION BY day) AS total
      |  FROM merged)
      |SELECT day, CAST(max(total) AS BIGINT) AS n_purchases,
      |  (min(bin) + 1) * 10 AS p95_le
      |FROM cum WHERE cum * 20 >= total * 19
      |GROUP BY day ORDER BY day""".stripMargin

  /** q165: week-over-week growth per event type — the dashboard
    * delta metric. Comparison is CALENDAR-anchored (self-join of the
    * daily aggregate on day − 7), not `lag(7)` over row positions,
    * which silently misreports across gaps in the day series. Both
    * sides of the join are the already-aggregated daily frame —
    * (types × days) rows at any corpus scale. */
  def q165WowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val prev = daily.select(col("event_type").as("prev_type"),
      col("day").as("prev_day"), col("n").as("n_prev"))
    daily.join(prev,
        col("event_type") === col("prev_type") &&
          date_sub(col("day"), 7) === col("prev_day"), "left")
      .select(col("event_type"), col("day"), col("n"),
        when(col("n_prev") > 0,
          Num.r4((col("n") - col("n_prev")) * lit(100.0) / col("n_prev")))
          .as("wow_pct"))
      .orderBy(col("event_type"), col("day"))
  }

  val q165Sql: String =
    s"""WITH d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
       |  FROM events GROUP BY 1, 2)
       |SELECT a.event_type, a.day, a.n,
       |  CASE WHEN b.n > 0
       |    THEN ${Num.sqlR4("(a.n - b.n) * 100.0 / b.n")} END AS wow_pct
       |FROM d a LEFT JOIN d b
       |  ON a.event_type = b.event_type AND b.day = a.day - 7
       |ORDER BY a.event_type, a.day""".stripMargin

  /** q190: Avro wire-format round trip over the whole events table —
    * every row serialized to real Avro binary (plans/AvroExpressions,
    * the reference's avro_schemas.py transport with Confluent framing)
    * and decoded back; the oracle is the PLAIN projection, so the hash
    * equality proves encode∘decode = id on live data, field classes
    * long/string/double/timestamp included. The fixed wire StructType
    * pins the on-wire union layout independent of inferred
    * nullability. */
  private val q190WireSt = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("props",
      org.apache.spark.sql.types.StringType, nullable = true),
    // Tables.load's TIMESTAMP(NANOS) conversion yields NTZ
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampNTZType, nullable = true)))

  def q190AvroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.AvroExpressions.{avro_decode, avro_encode}
    val cols = q190WireSt.fieldNames.toSeq
    events(spark, dir)
      .select(avro_encode(struct(cols.map(col): _*), "EventRecord",
        "graft.events", schemaId = 1, wireSchema = Some(q190WireSt)).as("p"))
      .select(avro_decode(col("p"), q190WireSt, "EventRecord",
        "graft.events", schemaId = 1).as("r"))
      .select(cols.map(n => col(s"r.$n").as(n)): _*)
      .orderBy(col("event_id"))
  }

  val q190Sql: String =
    """SELECT event_id, user_id, event_type, value, props, ts
      |FROM events ORDER BY event_id""".stripMargin

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q190_avro_roundtrip" -> (q190AvroRoundtrip _),
    "q12_funnel" -> (q12Funnel _),
    "q13_gmv" -> (q13Gmv _),
    "q14_dropoff" -> (q14DropOff _),
    "q15_payment" -> (q15Payment _),
    "q16_dedup_exact" -> (q16DedupExact _),
    "q17_session" -> (q17Session _),
    "q18_tumbling" -> (q18Tumbling _),
    "q19_approx_distinct" -> (q19ApproxDistinct _),
    "q32_asof" -> (q32AsOf _),
    "q32b_asof_native" -> (q32bAsOfNative _),
    "q154_sketch_rollup" -> (q154SketchRollup _),
    "q161_sliding_distinct" -> (q161SlidingDistinct _),
    "q162_sliding_p95" -> (q162SlidingP95 _),
    "q165_wow_growth" -> (q165WowGrowth _))

  def oracles: Map[String, String] = Map(
    "q190_avro_roundtrip" -> q190Sql,
    "q12_funnel" -> q12Sql,
    "q13_gmv" -> q13Sql,
    "q14_dropoff" -> q14Sql,
    "q15_payment" -> q15Sql,
    "q16_dedup_exact" -> q16Sql,
    "q17_session" -> q17Sql,
    "q18_tumbling" -> q18Sql,
    "q19_approx_distinct" -> q19Sql,
    "q32_asof" -> q32Sql,
    "q32b_asof_native" -> q32bSql,
    "q154_sketch_rollup" -> q154Sql,
    "q161_sliding_distinct" -> q161Sql,
    "q162_sliding_p95" -> q162Sql,
    "q165_wow_growth" -> q165Sql)
}
