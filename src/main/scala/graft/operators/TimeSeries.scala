package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Time-series operators Spark has no first-class verb for, each built
  * as a single-shuffle composition of native operators (builder brief:
  * compose before custom plans):
  *
  *  - [[asofJoin]] — the classic "most recent right row at or before
  *    each left row" join. NOT a range self-join (which explodes to a
  *    cross product per key) and NOT a per-row subquery: both sides are
  *    tagged and unioned, shuffled ONCE on the key, and the right
  *    payload is carried forward with `last(ignoreNulls)` over a
  *    (key, time)-sorted window. One shuffle, no candidate blowup,
  *    partitioned by key — the 100 TB shape.
  *  - [[gapFillMinutes]] — dense per-minute series with zero-filled
  *    gaps: per-key spans from a tiny aggregate, minute spines via
  *    `sequence` + `explode`, left join back. The spine is generated
  *    distributed (one row per key going in), never on the driver.
  *  - [[rollingSum]] — event-time rolling aggregate via a RANGE frame
  *    over epoch micros, partitioned by key. Sums run in DECIMAL so
  *    the result is order-independent and engine-exact.
  */
object TimeSeries {

  /** Rolling window width for [[rollingSum]]: 10 minutes in µs. */
  val RollingWindowMicros: Long = 600L * 1000000L

  /** As-of join: for each `left` row, attach the most recent `right`
    * row of the same `key` with `right(rightTs) <= left(leftTs)`
    * (inclusive). Right payload columns (everything but `key`) must
    * not collide with left column names. Among right rows sharing
    * (key, ts), the greatest `tieBreak` wins. Left rows with no prior
    * right row keep null payloads (LEFT-join semantics).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, tieBreak: String): DataFrame = {
    val payload = right.columns.filter(_ != key).toSeq
    val leftCols = left.columns.toSeq
    val nullOf: (DataFrame, String) => Column =
      (df, c) => lit(null).cast(df.schema(c).dataType)
    // tag + align the two sides on one schema: key, event time, side
    // (right sorts before left at equal time -> inclusive match),
    // right tiebreak, then both sides' columns with nulls opposite
    val l = left.select(
      col(key) +: col(leftTs).as("__ts") +: lit(1).as("__side") +:
        nullOf(right, tieBreak).as("__tb") +:
        (leftCols.filter(_ != key).map(col) ++
          payload.map(c => nullOf(right, c).as(c))): _*)
    val r = right.select(
      col(key) +: col(rightTs).as("__ts") +: lit(0).as("__side") +:
        col(tieBreak).as("__tb") +:
        (leftCols.filter(_ != key).map(c => nullOf(left, c).as(c)) ++
          payload.map(col)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__tb").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r)
      .select(col(key) +: col("__side") +: leftCols.filter(_ != key).map(col) ++:
        payload.map(c => last(col(c), ignoreNulls = true).over(w).as(c)): _*)
    filled.filter(col("__side") === 1).drop("__side")
      .select(leftCols.map(col) ++ payload.map(col): _*)
  }

  /** Interval (range) join: all (left, right) pairs of the same `key`
    * with `right ts ∈ [left ts − window, left ts]`, both ends
    * inclusive. A naive theta-join explodes into a per-key cross
    * product; instead both sides are binned into window-width time
    * buckets and the RIGHT side is replicated into its own bucket and
    * the next one (every interval of length `window` spans at most two
    * bins), turning the range predicate into an equi-join on
    * (key, bucket) plus a residual filter. Two shuffles, candidate set
    * bounded by bucket width — the canonical distributed range-join
    * shape. Left rows with no match survive (LEFT semantics) because
    * each left row sits in exactly one bucket (never replicated, so no
    * duplicate unmatched rows).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowMicros: Long): DataFrame = {
    // integer `div`, NOT Column./ — that one promotes to double, and a
    // 53-bit mantissa can mis-bucket epoch values near a bin boundary
    // for small window widths
    def bucket(c: String) =
      expr(s"unix_micros(CAST($c AS TIMESTAMP)) div ${windowMicros}L")
    val l = left.withColumn("__lbucket", bucket(leftTs))
    val r = right.withColumnRenamed(key, "__rkey")
      .withColumn("__rbucket", explode(array(bucket(rightTs), bucket(rightTs) + 1)))
    l.join(r,
        col(key) === col("__rkey") && col("__lbucket") === col("__rbucket") &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowMicros MICROSECONDS") &&
          col(rightTs) <= col(leftTs),
        "left_outer")
      .drop("__lbucket", "__rbucket", "__rkey")
  }

  /** Per-cell candidate cap for [[intervalJoinCapped]] as surfaced by
    * the cohort query (small enough to BIND at sf0.01, so the oracle
    * actually checks the cap semantics, not just the join).
    */
  val IntervalCellCap: Int = 5

  /** Saturation-capped interval join — [[intervalJoin]] with its one
    * residual quadratic hazard bounded. The bucketed equi-join caps
    * the candidate set per (key, bucket) CELL, but a hot key over a
    * dense right side inside one cell is still |L∩cell|×|R∩cell|; at
    * 100 TB one degenerate cell can own a task. This variant keeps at
    * most `cap` right rows per cell — deterministically the LATEST by
    * (rightTs, tieBreak) descending, i.e. the rows closest to the
    * probes that can see them — before joining. The rank window is
    * partitioned by the (key, bucket) cell itself, so its input is
    * exactly the cell being bounded (same guard class as Dedup's
    * `MaxBandBucket`). Results are EXACT whenever no cell exceeds
    * `cap`; a saturated cell under-counts by construction, never
    * over-counts, and never blows a task.
    */
  def intervalJoinCapped(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, tieBreak: String,
      windowMicros: Long, cap: Int): DataFrame = {
    def bucket(c: String) =
      expr(s"unix_micros(CAST($c AS TIMESTAMP)) div ${windowMicros}L")
    val l = left.withColumn("__lbucket", bucket(leftTs))
    val r = right.withColumnRenamed(key, "__rkey")
      .withColumn("__rbucket", explode(array(bucket(rightTs), bucket(rightTs) + 1)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__rkey"), col("__rbucket"))
          .orderBy(col(rightTs).desc, col(tieBreak).desc)))
      .filter(col("__rn") <= cap)
      .drop("__rn")
    l.join(r,
        col(key) === col("__rkey") && col("__lbucket") === col("__rbucket") &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $windowMicros MICROSECONDS") &&
          col(rightTs) <= col(leftTs),
        "left_outer")
      .drop("__lbucket", "__rbucket", "__rkey")
  }

  /** Capped interval join surfaced at COHORT grain (user_id % 10):
    * clicks by anyone in an error's cohort in the preceding 10
    * minutes, with each (cohort, bucket) cell saturation-capped at
    * [[IntervalCellCap]]. The coarse key makes cells dense enough
    * that the cap bites at sf0.01 — the oracle replays the identical
    * per-cell latest-N election, so the guard itself is checked.
    */
  def cohortClicksBeforeError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id", ($"user_id" % 10).as("cohort"), $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select(($"user_id" % 10).as("cohort"), $"event_id".as("cid"), $"ts".as("cts"))
    intervalJoinCapped(errors, clicks, "cohort", "ts", "cts", "cid",
        RollingWindowMicros, IntervalCellCap)
      .groupBy($"event_id", $"cohort", $"ts")
      .agg(count($"cts").as("n_clicks_10m_capped"))
      .orderBy($"event_id")
  }

  /** For each error event, how many clicks the same user made in the
    * preceding 10 minutes (inclusive) — the interval-join aggregate.
    */
  def clicksBeforeError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("cts"))
    intervalJoin(errors, clicks, "user_id", "ts", "cts", RollingWindowMicros)
      .groupBy($"event_id", $"user_id", $"ts")
      .agg(count($"cts").as("n_clicks_10m"))
      .orderBy($"event_id")
  }

  /** For each error event, the user's most recent click at or before
    * it — the canonical attribution as-of.
    */
  /** FORWARD as-of join: each left row picks the EARLIEST right row
    * with `rightTs >= leftTs` (next-event semantics — time-to-
    * resolution, next-heartbeat, next-fill). Mirror of [[asofJoin]]:
    * same tagged union and ONE shuffle on the key, but left sorts
    * BEFORE right at equal times (inclusive match) and the payload
    * fill is `first(ignoreNulls)` over the FOLLOWING frame; ties among
    * equal right times break on ascending `tieBreak`.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, tieBreak: String): DataFrame = {
    val payload = right.columns.filter(_ != key).toSeq
    val leftCols = left.columns.toSeq
    val nullOf: (DataFrame, String) => Column =
      (df, c) => lit(null).cast(df.schema(c).dataType)
    val l = left.select(
      col(key) +: col(leftTs).as("__ts") +: lit(0).as("__side") +:
        nullOf(right, tieBreak).as("__tb") +:
        (leftCols.filter(_ != key).map(col) ++
          payload.map(c => nullOf(right, c).as(c))): _*)
    val r = right.select(
      col(key) +: col(rightTs).as("__ts") +: lit(1).as("__side") +:
        col(tieBreak).as("__tb") +:
        (leftCols.filter(_ != key).map(c => nullOf(left, c).as(c)) ++
          payload.map(col)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__side"), col("__tb").asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = l.unionByName(r)
      .select(col(key) +: col("__side") +: leftCols.filter(_ != key).map(col) ++:
        payload.map(c => first(col(c), ignoreNulls = true).over(w).as(c)): _*)
    filled.filter(col("__side") === 0).drop("__side")
      .select(leftCols.map(col) ++ payload.map(col): _*)
  }

  /** Forward as-of surfaced on events: every error's NEXT click at or
    * after it (the "did the user recover" probe).
    */
  def asofNextClick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("next_click_id"),
        $"ts".as("next_click_ts"))
    asofJoinForward(errors, clicks, "user_id", "ts", "next_click_ts", "next_click_id")
      .orderBy($"event_id")
  }

  def asofLastClick(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("last_click_id"),
        $"ts".as("last_click_ts"))
    asofJoin(errors, clicks, "user_id", "ts", "last_click_ts", "last_click_id")
      .orderBy($"event_id")
  }

  /** Dense per-(event_type, minute) counts with zero-filled gaps over
    * each type's observed span.
    */
  def gapFillMinutes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perMin = Tables.load(spark, dir, "events")
      .groupBy($"event_type", date_trunc("minute", $"ts").as("minute"))
      .agg(count(lit(1)).as("cnt"))
    // spans: one row per event type (tiny) -> the minute spine is
    // exploded from it in parallel, never materialised on the driver
    val spine = perMin
      .groupBy($"event_type")
      .agg(min($"minute").as("mn"), max($"minute").as("mx"))
      .select($"event_type",
        explode(sequence($"mn", $"mx", expr("interval 1 minute"))).as("minute"))
    spine
      .join(perMin, Seq("event_type", "minute"), "left")
      .select($"event_type", $"minute", coalesce($"cnt", lit(0L)).as("cnt"))
      .orderBy($"event_type", $"minute")
  }

  /** Per-user event-time rolling sum of `value` over the trailing
    * 10 minutes (RANGE frame on epoch micros — event time, not row
    * count, so irregular event spacing is handled exactly).
    */
  def rollingSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts".cast("timestamp")))
      .rangeBetween(-RollingWindowMicros, 0)
    Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"ts", $"value")
      .withColumn("roll_10m",
        sum($"value".cast("decimal(18,2)")).over(w).cast("double"))
      .orderBy($"event_id")
  }

  /** SCD2 (slowly-changing-dimension) enrichment — the warehouse verb
    * behind "join each fact to the dimension VERSION that was valid at
    * event time": customer versions carry a `valid_from`, and each
    * event picks the latest version with `valid_from <= ts` via the
    * SAME one-shuffle as-of machinery as [[asofJoin]] (an SCD2 validity
    * table partitions time per key, so as-of ≡ between-validity). The
    * version table is synthesized deterministically (3 versions per
    * customer, spacing and segment derived from c_custkey) so the
    * DuckDB oracle rebuilds it and replays the join with its native
    * ASOF LEFT JOIN — cross-checking our union+last(ignoreNulls)
    * implementation against an independent engine's as-of semantics.
    */
  def scd2Enrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val versions = Tables.load(spark, dir, "customer")
      .select($"c_custkey".as("user_id"),
        explode(expr("sequence(0, 2)")).as("version"))
      .select($"user_id", $"version".cast("long").as("version"))
      .withColumn("valid_from", expr(
        """CAST('2024-01-01 00:00:00' AS TIMESTAMP_NTZ)
          |  + make_interval(0, 0, 0, CAST(version * (user_id % 30 + 10) AS INT), 0, 0, 0)""".stripMargin))
      .withColumn("segment", expr("concat('seg', CAST((user_id + version) % 5 AS STRING))"))
    val events = Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"ts")
    asofJoin(events, versions, "user_id", "ts", "valid_from", "version")
      .select($"event_id", $"user_id", $"segment", $"version")
      .orderBy($"event_id")
  }

  /** OHLC resampling — the downsampling verb every time-series store
    * ships (candles for dashboards, minute→hour compaction for
    * retention): per (event_type, hour) the opening / highest / lowest
    * / closing value plus volume and total. The cells are the streaming
    * operator's, [[graft.streaming.EventStreams.ohlcCandles]], over the
    * bounded table (the analyzer drops `withWatermark` on a batch
    * frame), so live and backfilled candles agree by construction; `ts`
    * is cast to TIMESTAMP first, so the hour is `unix_micros(ts) div
    * 3600000000`, as the oracle computes it. An event with a null `ts`
    * falls in no window and forms no cell, as in the stream.
    */
  def ohlcHourly(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.ohlcCandles(Tables.load(spark, dir, "events")
        .withColumn("ts", col("ts").cast("timestamp")))
      .select(col("event_type"),
        expr("unix_micros(window.start) div 3600000000").as("hour"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"), col("volume"), col("total_cents"))
      .orderBy(col("event_type"), col("hour"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scd2_join" -> scd2Enrich _,
    "q_ohlc" -> ohlcHourly _,
    "q_asof_join" -> asofLastClick _,
    "q_asof_forward" -> asofNextClick _,
    "q_interval_join" -> clicksBeforeError _,
    "q_interval_capped" -> cohortClicksBeforeError _,
    "q_gapfill" -> gapFillMinutes _,
    "q_rolling_sum" -> rollingSum _,
  )

  val oracle: Map[String, String] = Map(
    "q_scd2_join" ->
      """WITH v AS (
        |  SELECT c_custkey AS user_id,
        |         CAST(ver AS BIGINT) AS version,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + to_days(CAST(ver * (c_custkey % 30 + 10) AS INT)) AS valid_from,
        |         'seg' || CAST((c_custkey + ver) % 5 AS VARCHAR) AS segment
        |  FROM customer
        |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS ver) t)
        |SELECT e.event_id, e.user_id, v.segment, v.version
        |FROM events e ASOF LEFT JOIN v
        |  ON e.user_id = v.user_id AND v.valid_from <= e.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_ohlc" ->
      """WITH b AS (
        |  SELECT event_type,
        |         epoch_us(ts) // 3600000000 AS hour,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
        |           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
        |  FROM events)
        |SELECT event_type, hour,
        |       min_by(cents, ok) AS open_cents,
        |       max(cents) AS high_cents,
        |       min(cents) AS low_cents,
        |       max_by(cents, ok) AS close_cents,
        |       count(*) AS volume,
        |       CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM b GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin,
    "q_asof_forward" ->
      """WITH err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |clk AS (
        |  SELECT user_id, event_id AS next_click_id, ts AS next_click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT e.event_id, e.user_id, e.ts, c.next_click_id, c.next_click_ts
        |FROM err e ASOF LEFT JOIN clk c
        |  ON e.user_id = c.user_id AND e.ts <= c.next_click_ts
        |ORDER BY e.event_id""".stripMargin,
    "q_asof_join" ->
      """WITH err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |clk AS (
        |  SELECT user_id, event_id AS last_click_id, ts AS last_click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT e.event_id, e.user_id, e.ts, c.last_click_id, c.last_click_ts
        |FROM err e ASOF LEFT JOIN clk c
        |  ON e.user_id = c.user_id AND e.ts >= c.last_click_ts
        |ORDER BY e.event_id""".stripMargin,
    "q_interval_capped" ->
      """WITH err AS (
        |  SELECT event_id, user_id % 10 AS cohort, ts,
        |         epoch_us(ts) // 600000000 AS lb
        |  FROM events WHERE event_type = 'error'),
        |clk AS (
        |  SELECT user_id % 10 AS cohort, event_id AS cid, ts AS cts,
        |         epoch_us(ts) // 600000000 AS b
        |  FROM events WHERE event_type = 'click'),
        |repl AS (
        |  SELECT cohort, cid, cts, unnest([b, b + 1]) AS rb FROM clk),
        |capped AS (
        |  SELECT cohort, cid, cts, rb FROM (
        |    SELECT cohort, cid, cts, rb,
        |           row_number() OVER (PARTITION BY cohort, rb
        |                              ORDER BY cts DESC, cid DESC) AS rn
        |    FROM repl) WHERE rn <= 5)
        |SELECT e.event_id, e.cohort, e.ts,
        |       count(c.cts) AS n_clicks_10m_capped
        |FROM err e LEFT JOIN capped c
        |  ON e.cohort = c.cohort AND e.lb = c.rb
        | AND c.cts BETWEEN e.ts - INTERVAL 10 MINUTE AND e.ts
        |GROUP BY 1, 2, 3 ORDER BY e.event_id""".stripMargin,
    "q_interval_join" ->
      """WITH err AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |clk AS (
        |  SELECT user_id, ts AS cts FROM events WHERE event_type = 'click')
        |SELECT e.event_id, e.user_id, e.ts, count(c.cts) AS n_clicks_10m
        |FROM err e LEFT JOIN clk c
        |  ON e.user_id = c.user_id
        | AND c.cts BETWEEN e.ts - INTERVAL 10 MINUTE AND e.ts
        |GROUP BY 1, 2, 3 ORDER BY e.event_id""".stripMargin,
    "q_gapfill" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(minute) AS mn, max(minute) AS mx
        |  FROM per_min GROUP BY 1),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS minute
        |  FROM spans)
        |SELECT s.event_type, s.minute, coalesce(p.cnt, 0) AS cnt
        |FROM spine s LEFT JOIN per_min p
        |  ON s.event_type = p.event_type AND s.minute = p.minute
        |ORDER BY s.event_type, s.minute""".stripMargin,
    "q_rolling_sum" ->
      """SELECT event_id, user_id, ts, value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts)
        |         RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll_10m
        |FROM events ORDER BY event_id""".stripMargin,
  )
}
