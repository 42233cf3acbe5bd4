"""Event-stream analytics over the ``events`` table.

The reference's monitoring loop is an unbounded periodic metrics source with
sliding-window aggregation and retention watermarks (SURVEY.md §2.9 T1-T3;
performance_monitor.py:66-90, monitoring_service.py:82-106). Here those
semantics run as batch plans over the events table — the identical
DataFrame code runs under Structured Streaming (readStream + window() +
withWatermark) because only time-window groupBys and stateless projections
are used.

No wall clock: the watermark anchor is MAX(ts) in the data, not now().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from job_crawler_spark.functions.compat import stable_round, stable_round_sql

SESSION_GAP_MIN = 30
RETENTION_DAYS = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: tumbling 1-hour windows per event type (top 50 busiest hours,
    deterministic tiebreak)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.col("n").desc(), F.col("hour").asc(), F.col("event_type").asc())
        .limit(50)
    )


Q_HOURLY_SQL = f"""
    SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
           {stable_round_sql('SUM(value)', 2)} AS total_value
    FROM events GROUP BY 1, 2
    ORDER BY n DESC, hour ASC, event_type ASC LIMIT 50
"""


def q_retention_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: retention watermark — events older than MAX(ts) - 30d are
    expirable. Watermark via scalar-agg broadcast join (no driver round trip;
    at scale the max(ts) side is one row, broadcast for free)."""
    ev = _events(spark, sf_dir)
    wm = ev.agg(
        (F.max("ts") - F.expr(f"INTERVAL {RETENTION_DAYS} DAYS")).alias("wm")
    )
    return (
        ev.crossJoin(F.broadcast(wm))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("wm"), 1).otherwise(0)).alias(
                "expirable"
            ),
            F.sum(F.when(F.col("ts") >= F.col("wm"), 1).otherwise(0)).alias(
                "retained"
            ),
        )
        .orderBy("event_type")
    )


Q_RETENTION_SQL = f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL {RETENTION_DAYS} DAY AS wm FROM events)
    SELECT event_type,
           CAST(SUM(CASE WHEN ts < wm THEN 1 ELSE 0 END) AS BIGINT) AS expirable,
           CAST(SUM(CASE WHEN ts >= wm THEN 1 ELSE 0 END) AS BIGINT) AS retained
    FROM events, wm GROUP BY event_type ORDER BY event_type
"""


def q_daily_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/T3 composition: per-day error rate with zero-guard (the
    reference's api error-rate threshold math, performance_monitor.py:80)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
        .withColumn(
            "error_rate",
            F.when(
                F.col("n_events") > 0,
                stable_round(F.col("n_errors") / F.col("n_events"), 6),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy("day")
    )


Q_DAILY_ERROR_SQL = f"""
    SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CASE WHEN COUNT(*) > 0 THEN
             {stable_round_sql(
                 "SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
                 " / CAST(COUNT(*) AS DOUBLE)", 6)}
           ELSE 0.0 END AS error_rate
    FROM events GROUP BY 1 ORDER BY day
"""


def q_error_rate_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window aggregate — the time-valued sliding frame no
    other gated query exercises (hourly_event_counts is a tumbling/
    sliding groupBy window; user_sessions uses ROWS frames): a trailing
    7-day moving average of the daily error rate. The frame is
    ``RANGE BETWEEN 6 PRECEDING AND CURRENT ROW`` over the epoch-day
    NUMBER (Spark's rangeBetween needs a numeric order key; whole days
    make it equivalent to DuckDB's ``RANGE BETWEEN INTERVAL 6 DAY
    PRECEDING``), so gap days would shrink the window rather than slide
    over rows — the semantic difference from a ROWS frame. The moving
    rate divides the two window-summed INTEGER counts once (exact
    arithmetic, no order-dependent float accumulation); ma7_days exposes
    the short leading frames honestly. The unpartitioned window is
    scale-safe because its input is the DAILY rollup — cardinality is
    bounded by calendar days, not data size, so the single-partition
    exchange moves one row per day regardless of corpus scale."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    day_num = F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01")))
    w = Window.orderBy(day_num).rangeBetween(-6, 0)
    return (
        daily.withColumn("ma7_events", F.sum("n_events").over(w))
        .withColumn("ma7_errors", F.sum("n_errors").over(w))
        .withColumn("ma7_days", F.count(F.lit(1)).over(w))
        .withColumn(
            "ma7_error_rate",
            stable_round(F.col("ma7_errors") / F.col("ma7_events"), 6),
        )
        .orderBy("day")
    )


Q_ERROR_RATE_MA7_SQL = f"""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS n_errors
      FROM events GROUP BY 1
    )
    SELECT day, n_events, CAST(n_errors AS BIGINT) AS n_errors,
           CAST(SUM(n_events) OVER w AS BIGINT) AS ma7_events,
           CAST(SUM(n_errors) OVER w AS BIGINT) AS ma7_errors,
           CAST(COUNT(*) OVER w AS BIGINT) AS ma7_days,
           {stable_round_sql(
               "SUM(n_errors) OVER w / CAST(SUM(n_events) OVER w AS DOUBLE)",
               6)} AS ma7_error_rate
    FROM d
    WINDOW w AS (ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    ORDER BY day
"""


EWMA_ALPHA_LOG2 = 1  # alpha = 2^-1 = 0.5 — see exactness argument below


def q_daily_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily event count —
    the exponential-decay smoother (Hunter 1986, the EWMA control
    chart; Holt's level term) complementing `error_rate_ma7`'s
    rectangular RANGE frame: recency-weighted, infinite-memory,
    the standard operational-monitoring baseline. Recursion
    s_1 = x_1, s_t = a*x_t + (1-a)*s_{t-1} with a = 0.5.

    BIT-EXACT cross-engine contract, no stable_round needed: with
    a = 1/2 the closed form is s_t = a * S_t + (1-a)^t * x_1 where
    S_t = (sum_{i<=t} x_i * 2^i) * 2^-t. Every term x_i * 2^i is an
    exact integer-valued double (daily counts < 2^20, t bounded by
    calendar days), every partial sum stays below 2^53 and is
    therefore EXACT regardless of association order, and the final
    scalings are powers of two (exact). Both engines evaluate the
    identical correctly-rounded expression tree on identical operands,
    so the hash gate compares raw doubles. `dev` (today's count minus
    yesterday's smoothed level — the EWMA control-chart residual) is
    0.0 by contract on the first day.

    Scale shape: the corpus collapses to the daily rollup first (one
    map-side-combinable aggregate); the running window is
    single-partition but calendar-bounded — one row per day regardless
    of corpus size (the error_rate_ma7 argument). Zero Python.

    Operating envelope (two distinct bounds; the tighter one governs):
    the ORDER-INDEPENDENCE of the partial sums — what makes the raw
    doubles gate-comparable across engines without a stable_round —
    requires every partial sum of x_i * 2^i to stay an exact integer
    below 2^53, i.e. t + log2(max_daily_count) <= ~52 (the largest term
    is bounded by 2^(t + log2 max_count)); the 2^t scaling itself only
    overflows a double much later, past t ~ 970 rows. Past the EXACTNESS
    bound the value is still a correct EWMA but its last ulps become
    association-order-dependent and the two engines' window-sum orders
    may diverge — chunk by epoch (re-base the exponent so
    t + log2(max_count) stays under 52 and carry the epoch boundary
    level — the recursion is associative over prefixes) or switch to the
    plain recursive form via a stateful pass. The gated contract sits
    well inside the exactness bound: a 30-day calendar with daily counts
    < 2^12 is ~42 bits against the 52-bit ceiling.
    """
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    wrun = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.orderBy("day")
    staged = daily.withColumn("t", F.row_number().over(wall)).withColumn(
        "term", F.col("n_events") * F.pow(F.lit(2.0), F.col("t"))
    )
    s_t = F.sum("term").over(wrun) * F.pow(F.lit(0.5), F.col("t"))
    x1 = F.first("n_events").over(wrun)
    ewma = F.lit(0.5) * s_t + F.pow(F.lit(0.5), F.col("t")) * x1
    out = (
        staged.withColumn("ewma", ewma)
        .withColumn(
            "dev",
            F.coalesce(
                F.col("n_events") - F.lag("ewma").over(wall), F.lit(0.0)
            ),
        )
        .select("day", "n_events", "ewma", "dev")
        .orderBy("day")
    )
    return out


Q_DAILY_EWMA_SQL = """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1
    ),
    r0 AS (
      SELECT day, n_events,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM d
    ),
    r AS (
      SELECT day, n_events, t,
             FIRST_VALUE(n_events) OVER (ORDER BY day) AS x1,
             SUM(n_events * POWER(2.0, t))
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ssum
      FROM r0
    ),
    e AS (
      SELECT day, n_events,
             0.5 * (ssum * POWER(0.5, t)) + POWER(0.5, t) * x1 AS ewma
      FROM r
    )
    SELECT day, n_events, ewma,
           COALESCE(n_events - LAG(ewma) OVER (ORDER BY day), 0.0) AS dev
    FROM e ORDER BY day
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — the wide-reshape operator class no other gated query
    exercises: one row per day, one BIGINT count column per event type.
    The pivot value list is EXPLICIT (``pivot(col, EVENT_TYPES)``), so
    Spark skips the eager distinct-values collection job it otherwise
    runs to discover the output schema — at 100 TB that pre-pass is a
    full extra scan, and an unpinned schema breaks downstream column
    contracts whenever a new type appears. The pivot compiles to one
    hash aggregate keyed on day (map-side partial per type), a single
    uniform shuffle; absent (day, type) cells are zero-filled. n_total
    cross-checks the five pivoted columns against the plain row count.
    The oracle is conditional aggregation — independent of any PIVOT
    syntax."""
    ev = _events(spark, sf_dir)
    wide = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )
    total = None
    for t in EVENT_TYPES:
        total = F.col(t) if total is None else total + F.col(t)
    return wide.withColumn("n_total", total).orderBy("day")


Q_DAILY_EVENT_PIVOT_SQL = """
    SELECT date_trunc('day', ts) AS day,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0)
                AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0)
                AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0)
                AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0)
                AS BIGINT) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0)
                AS BIGINT) AS view,
           COUNT(*) AS n_total
    FROM events GROUP BY 1 ORDER BY day
"""


def q_daily_event_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse reshape of daily_event_pivot, and the
    idiomatic Spark form of time-series DENSIFICATION: pivot to the wide
    day-per-row form (absent cells zero-filled), then ``unpivot`` back to
    long (day, event_type, n). The round trip is not a no-op — the long
    output materializes a row for every (day, type) cell including
    zero-count ones, the dense grid downstream models and charting
    pipelines need (a plain groupBy omits absent combinations). The
    oracle builds the same grid the relational way — distinct days CROSS
    JOIN the type list LEFT JOIN the counts — so the densification
    semantics are cross-checked through an independent formulation, not
    mirrored syntax. Same two uniform aggregation shuffles as the pivot;
    the unpivot itself is a narrow per-row expansion (x5, no shuffle)."""
    ev = _events(spark, sf_dir)
    wide = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )
    return (
        wide.unpivot("day", EVENT_TYPES, "event_type", "n")
        .orderBy("day", "event_type")
    )


Q_DAILY_EVENT_GRID_SQL = """
    WITH d AS (
      SELECT DISTINCT date_trunc('day', ts) AS day FROM events
    ),
    t AS (
      SELECT unnest(['click', 'error', 'purchase', 'signup', 'view'])
                 AS event_type
    ),
    c AS (
      SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.day, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM d CROSS JOIN t
    LEFT JOIN c ON c.day = d.day AND c.event_type = t.event_type
    ORDER BY d.day, t.event_type
"""


def q_hourly_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with last-observation-carried-forward (LOCF) — the
    time-series repair op every metrics/feature pipeline needs and no
    other gated query exercises: build the DENSE hour spine (min..max
    hour from a scalar aggregate — no driver round trip), cross it with
    the type list, left-join the hourly rollup, then forward-fill each
    type's missing hourly value with ``last(value, ignorenulls=True)``
    over an hour-ordered ROWS frame. Missing cells genuinely occur at
    both gate scales (215 of 3,600 cells at sf0.01; 2,732 at sf0.001,
    where leading-edge cells before a type's first observation stay NULL
    — that semantic is exercised, not just the happy path). Totals are
    stable-rounded BEFORE filling so both engines carry bit-identical
    values forward. Scale shape: the corpus is touched once (the hourly
    aggregate); every later frame — spine, grid, window — is bounded by
    calendar hours x types, never by data size."""
    from job_crawler_spark.operators.checkpoints import (
        tracked_local_checkpoint,
    )

    ev = _events(spark, sf_dir)
    # the hourly rollup is the ONLY corpus scan; it is localCheckpointed
    # (calendar-bounded rows) so the spine bounds and the grid join both
    # read the materialized frame instead of re-scanning events
    hourly = tracked_local_checkpoint(
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("event_type"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            stable_round(F.sum("value"), 2).alias("total_value"),
        )
    )
    bounds = hourly.agg(
        F.min("hour").alias("h0"),
        F.max("hour").alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    grid = spine.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(t,) for t in EVENT_TYPES], "event_type string"
            )
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        grid.join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "total_value",
            F.last("total_value", ignorenulls=True).over(w).alias(
                "filled_value"
            ),
            F.col("total_value").isNull().alias("is_filled"),
        )
        .orderBy("hour", "event_type")
    )
    out._graft_checkpoints = [hourly]
    return out


Q_HOURLY_VALUE_LOCF_SQL = f"""
    WITH b AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hour
      FROM b
    ),
    t AS (
      SELECT unnest(['click', 'error', 'purchase', 'signup', 'view'])
                 AS event_type
    ),
    c AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             COUNT(*) AS n,
             {stable_round_sql("SUM(value)", 2)} AS total_value
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT spine.hour, t.event_type,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n, c.total_value
      FROM spine CROSS JOIN t
      LEFT JOIN c ON c.hour = spine.hour AND c.event_type = t.event_type
    )
    SELECT hour, event_type, n, total_value,
           LAST_VALUE(total_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value,
           (total_value IS NULL) AS is_filled
    FROM g ORDER BY hour, event_type
"""


def q_session_window_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` — Spark's built-in dynamic-gap session
    operator (the one that also runs under Structured Streaming with
    state-store merging; user_sessions pins the MANUAL lag+cumsum
    formulation, this pins the native one): per-user 30-minute-gap
    sessions with event counts and value totals. The oracle derives the
    same sessions RELATIONALLY in DuckDB (lag -> new-session flag ->
    running-sum session ids -> aggregate) — two independent
    formulations, so the operator's merge semantics are cross-checked:
    an event starts a new session iff it is STRICTLY more than gap after
    the previous event (touching windows merge: an event at exactly
    prev_ts + gap continues the session), and session_end extends to
    last_ts + gap in both. One user shuffle
    (session assignment + aggregation fuse into the same exchange)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


Q_SESSION_WINDOW_SQL = f"""
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             -- STRICTLY greater: Spark's session_window MERGES touching
             -- windows (an event at exactly prev_ts + gap — its window
             -- start equal to the previous window end — continues the
             -- session; probed on Spark 4.1.2)
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w
                          > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             -- order by (ts, event_id) to match the flag window w exactly:
             -- with duplicate (user_id, ts) rows straddling a gap boundary,
             -- a ts-only running sum could order an unflagged tie-mate
             -- before the flagged row and assign it to the previous session
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
           COUNT(*) AS n_events,
           {stable_round_sql("SUM(value)", 2)} AS total_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start
"""


def q_user_status_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 historization — the inverse of the temporal joins: turn an
    event log into VALIDITY INTERVALS. Each user event opens a state
    interval [ts, next event ts) via ``lead`` over the user's timeline;
    the current (latest) state has valid_to NULL and is_current true —
    the slowly-changing-dimension type-2 table an as-of or range join
    then probes. duration_seconds is NULL-propagating exact integer
    epoch arithmetic. The order key (ts, event_id) is total, so interval
    boundaries are deterministic under same-timestamp events. One user
    shuffle; lead costs no second pass. Oracle: DuckDB's LEAD over the
    identical frame."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return (
        ev.select(
            "user_id",
            F.col("event_id"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            nxt.alias("valid_to"),
            nxt.isNull().alias("is_current"),
            (
                F.unix_timestamp(nxt) - F.unix_timestamp("ts")
            ).alias("duration_seconds"),
        )
        .orderBy("event_id")
    )


Q_USER_STATUS_INTERVALS_SQL = """
    SELECT user_id, event_id, event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current,
           CAST(date_diff('second', ts, LEAD(ts) OVER w) AS BIGINT)
               AS duration_seconds
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running sum of
    session-start flags — the classic two-window stateful-ish analytic,
    batch form of applyInPandasWithState session tracking."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.lit(SESSION_GAP_MIN * 60 * 1_000_000)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(ts_us - F.lag(ts_us).over(w) > gap_us, 1)
        .otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_idx").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


Q_USER_SESSIONS_SQL = f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN LAG(ts) OVER w IS NULL THEN 1
             WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                  > {SESSION_GAP_MIN * 60 * 1_000_000}
               THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(MAX(session_idx) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id ORDER BY user_id
"""


def q_json_log_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 (ref json_formatter.py:35, health_checker.py:129): structured
    JSON log lines as a COLUMN op — to_json(struct(...)), not a driver-side
    serializer. Timestamps pre-formatted to a fixed pattern so the JSON
    string is engine-independent; value rounded the stable way."""
    ev = _events(spark, sf_dir)
    payload = F.struct(
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        stable_round(F.col("value"), 4).alias("value"),
    )
    return ev.select(
        "event_id", F.to_json(payload).alias("log_json")
    ).orderBy("event_id")


Q_JSON_LOG_LINES_SQL = f"""
    SELECT event_id,
           to_json(struct_pack(
               event_id := event_id,
               user_id := user_id,
               event_type := event_type,
               ts := strftime(ts, '%Y-%m-%d %H:%M:%S'),
               value := {stable_round_sql("value", 4)}
           )) AS log_json
    FROM events ORDER BY event_id
"""


def q_event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 twin over a JSON COLUMN (ref parses API JSON records,
    main.py:214-238): from_json projection of the events.props payload —
    schema-on-read stays in the JVM (JacksonParser), no Python."""
    ev = _events(spark, sf_dir)
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


Q_EVENT_PROPS_SQL = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS k_sum,
           MAX(CAST(props->>'k' AS INTEGER)) AS k_max
    FROM events GROUP BY event_type ORDER BY event_type
"""


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN, the temporal operator Spark has no built-in for:
    last-touch attribution — every purchase matched to the same user's
    latest click at-or-before the purchase (NULL when the purchase is the
    user's first touch). operators/asof.py implements it JOIN-FREE as a
    union-tag + single window pass (one user_id shuffle — the
    merge-sorted-streams shape, never the O(|l| x |r|)-per-user range
    join); the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``, so the two
    implementations are independent down to the algorithm. Right-side
    (user, ts) click duplicates resolve to the greatest event_id in both
    engines. gap_seconds is an exact integer epoch difference."""
    from job_crawler_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_id", "click_ts"],
        tiebreak="click_id",
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "ts",
        "click_id",
        "click_ts",
        (
            F.unix_timestamp("ts") - F.unix_timestamp("click_ts")
        ).alias("gap_seconds"),
    ).orderBy("purchase_id")


Q_PURCHASE_ATTRIBUTION_SQL = """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    c0 AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    c AS (
      SELECT user_id, MAX(click_id) AS click_id, click_ts
      FROM c0 GROUP BY user_id, click_ts
    )
    SELECT p.user_id, p.purchase_id, p.ts, c.click_id, c.click_ts,
           CAST(date_diff('second', c.click_ts, p.ts) AS BIGINT)
               AS gap_seconds
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.click_ts
    ORDER BY purchase_id
"""


def q_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval) JOIN — the as-of join's multi-touch companion:
    every click within the 24-hour window BEFORE each purchase by the
    same user (inclusive at both ends), one row per (purchase, click)
    pair. operators/rangejoin.py executes it as a BINNED range join —
    each purchase window explodes to the <= 2 day-buckets it covers,
    each click lands in exactly one, and the join is a plain equi-join
    on (user_id, bucket) with the timestamp bounds as a post-join
    filter — never the O(|clicks| x |purchases|)-per-user inequality
    residual the naive formulation runs, and hot users subdivide across
    time buckets. The oracle is DuckDB's native inequality join, so the
    algorithms are independent. gap_seconds is an exact integer epoch
    difference."""
    from job_crawler_spark.operators.rangejoin import range_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = range_join(
        clicks,
        purchases,
        on=["user_id"],
        point_ts="click_ts",
        start_ts="w_start",
        end_ts="w_end",
        interval_cols=["purchase_id", "purchase_ts"],
        bucket_seconds=24 * 3600,
    )
    return joined.select(
        "user_id",
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("gap_seconds"),
    ).orderBy("purchase_id", "click_id")


Q_MULTI_TOUCH_SQL = """
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id,
           c.click_ts,
           CAST(date_diff('second', c.click_ts, p.purchase_ts) AS BIGINT)
               AS gap_seconds
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.click_ts BETWEEN p.purchase_ts - INTERVAL 24 HOUR
                        AND p.purchase_ts
    ORDER BY purchase_id, click_id
"""


def q_signup_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — conversion lag: every signup matched to the
    same user's FIRST purchase at-or-after it (NULL when the user never
    converts; ~8% of signups at gate scales). Exercises the forward
    direction of operators/asof.py under the driver gate (the backward
    direction is gated by purchase_attribution). DuckDB's native ASOF
    JOIN is backward-only, so the oracle is an independent two-step
    min/argmax formulation — among purchases sharing the minimal
    at-or-after timestamp the greatest purchase_id wins, matching the
    operator's tiebreak contract. lag_seconds is an exact integer epoch
    difference, NULL for unconverted signups."""
    from job_crawler_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("signup_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = asof_join(
        signups,
        purchases,
        on=["user_id"],
        left_ts="signup_ts",
        right_ts="purchase_ts",
        right_cols=["purchase_id", "purchase_ts"],
        direction="forward",
        tiebreak="purchase_id",
    )
    return joined.select(
        "user_id",
        "signup_id",
        "signup_ts",
        "purchase_id",
        "purchase_ts",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        ).alias("lag_seconds"),
    ).orderBy("signup_id")


Q_SIGNUP_CONVERSION_SQL = """
    WITH s AS (
      SELECT user_id, event_id AS signup_id, ts AS signup_ts
      FROM events WHERE event_type = 'signup'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT s.user_id, s.signup_id, s.signup_ts,
             MIN(p.purchase_ts) AS purchase_ts
      FROM s LEFT JOIN p
        ON p.user_id = s.user_id AND p.purchase_ts >= s.signup_ts
      GROUP BY s.user_id, s.signup_id, s.signup_ts
    )
    SELECT m.user_id, m.signup_id, m.signup_ts,
           MAX(p.purchase_id) AS purchase_id, m.purchase_ts,
           CAST(date_diff('second', m.signup_ts, m.purchase_ts) AS BIGINT)
               AS lag_seconds
    FROM m LEFT JOIN p
      ON p.user_id = m.user_id AND p.purchase_ts = m.purchase_ts
    GROUP BY m.user_id, m.signup_id, m.signup_ts, m.purchase_ts
    ORDER BY signup_id
"""


FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_HORIZON_US = 48 * 3600 * 1_000_000  # 48-hour anchored horizon


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel (view -> click -> purchase within 48 h of
    the anchor view) — the sequential-pattern analytic every product events
    pipeline runs; see operators/funnel.py for the anchored-greedy
    semantics and the one-exchange scale shape.

    Output: one row per stage with the users reaching it, conversion vs the
    funnel start and vs the previous stage, and the exact median seconds
    from anchor to stage completion among completers. The per-stage rollup
    runs on the |users|-row frame, never the event corpus; the single-
    partition ordered window at the end spans exactly |stages| rows."""
    from job_crawler_spark.operators.funnel import window_funnel

    per_user = window_funnel(
        _events(spark, sf_dir),
        stages=list(FUNNEL_STAGES),
        horizon_us=FUNNEL_HORIZON_US,
    )
    stage_rows = per_user.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("stage"),
                        F.lit(name).alias("stage_name"),
                        F.col(f"t{i + 1}").alias("tk"),
                    )
                    for i, name in enumerate(FUNNEL_STAGES)
                ]
            )
        ).alias("s"),
        F.col("t1"),
    ).select("s.stage", "s.stage_name", "s.tk", "t1")
    agg = stage_rows.groupBy("stage", "stage_name").agg(
        F.count("tk").alias("users"),
        F.expr("percentile(tk - t1, 0.5)").alias("_med_us"),
    )
    w_all = Window.orderBy("stage").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prev = Window.orderBy("stage")
    return (
        agg.withColumn(
            "_u1", F.max(F.when(F.col("stage") == 1, F.col("users"))).over(w_all)
        )
        .withColumn("_uprev", F.lag("users").over(w_prev))
        .select(
            "stage",
            "stage_name",
            "users",
            stable_round(
                F.when(F.col("_u1") > 0, F.col("users") / F.col("_u1")), 6
            ).alias("conv_from_start"),
            stable_round(
                F.when(F.col("_uprev") > 0, F.col("users") / F.col("_uprev")),
                6,
            ).alias("conv_from_prev"),
            stable_round(F.col("_med_us") / 1e6, 4).alias(
                "median_sec_from_start"
            ),
        )
        .orderBy("stage")
    )


Q_FUNNEL_CONVERSION_SQL = f"""
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_type AS ty FROM events
    ),
    s1 AS (SELECT *, MIN(CASE WHEN ty = 'view' THEN tsu END)
             OVER (PARTITION BY user_id) AS t1 FROM p),
    s2 AS (SELECT *, MIN(CASE WHEN ty = 'click' AND t1 IS NOT NULL
                              AND tsu >= t1
                              AND tsu <= t1 + {FUNNEL_HORIZON_US}
                         THEN tsu END)
             OVER (PARTITION BY user_id) AS t2 FROM s1),
    s3 AS (SELECT *, MIN(CASE WHEN ty = 'purchase' AND t2 IS NOT NULL
                              AND tsu >= t2
                              AND tsu <= t1 + {FUNNEL_HORIZON_US}
                         THEN tsu END)
             OVER (PARTITION BY user_id) AS t3 FROM s2),
    u AS (SELECT user_id, MIN(t1) AS t1, MIN(t2) AS t2, MIN(t3) AS t3
          FROM s3 GROUP BY user_id),
    st AS (
      SELECT 1 AS stage, 'view' AS stage_name, t1 AS tk, t1 FROM u
      UNION ALL SELECT 2, 'click', t2, t1 FROM u
      UNION ALL SELECT 3, 'purchase', t3, t1 FROM u
    ),
    agg AS (
      SELECT stage, stage_name, CAST(COUNT(tk) AS BIGINT) AS users,
             quantile_cont(tk - t1, 0.5) AS med_us
      FROM st GROUP BY stage, stage_name
    ),
    ext AS (
      SELECT *, MAX(CASE WHEN stage = 1 THEN users END) OVER () AS u1,
             LAG(users) OVER (ORDER BY stage) AS uprev
      FROM agg
    )
    SELECT stage, stage_name, users,
           {stable_round_sql('users / NULLIF(u1, 0)', 6)}
               AS conv_from_start,
           {stable_round_sql('users / NULLIF(uprev, 0)', 6)}
               AS conv_from_prev,
           {stable_round_sql('med_us / 1e6', 4)} AS median_sec_from_start
    FROM ext ORDER BY stage
"""


# Frecency reference instant: 2024-02-01T00:00:00Z in epoch microseconds,
# just past the events table's fixed 30-day window so every age is positive.
_FRECENCY_REF_US = 1_706_745_600_000_000
_FRECENCY_HALF_LIFE_DAYS = 7.0


def q_user_frecency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay frecency score per user: each event contributes
    ``2^(-age_days / half_life)`` toward its user's score — the
    recency-weighted accumulation a crawl frontier uses to prioritize
    revisits (recent activity dominates, old activity decays geometrically
    but never to zero). Distinct from TWAP (level estimation between
    samples): frecency is additive evidence weighting.

    Scale shape: ONE map-side-combinable hash aggregate on user_id — the
    decay is computed against a fixed reference instant, so the per-event
    terms are independent and the sum is fully associative (and mergeable
    across snapshots: rescaling a stored score by ``2^(-delta/h)`` rolls
    the reference forward without touching history). Determinism: ages
    are exact integer microsecond differences; the two divisions and the
    pow are per-row on identical operands (bit-identical or <= 1 ulp in
    either engine); the order-dependent double SUM is absorbed by
    ``stable_round`` per the repo contract."""
    ev = _events(spark, sf_dir)
    tsu = F.unix_micros(F.col("ts").cast("timestamp"))
    age_days = (F.lit(_FRECENCY_REF_US) - tsu) / F.lit(86400e6)
    term = F.pow(F.lit(2.0), -age_days / F.lit(_FRECENCY_HALF_LIFE_DAYS))
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.max("ts").alias("last_ts"),
            stable_round(F.sum(term), 6).alias("frecency"),
        )
        .orderBy("user_id")
    )


Q_USER_FRECENCY_SQL = f"""
SELECT user_id,
       COUNT(*) AS n_events,
       MAX(ts) AS last_ts,
       {stable_round_sql(
           "SUM(POW(2.0, -((" + str(_FRECENCY_REF_US)
           + " - epoch_us(ts)) / 86400e6) / "
           + str(_FRECENCY_HALF_LIFE_DAYS) + "))", 6)} AS frecency
FROM events
GROUP BY user_id
ORDER BY user_id
"""


MAD_K = 3


def q_event_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust telemetry anomaly flags (operators/anomaly.py): per
    event_type daily volumes judged by the k-MAD rule — lower-median /
    lower-MAD rank statistics, integer-exact, so one burst day cannot
    move the fence it is judged against (the data-derived form of the
    reference's hand-set alert thresholds,
    monitoring/performance_monitor.py:66-95)."""
    from job_crawler_spark.operators.anomaly import mad_outliers

    daily = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return mad_outliers(
        daily, group_cols=["event_type"], value_col="n", k=MAD_K
    ).orderBy("event_type", "day")


Q_EVENT_ANOMALIES_SQL = f"""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      FROM d
    ),
    m AS (
      SELECT *, MAX(CASE WHEN rn = (cnt + 1) // 2 THEN n END)
                  OVER (PARTITION BY event_type) AS med
      FROM r
    ),
    v AS (SELECT *, abs(n - med) AS dev FROM m),
    v2 AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev)
               AS drn
      FROM v
    ),
    v3 AS (
      SELECT *, MAX(CASE WHEN drn = (cnt + 1) // 2 THEN dev END)
                  OVER (PARTITION BY event_type) AS mad
      FROM v2
    )
    SELECT event_type, day, n, med, dev, mad,
           dev > {MAD_K} * mad AS is_anomaly
    FROM v3 ORDER BY event_type, day
"""


# columns profiled -> engine-portable string rendering (ints/strings cast
# verbatim, timestamps formatted explicitly — double columns are excluded
# on purpose: float-to-string rendering differs across engines)
_PROFILE_COLS = [
    ("event_id", "CAST(event_id AS STRING)"),
    ("ts", "date_format(ts, 'yyyy-MM-dd HH:mm:ss')"),
    ("user_id", "CAST(user_id AS STRING)"),
    ("event_type", "event_type"),
    ("props", "props"),
]


def q_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling — the statistics-collection operator every
    engine's ANALYZE implements (and what a CBO consumes): per-column
    row count, null count, EXACT distinct count, and lexicographic
    min/max over the events table, as one relation of (col_name,
    n_rows, n_nulls, n_distinct, min_val, max_val). The reference's
    health check stops at table row counts (health_checker.py:104-162);
    this is the per-column generalization a 100 TB lake needs for
    optimizer stats, data-contract monitoring, and drift alerts.

    Contract: values are profiled through an explicit engine-portable
    string rendering (ints cast, timestamps date_format'd, strings
    verbatim; DOUBLE columns excluded — float-to-string differs across
    engines); n_distinct ignores NULLs (COUNT DISTINCT semantics),
    min/max ignore NULLs, n_nulls counts them.

    Scale shape: ONE scan; the stack() unpivot is a narrow per-row
    expansion (x n_cols, no shuffle); Spark plans the mixed
    distinct+non-distinct aggregate as the two-phase Expand form —
    partial aggregate on (col_name, val) map-side (the only
    corpus-width shuffle key, Zipf-collapsed per column), then the
    n_cols-row final aggregate. No Python, no driver loop over
    columns (the profile is one job, not n_cols jobs).
    """
    n = len(_PROFILE_COLS)
    stack_args = ", ".join(f"'{c}', {expr}" for c, expr in _PROFILE_COLS)
    unp = _events(spark, sf_dir).select(
        F.expr(f"stack({n}, {stack_args}) AS (col_name, val)")
    )
    return (
        unp.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("val").isNull().cast("long")).alias("n_nulls"),
            F.count_distinct(F.col("val")).alias("n_distinct"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .orderBy("col_name")
    )


def _events_profile_sql() -> str:
    duck_expr = {
        "event_id": "CAST(event_id AS VARCHAR)",
        "ts": "strftime(ts, '%Y-%m-%d %H:%M:%S')",
        "user_id": "CAST(user_id AS VARCHAR)",
        "event_type": "event_type",
        "props": "props",
    }
    arms = "\n          UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {duck_expr[c]} AS val FROM events"
        for c, _ in _PROFILE_COLS
    )
    return f"""
        WITH unp AS (
          {arms}
        )
        SELECT col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nulls,
               COUNT(DISTINCT val) AS n_distinct,
               MIN(val) AS min_val, MAX(val) AS max_val
        FROM unp GROUP BY col_name ORDER BY col_name
    """


QUERIES = {
    "events_profile": q_events_profile,
    "daily_ewma": q_daily_ewma,
    "hourly_event_counts": q_hourly_event_counts,
    "funnel_conversion": q_funnel_conversion,
    "purchase_attribution": q_purchase_attribution,
    "multi_touch_attribution": q_multi_touch_attribution,
    "signup_conversion": q_signup_conversion,
    "json_log_lines": q_json_log_lines,
    "event_props_extract": q_event_props_extract,
    "retention_split": q_retention_split,
    "daily_error_rate": q_daily_error_rate,
    "error_rate_ma7": q_error_rate_ma7,
    "daily_event_pivot": q_daily_event_pivot,
    "daily_event_grid": q_daily_event_grid,
    "hourly_value_locf": q_hourly_value_locf,
    "user_status_intervals": q_user_status_intervals,
    "session_window_totals": q_session_window_totals,
    "user_sessions": q_user_sessions,
    "user_frecency": q_user_frecency,
    "event_volume_anomalies": q_event_volume_anomalies,
}

ORACLES = {
    "events_profile": _events_profile_sql(),
    "daily_ewma": Q_DAILY_EWMA_SQL,
    "hourly_event_counts": Q_HOURLY_SQL,
    "funnel_conversion": Q_FUNNEL_CONVERSION_SQL,
    "purchase_attribution": Q_PURCHASE_ATTRIBUTION_SQL,
    "multi_touch_attribution": Q_MULTI_TOUCH_SQL,
    "signup_conversion": Q_SIGNUP_CONVERSION_SQL,
    "json_log_lines": Q_JSON_LOG_LINES_SQL,
    "event_props_extract": Q_EVENT_PROPS_SQL,
    "retention_split": Q_RETENTION_SQL,
    "daily_error_rate": Q_DAILY_ERROR_SQL,
    "error_rate_ma7": Q_ERROR_RATE_MA7_SQL,
    "daily_event_pivot": Q_DAILY_EVENT_PIVOT_SQL,
    "daily_event_grid": Q_DAILY_EVENT_GRID_SQL,
    "hourly_value_locf": Q_HOURLY_VALUE_LOCF_SQL,
    "user_status_intervals": Q_USER_STATUS_INTERVALS_SQL,
    "session_window_totals": Q_SESSION_WINDOW_SQL,
    "user_sessions": Q_USER_SESSIONS_SQL,
    "user_frecency": Q_USER_FRECENCY_SQL,
    "event_volume_anomalies": Q_EVENT_ANOMALIES_SQL,
}
