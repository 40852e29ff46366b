"""Event-analytics operators over the ``events`` table: gap-based
sessionization, an as-of (most-recent-preceding) join, and grouped
top-k — the window-function surface a harvest-monitoring deployment of
the reference would ask for next (task brief: analytics capabilities
beyond the reference's own operator set; SURVEY.md §2.8 notes the
reference itself needs no windows, so these are extension coverage).

Scale notes: every operator here is ONE shuffle keyed by its natural
partition key (``user_id`` / ``lang``), then narrow window arithmetic —
no self-join materializes. The as-of join deliberately avoids the
range-join/cartesian formulation (quadratic in events-per-user) in
favor of the union-tag + ``last(ignorenulls)`` merge shape, which is
how as-of joins stay linear at 100 TB: sort within the user partition
once, carry the last-seen left-side row forward. All timestamps cross
the oracle boundary as epoch microseconds (BIGINT) so no engine-side
timestamp rendering can diverge.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from harvesting_validator_spark.queries.common import dround
from harvesting_validator_spark.queries.common import epoch_us as _t_us
from harvesting_validator_spark.queries.common import tbl

SESSION_GAP_US = 1800 * 1_000_000  # 30 min, the classic web-session gap


# --- gap-based sessionization -------------------------------------------------
def q_sessionize_events(spark, sf_dir):
    """Per-user 30-minute-gap sessionization + per-session rollup.

    lag() over (user_id, ts, event_id) marks session starts; a running
    sum of the marks numbers sessions 1..n per user. The (ts, event_id)
    ordering is total, so session assignment is deterministic even under
    timestamp ties. A gap of EXACTLY the threshold starts a new session:
    the boundary test is ``t_us - prev >= SESSION_GAP_US``, the same
    ``>=`` that ``O_SESSIONS`` uses.
    Exactly one shuffle (user_id); the rollup reuses the same
    partitioning (session key is user_id-prefixed).
    """
    e = tbl(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        _t_us().alias("t_us"),
        F.col("value").cast("decimal(18,2)").alias("val"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    prev = F.lag("t_us").over(w)
    is_start = (prev.isNull() | (F.col("t_us") - prev >= SESSION_GAP_US)).cast("int")
    sess = e.withColumn(
        "session_seq",
        F.sum(is_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("t_us").alias("session_start_us"),
        F.max("t_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("val").cast("double"), 2).alias("total_value"),
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("n_errors"),
    )


O_SESSIONS = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
         CAST(value AS DECIMAL(18,2)) AS val
  FROM events
),
m AS (
  SELECT *,
         CASE WHEN lag(t_us) OVER w IS NULL
                OR t_us - lag(t_us) OVER w >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
),
s AS (
  SELECT *,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM m
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       min(t_us) AS session_start_us,
       max(t_us) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(val) AS DOUBLE), 2) AS total_value,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_errors
FROM s
GROUP BY user_id, session_seq
"""


# --- as-of join (most recent preceding action before each error) --------------
def q_asof_last_action(spark, sf_dir):
    """For every ``error`` event, the user's most recent STRICTLY
    preceding non-error event and the gap to it — an as-of join.

    Spark has no ASOF JOIN operator; the linear-scale formulation is a
    single sorted pass per user: order the merged stream by
    (t_us, event_id), carry ``last(non-error row, ignorenulls)`` over a
    ROWS ... 1 PRECEDING frame, then keep the error rows. Both carried
    columns (id, t_us) come from the same gated CASE under the same
    total order, so they always describe the same row. No-match rows
    surface as -1 (coalesced, so null rendering can't diverge across
    engines).
    """
    e = tbl(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        _t_us().alias("t_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    action = F.when(F.col("event_type") != "error", F.col("event_id"))
    action_ts = F.when(F.col("event_type") != "error", F.col("t_us"))
    out = e.select(
        "event_id",
        "user_id",
        "t_us",
        "event_type",
        F.last(action, ignorenulls=True).over(w).alias("last_action_id"),
        F.last(action_ts, ignorenulls=True).over(w).alias("last_action_us"),
    )
    return (
        out.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            "t_us",
            F.coalesce("last_action_id", F.lit(-1)).alias("last_action_id"),
            F.coalesce(
                F.col("t_us") - F.col("last_action_us"), F.lit(-1)
            ).alias("gap_us"),
        )
    )


O_ASOF = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us FROM events
),
c AS (
  SELECT event_id, user_id, t_us, event_type,
         last_value(CASE WHEN event_type <> 'error' THEN event_id END
                    IGNORE NULLS) OVER w AS last_action_id,
         last_value(CASE WHEN event_type <> 'error' THEN t_us END
                    IGNORE NULLS) OVER w AS last_action_us
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, t_us,
       COALESCE(last_action_id, -1) AS last_action_id,
       COALESCE(t_us - last_action_us, -1) AS gap_us
FROM c
WHERE event_type = 'error'
"""


# --- grouped top-k (window rank within stratum) -------------------------------
TOPK_PER_LANG = 5


def q_topk_docs_per_lang(spark, sf_dir):
    """Top-k longest documents per language via row_number() over a
    (lang)-partitioned window — the grouped top-k shape (global top-k is
    ``topk_orders``). Deterministic tiebreak on doc_id. One shuffle on
    the stratum key; only k rows per stratum survive the rank filter, so
    at corpus scale this is a partial top-k per partition + k·strata
    rows to the final stage.
    """
    d = tbl(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select(
            "lang",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= TOPK_PER_LANG)
        .select("lang", F.col("rank").cast("int").alias("rank"), "doc_id", "n_chars")
    )


O_TOPK_LANG = f"""
SELECT lang, CAST(rank AS INT) AS rank, doc_id, n_chars
FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
)
WHERE rank <= {TOPK_PER_LANG}
"""


# --- funnel conversion --------------------------------------------------------
def q_funnel_conversion(spark, sf_dir):
    """signup → purchase funnel: per user, the first signup and the
    first purchase STRICTLY AFTER it; the rollup reports how many users
    entered the funnel and how many converted. One user_id groupBy with
    conditional min aggregates — all funnel stages evaluate in a single
    pass over the stream regardless of stage count, the scale-correct
    shape (a per-stage self-join family would shuffle once per stage).
    """
    e = tbl(spark, sf_dir, "events").select(
        "user_id", "event_type", _t_us().alias("t_us")
    )
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("t_us")))
    per_user = e.groupBy("user_id").agg(first_signup.alias("signup_us"))
    # first purchase after the user's first signup: re-aggregate with the
    # signup time joined back (broadcast: one row per user)
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(per_user.filter(F.col("signup_us").isNotNull()), "user_id")
        .filter(F.col("t_us") > F.col("signup_us"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("purchase_us"))
    )
    per_user = per_user.join(conv, "user_id", "left")
    return per_user.agg(
        F.count(F.lit(1)).alias("total_users"),
        F.count("signup_us").alias("n_signed"),
        F.count("purchase_us").alias("n_converted"),
        # zero-signup corpora: NULL, not 0/0 (Spark NaN vs DuckDB NULL
        # would diverge at the oracle on a degenerate corpus)
        F.when(
            F.count("signup_us") > 0,
            F.round(
                F.count("purchase_us").cast("double")
                / F.count("signup_us").cast("double"),
                6,
            ),
        ).alias("conversion_rate"),
    )


O_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS signup_us
  FROM events GROUP BY user_id
),
conv AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
  FROM events e JOIN per_user p ON e.user_id = p.user_id
  WHERE e.event_type = 'purchase' AND p.signup_us IS NOT NULL
    AND epoch_us(e.ts) > p.signup_us
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS total_users,
       CAST(count(p.signup_us) AS BIGINT) AS n_signed,
       CAST(count(c.purchase_us) AS BIGINT) AS n_converted,
       CASE WHEN count(p.signup_us) > 0
            THEN round(CAST(count(c.purchase_us) AS DOUBLE)
                       / CAST(count(p.signup_us) AS DOUBLE), 6)
            END AS conversion_rate
FROM per_user p LEFT JOIN conv c ON p.user_id = c.user_id
"""


# --- weekly cohort retention --------------------------------------------------
def q_cohort_retention(spark, sf_dir):
    """Classic cohort-retention matrix: users grouped by first-seen ISO
    week; for each (cohort_week, week_offset), how many of the cohort
    were active and what fraction that is.

    Two aggregations by nature (a user-keyed first-seen, then a
    cohort-keyed matrix), but the user-keyed join reuses the first
    groupBy's exchange and the matrix/size tables are |weeks|²-sized —
    the only corpus-wide shuffle is the first user_id groupBy. The
    retention ratio divides BIGINTs cast to double, rounded to 6 on both
    engines."""
    e = tbl(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    )
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = (
        e.join(first, "user_id")
        .select("user_id", "cohort_week", "week")
        .distinct()
    )
    mat = act.groupBy("cohort_week", "week").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    sizes = first.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        mat.join(F.broadcast(sizes), "cohort_week")
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int").alias("week_offset"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.col("active_users").cast("bigint").alias("active_users"),
            dround(
                F.col("active_users").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


O_COHORT = """
WITH e AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events
),
first AS (
  SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1
),
act AS (
  SELECT DISTINCT e.user_id, f.cohort_week, e.week
  FROM e JOIN first f USING (user_id)
),
mat AS (
  SELECT cohort_week, week, count(DISTINCT user_id) AS active_users
  FROM act GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
  FROM first GROUP BY 1
)
SELECT CAST(m.cohort_week AS VARCHAR) AS cohort_week,
       CAST((m.week - m.cohort_week) / 7 AS INT) AS week_offset,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(m.active_users AS BIGINT) AS active_users,
       round(CAST(m.active_users AS DOUBLE) / s.cohort_size, 6) AS retention
FROM mat m JOIN sizes s USING (cohort_week)
"""


def q_json_props_rollup(spark, sf_dir):
    """Semi-structured extraction (r5): pull a typed field out of the
    events' JSON `props` column with Spark's native JSON path evaluator
    (`get_json_object` — JVM-side, codegen-friendly; the log-pipeline
    staple Spark covers without a UDF) and roll it up per event type.
    All-integer aggregates, so the oracle match is exact. The oracle
    derives the field INDEPENDENTLY via regexp_extract — a different
    mechanism agreeing on the same values is stronger evidence than a
    shared one. Scale: one map-side extraction + one |event_type|-row
    groupBy (map-side combined); count(DISTINCT user_id) adds the only
    real exchange, keyed (event_type, user_id)."""
    ev = tbl(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


O_JSON_PROPS = r"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(max(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT))
            AS BIGINT) AS max_k,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


def q_daily_rolling_events(spark, sf_dir):
    """Trailing-7-day rolling volume per event type (r5) — the RANGE
    window frame over event-time, the one window shape the suite lacked
    (rank/lag/unbounded-running sums exist; a bounded RANGE frame is
    the ops-dashboard staple). RANGE, not ROWS: a missing day must
    shrink the trailing window rather than silently reaching further
    back, so the frame is keyed on a day INDEX (datediff from epoch —
    Spark's rangeBetween needs a numeric ordering key). All-integer
    aggregates, exact oracle match. Scale: one (event_type, day)
    groupBy (map-side combined to |types|x|days| rows), then the window
    sorts only that tiny rollup."""
    ev = tbl(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    day_idx = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(day_idx)
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.sum("n").over(w).alias("n_7d"),
    )


O_ROLLING = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       n,
       CAST(sum(n) OVER (
         PARTITION BY event_type ORDER BY d
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_7d
FROM daily
"""


QUERIES = {
    "sessionize_events": q_sessionize_events,
    "asof_last_action": q_asof_last_action,
    "topk_docs_per_lang": q_topk_docs_per_lang,
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "json_props_rollup": q_json_props_rollup,
    "daily_rolling_events": q_daily_rolling_events,
}

ORACLES = {
    "sessionize_events": O_SESSIONS,
    "asof_last_action": O_ASOF,
    "topk_docs_per_lang": O_TOPK_LANG,
    "funnel_conversion": O_FUNNEL,
    "cohort_retention": O_COHORT,
    "json_props_rollup": O_JSON_PROPS,
    "daily_rolling_events": O_ROLLING,
}
