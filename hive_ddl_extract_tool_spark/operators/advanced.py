"""Paper-linked advanced operators (PAPERS.md):

- q54 skyline: Pareto-optimal set, after "Integration of Skyline Queries into
  Spark SQL" (EDBT 2023). Distributed two-phase plan: each partition computes
  its local skyline (Arrow-batched, sort + running-max, O(n log n)), then the
  tiny candidate union is refined with a dominance anti-join. A global
  skyline point survives in its partition's local skyline, so the phase-1
  prune is lossless; the shuffle carries only local-skyline candidates.

- q53 pure-SQL ML inference: logistic scorer fused into scalar expressions,
  after "Machine Learning Inference Pipeline Execution Using Pure SQL Based
  on Operator Fusion" (ICDE 2025). The whole model (standardize -> dot ->
  sigmoid -> threshold) runs inside whole-stage codegen; no UDF, no
  inference service round-trip.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._hashing import h60, h60_sql
from ..tables import load

DIM = 64


# --------------------------------------------------------------------------
# q53: SQL-fused logistic inference over the embedding column
# --------------------------------------------------------------------------

def _weight(i: int) -> float:
    """Deterministic pseudo-weight in [-0.5, 0.5) from the shared md5 hash
    (same value is a literal in the Spark plan and the oracle SQL)."""
    h = int(hashlib.md5(f"w_{i}".encode()).hexdigest()[:15], 16)
    return (h % 1000) / 1000.0 - 0.5


WEIGHTS = [_weight(i) for i in range(1, DIM + 1)]
BIAS = 0.1


def q53_sql_ml_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    w = F.array(*[F.lit(v) for v in WEIGHTS])
    # NULL products (a short or NULL-holed embedding zip_with-pads NULLs)
    # are dropped before the fold, matching the oracle's list_sum skip
    # semantics instead of poisoning the whole dot product to NULL. The
    # EMPTY/all-NULL case needs the oracle-side coalesce below: Spark's
    # fold over an empty array returns the BIAS seed (a real score -- the
    # right model semantics: no features => bias), while DuckDB's list_sum
    # over an empty/all-NULL list returns NULL.
    z = F.aggregate(
        F.filter(
            F.zip_with("embedding", w, lambda x, wi: x.cast("double") * wi),
            lambda x: x.isNotNull(),
        ),
        F.lit(float(BIAS)),
        lambda acc, x: acc + x,
    )
    score = 1.0 / (1.0 + F.exp(-z))
    return emb.select(
        "vec_id",
        "label",
        F.round(score, 4).alias("score"),
        (score >= 0.5).alias("predicted"),
    )


_WEIGHTS_SQL = "[" + ", ".join(repr(v) for v in WEIGHTS) + "]"

ORACLE_Q53 = f"""
WITH scored AS (
  SELECT vec_id, label,
         1.0 / (1.0 + exp(-(
           coalesce(list_sum(list_transform(range(1, {DIM} + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * ({_WEIGHTS_SQL})[i])), 0.0)
           + {BIAS}))) AS s
  FROM embeddings
)
SELECT vec_id, label, round(s, 4) AS score, s >= 0.5 AS predicted
FROM scored
"""


# --------------------------------------------------------------------------
# q54: distributed skyline (minimize retailprice, maximize size)
# --------------------------------------------------------------------------

def _local_skyline(batches):
    """Per-batch 2-D Pareto front, fully vectorized: sort by price asc, take
    the running max of size over *strictly cheaper* rows as the dominance
    bar; a row survives iff its size strictly exceeds that bar (equal-price
    rows tie-survive, matching the NOT EXISTS dominance oracle)."""
    import numpy as np

    for pdf in batches:
        if pdf.empty:
            yield pdf
            continue
        pdf = pdf.sort_values(["p_retailprice", "p_size"], ascending=[True, False])
        prices = pdf["p_retailprice"].to_numpy()
        sizes = pdf["p_size"].to_numpy()
        cummax = np.maximum.accumulate(sizes)
        # index of the first row sharing this row's price; rows before it are
        # strictly cheaper (prices is sorted ascending)
        first_same = np.searchsorted(prices, prices, side="left")
        bar = np.where(first_same > 0, cummax[np.maximum(first_same - 1, 0)], -np.inf)
        yield pdf[sizes > bar]


def q54_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._cache import cached_df

    part = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    # stage the local-skyline tier: the dominance anti-join self-joins it,
    # and Catalyst does not CSE the shared subtree across the a/b aliases
    # -- unstaged, the Arrow exchange + pandas pass ran TWICE per query
    candidates = cached_df(
        spark,
        f"q54_candidates:{sf_dir}",
        lambda: part.mapInPandas(
            _local_skyline, schema="p_partkey long, p_retailprice double, p_size int"
        ),
    )
    a, b = candidates.alias("a"), candidates.alias("b")
    dominated = (
        (F.col("b.p_retailprice") <= F.col("a.p_retailprice"))
        & (F.col("b.p_size") >= F.col("a.p_size"))
        & (
            (F.col("b.p_retailprice") < F.col("a.p_retailprice"))
            | (F.col("b.p_size") > F.col("a.p_size"))
        )
    )
    return (
        a.join(b, dominated, "left_anti")
        .select("p_partkey", F.round("p_retailprice", 2).alias("retailprice"), F.col("p_size").cast("int").alias("size"))
    )


ORACLE_Q54 = """
SELECT p_partkey, round(p_retailprice, 2) AS retailprice, CAST(p_size AS INT) AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


# --------------------------------------------------------------------------
# q55: bucketized range join (events within 60s per user)
# --------------------------------------------------------------------------

def q55_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of events from the same user within 60 seconds. A naive
    inequality join is O(N^2) per user; bucketizing event time to 60s and
    equi-joining on (user, bucket) plus (user, bucket+1) turns it into two
    hash joins whose fan-out is bounded by events-per-bucket -- the standard
    range-join decomposition when the engine lacks a native one. The exact
    |dt| predicate then filters inside the matched buckets."""
    events = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", (F.unix_micros("ts") / 1_000_000).alias("sec")
    )
    a = events.select(
        F.col("event_id").alias("id_a"), F.col("user_id").alias("u"),
        F.col("sec").alias("sec_a"), F.floor(F.col("sec") / 60).alias("bkt"),
    )
    b = events.select(
        F.col("event_id").alias("id_b"), F.col("user_id").alias("u2"),
        F.col("sec").alias("sec_b"), F.floor(F.col("sec") / 60).alias("bkt2"),
    )
    pairs = None
    for shift in (0, 1):
        j = a.join(
            b,
            (F.col("u") == F.col("u2")) & (F.col("bkt") + shift == F.col("bkt2")),
        )
        pairs = j if pairs is None else pairs.unionByName(j)
    # The two shifts cover every pair with the earlier-bucket event on the
    # `a` side; normalize to (lower id, higher id) afterwards so pairs whose
    # id-order opposes time-order are not lost (and same-bucket pairs, seen
    # in both orientations, collapse via distinct).
    return (
        pairs.filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.abs(F.col("sec_b") - F.col("sec_a")) <= 60.0)
        )
        .select(
            "u",
            F.least("id_a", "id_b").alias("id_lo"),
            F.greatest("id_a", "id_b").alias("id_hi"),
            F.round(
                F.when(F.col("id_a") < F.col("id_b"), F.col("sec_b") - F.col("sec_a"))
                .otherwise(F.col("sec_a") - F.col("sec_b")),
                6,
            ).alias("dt_sec"),
        )
        .withColumnsRenamed({"id_lo": "id_a", "id_hi": "id_b"})
        .distinct()
    )


ORACLE_Q55 = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) / 1000000.0 AS sec FROM events)
SELECT DISTINCT a.user_id AS u, a.event_id AS id_a, b.event_id AS id_b,
       round(b.sec - a.sec, 6) AS dt_sec
FROM e a JOIN e b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND abs(b.sec - a.sec) <= 60.0
"""


# --------------------------------------------------------------------------
# q59: as-of join (latest prior 'view' for every 'click', per user)
# --------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """Generic as-of join: every `left` row gains the `right_cols` values of
    the most recent `right` row with right_ts <= left_ts and the same `by`
    key (NULLs when no prior right row exists).

    Executed WITHOUT an inequality join: both sides are union-tagged, ONE
    shuffle on `by`, then `last(ignorenulls)` over the time-ordered window
    carries the latest right values forward -- the plan shape pandas'
    merge_asof / kdb's aj execute, expressed relationally. A naive
    `l.ts >= r.ts` join is a per-key cross product. Ties on the timestamp
    order by `tiebreak` (must exist on both sides) so results are
    deterministic. Output: every left column plus `right_cols` (which must
    not collide with left's names)."""
    lt = left.withColumn("__side", F.lit(1))
    rt = right.withColumn("__side", F.lit(0))
    carried = [F.when(F.col("__side") == 0, F.col(c)).alias(f"__r_{c}") for c in right_cols]
    all_cols = sorted(set(left.columns) | set(right.columns))
    unioned = (
        lt.select(*[(F.col(c) if c in left.columns else F.lit(None)).alias(c) for c in all_cols], "__side")
        .unionByName(
            rt.select(*[(F.col(c) if c in right.columns else F.lit(None)).alias(c) for c in all_cols], "__side")
        )
        .withColumn("__ts", F.coalesce(F.when(F.col("__side") == 1, F.col(left_ts)), F.col(right_ts)))
        .select("*", *carried)
    )
    from pyspark.sql import Window as W

    # right rows sort BEFORE left rows on an equal timestamp (__side 0 < 1),
    # so an exactly-simultaneous right row is visible to the left row
    w = (
        W.partitionBy(by)
        .orderBy("__ts", "__side", tiebreak)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = unioned.select(
        "*", *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in right_cols]
    )
    keep = [c for c in left.columns] + [f"asof_{c}" for c in right_cols]
    return filled.filter(F.col("__side") == 1).select(*keep)


def q59_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join without an inequality join: union-tag both sides, ONE
    shuffle on user_id, then `last(ignorenulls)` over the time-ordered
    window carries the most recent 'view' forward to each 'click'. A naive
    `a.ts >= b.ts` join is a per-user cross product; this runs in a single
    sort-based window pass whatever the corpus size (the same plan shape
    pandas' merge_asof / kdb's aj execute, expressed relationally). Ties on
    ts break on event_id in BOTH engines, so the result is deterministic.

    (Inlined rather than built on the generic `asof_join` helper: the query
    joins a table to itself partitioned by event_type, so the single-pass
    tagged form avoids even the union.)"""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    rel = events.filter(F.col("event_type").isin("view", "click"))
    is_view = F.col("event_type") == "view"
    tagged = rel.withColumn("view_id", F.when(is_view, F.col("event_id"))).withColumn(
        "view_ts", F.when(is_view, F.col("ts"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = tagged.withColumn(
        "prior_view", F.last("view_id", ignorenulls=True).over(w)
    ).withColumn("prior_view_ts", F.last("view_ts", ignorenulls=True).over(w))
    return filled.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("prior_view").alias("view_id"),
        F.round(
            (F.unix_micros("ts") - F.unix_micros("prior_view_ts")) / 1_000_000.0, 6
        ).alias("gap_sec"),
    )


ORACLE_Q59 = """
WITH rel AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'view' THEN event_id END AS view_id,
         CASE WHEN event_type = 'view' THEN ts END AS view_ts
  FROM events WHERE event_type IN ('view', 'click')
),
filled AS (
  SELECT *,
         last_value(view_id IGNORE NULLS) OVER w AS prior_view,
         last_value(view_ts IGNORE NULLS) OVER w AS prior_view_ts
  FROM rel
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id AS click_id, prior_view AS view_id,
       round((epoch_us(ts) - epoch_us(prior_view_ts)) / 1000000.0, 6) AS gap_sec
FROM filled WHERE event_type = 'click'
"""


# --------------------------------------------------------------------------
# q74: funnel conversion (click -> purchase within 30 minutes, per user)
# --------------------------------------------------------------------------

FUNNEL_WINDOW_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds


def q74_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel: for every click, was there a purchase by the
    same user within 30 minutes? Implemented as a value-RANGE window frame
    over epoch-microseconds (min purchase-ts in [t, t+30min] FOLLOWING) --
    ONE shuffle on user_id, no self-join, no pair explosion: the classic
    funnel formulation as an ordered window scan, linear per user. Exact
    integer microseconds keep the frame arithmetic engine-identical."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(W.currentRow, FUNNEL_WINDOW_US)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("tus"))
    ).over(w)
    per_click = e.withColumn("np", next_purchase).filter(F.col("event_type") == "click")
    return per_click.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count_if(F.col("np").isNotNull()).alias("n_converted"),
    )


ORACLE_Q74 = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
),
scanned AS (
  SELECT user_id, event_type,
         min(CASE WHEN event_type = 'purchase' THEN tus END)
           OVER (PARTITION BY user_id ORDER BY tus
                 RANGE BETWEEN CURRENT ROW AND {FUNNEL_WINDOW_US} FOLLOWING) AS np
  FROM e
)
SELECT user_id,
       count(*)                                  AS n_clicks,
       count(*) FILTER (WHERE np IS NOT NULL)    AS n_converted
FROM scanned
WHERE event_type = 'click'
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q75: cohort retention (weekly cohorts x week offset)
# --------------------------------------------------------------------------

def q75_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week, counted
    in every later week they return. Shape for scale: the (user, week)
    grid is distinct-reduced FIRST (events -> at most users x weeks rows),
    the cohort assignment is a min-aggregate on that reduced set, and the
    final count(*) needs no distinct because (user, week) is already
    unique. Both engines truncate weeks to Monday, and the offset is exact
    integer day-arithmetic / 7."""
    events = load(spark, sf_dir, "events")
    uw = (
        events.select("user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk"))
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        uw.join(cohort, "user_id")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cohort_wk") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ORACLE_Q75 = """
WITH uw AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
),
cohort AS (
  SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY user_id
)
SELECT strftime(cohort_wk, '%Y-%m-%d')                          AS cohort_week,
       CAST(date_diff('day', cohort_wk, wk) / 7 AS INT)         AS week_offset,
       count(*)                                                 AS n_users
FROM uw JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q79: time-series resample + forward fill (gap-filling onto a fixed grid)
# --------------------------------------------------------------------------

RESAMPLE_USERS = 20  # bound the output grid (users x ~720 hourly buckets)


def q79_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an irregular event stream onto an hourly grid per user,
    carrying the last observed value forward through empty buckets -- the
    resample+ffill primitive of every time-series store. Scale shape: the
    per-bucket reduction happens FIRST (events collapse to at most
    users x buckets rows before anything widens), the grid is generated
    per user with sequence/explode (no cross join against a calendar
    table), and the fill is one last(ignorenulls) window over the grid --
    two narrow shuffles total, both on user_id. The grid starts at each
    user's first active bucket, so the fill column is never NULL and the
    cross-engine compare stays total."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events").filter(F.col("user_id") < RESAMPLE_USERS)
    bucketed = events.select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    # last observation per (user, bucket), ties broken by (ts, event_id)
    wlast = W.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    per_bucket = (
        bucketed.withColumn("rn", F.row_number().over(wlast))
        .groupBy("user_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("last_value"),
        )
    )
    span = per_bucket.groupBy("user_id").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("b0", "b1", F.expr("interval 1 hour"))).alias("bucket"),
    )
    joined = grid.join(per_bucket, ["user_id", "bucket"], "left")
    wfill = (
        W.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.last("last_value", ignorenulls=True).over(wfill).alias("ffill_value"),
    )


ORACLE_Q79 = f"""
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, ts, event_id, value
  FROM events WHERE user_id < {RESAMPLE_USERS}
),
per_bucket AS (
  SELECT user_id, bucket,
         count(*) AS n_events,
         max(CASE WHEN rn = 1 THEN value END) AS last_value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                     ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM b)
  GROUP BY user_id, bucket
),
span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM per_bucket GROUP BY user_id),
grid AS (
  SELECT user_id, g.bucket
  FROM span, LATERAL (SELECT unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket) g
)
SELECT g.user_id,
       strftime(g.bucket, '%Y-%m-%d %H:%M:%S')                        AS bucket,
       CAST(coalesce(p.n_events, 0) AS BIGINT)                        AS n_events,
       last_value(p.last_value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)      AS ffill_value
FROM grid g LEFT JOIN per_bucket p USING (user_id, bucket)
"""


# --------------------------------------------------------------------------
# q80: rolling z-score anomaly detection (integer-exact moving statistics)
# --------------------------------------------------------------------------

ROLL_N = 20  # trailing window size (events)
MIN_N = 5    # minimum observations before scoring


def q80_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-monitor shape in batch: z-score each event's value against
    its user's trailing 20 observations, flag |z| > 3. Magnitude bound:
    the windowed sum of cents^2 stays in int64 up to |value| ~ 6.9e6 per
    20-row window (generator values are ~1e3); past that, promote the
    squares to decimal(30,0) (the q01 discipline) before DuckDB's HUGEINT
    and Spark's bigint diverge on overflow. The moving mean/std
    come from integer moments (values are 2dp-quantized -> exact cents):
    integer window sums stay EXACT even under the subtract-on-slide
    optimization both engines use for moving frames, where double
    accumulators would drift. One shuffle on user_id; per-row state is two
    running integers. z is emitted floor-quantized (x1e6) because round()
    at decimal ties is the one op the engines disagree on."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id").rowsBetween(-(ROLL_N - 1), 0)
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("cents").over(w)
    sxx = F.sum(F.col("cents") * F.col("cents")).over(w)
    num = n * sxx - sx * sx          # exact bigint arithmetic
    den = n * (n - 1)
    z = (
        (F.col("cents").cast("double") - sx.cast("double") / n.cast("double"))
        / F.sqrt(num.cast("double") / den.cast("double"))
    )
    scored = base.select(
        "user_id",
        "event_id",
        "cents",
        n.alias("n_window"),
        F.when((n >= MIN_N) & (num > 0), z).alias("z"),
    )
    return scored.select(
        "user_id",
        "event_id",
        "cents",
        F.col("n_window").cast("int").alias("n_window"),
        F.floor(F.col("z") * 1e6).cast("bigint").alias("z_e6"),
        F.when(F.col("z").isNotNull(), F.abs("z") > 3.0).alias("is_anomaly"),
    )


ORACLE_Q80 = f"""
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
m AS (
  SELECT user_id, event_id, cents,
         count(*)            OVER w AS n,
         sum(cents)          OVER w AS sx,
         sum(cents * cents)  OVER w AS sxx
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT user_id, event_id, cents, n,
         CASE WHEN n >= {MIN_N} AND (n * sxx - sx * sx) > 0 THEN
           (CAST(cents AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
         END AS z
  FROM m
)
SELECT user_id, event_id, cents,
       CAST(n AS INT)                                    AS n_window,
       CAST(floor(z * 1e6) AS BIGINT)                    AS z_e6,
       CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END     AS is_anomaly
FROM scored
"""


# --------------------------------------------------------------------------
# q88: batch sessionization -- per-event session assignment by 30-min gap
# --------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000


def q88_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every event its (user-local) session ordinal: a new session
    starts when the gap to the previous event exceeds 30 minutes. The
    batch twin of the streaming session window (q62) that emits PER-EVENT
    ids -- what downstream behavioral features join against. One user_id
    exchange carries both window passes (lag, then running sum of session
    starts); ordering ties break on event_id so the assignment is
    deterministic cross-engine. All integers -- hash-exact.

    Encoding-proof micros: under a MICROS drop both engines read exact
    microseconds; under a NANOS drop the loader floors nanos with
    `ts div 1000` (tables.py) and DuckDB's epoch_us on TIMESTAMP_NS
    truncates identically (verified: .123456789 -> 123456 on both), so
    the 30-minute gap compare can never flip between engines."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    prev = F.lag("tus").over(w)
    is_new = F.when(prev.isNull() | (F.col("tus") - prev > SESSION_GAP_US), 1).otherwise(0)
    marked = ev.select("event_id", "user_id", "tus", is_new.alias("is_new"))
    w2 = (
        W.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return marked.select(
        "event_id", "user_id", F.sum("is_new").over(w2).alias("session_seq")
    )


ORACLE_Q88 = f"""
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
m AS (
  SELECT *,
         CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
)
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
FROM m
"""


# --------------------------------------------------------------------------
# q89: exact equi-width histogram of event value per type
# --------------------------------------------------------------------------

HIST_BUCKETS = 10


def q89_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-width histogram of event value per event_type. The
    global (min, max) is a 1-row aggregate broadcast into the bucketing
    projection -- never a driver collect baked into the plan -- and the
    bucket index is pure integer arithmetic over exact cents (floor
    division), so boundary values cannot flip buckets across engines."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    rng = ev.agg(F.min("cents").alias("min_c"), F.max("cents").alias("max_c"))
    bucket = F.least(
        F.lit(HIST_BUCKETS - 1).cast("bigint"),
        F.expr(f"(cents - min_c) * {HIST_BUCKETS} DIV (max_c - min_c + 1)"),
    )
    return (
        ev.crossJoin(F.broadcast(rng))
        .groupBy("event_type", bucket.cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_Q89 = f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
r AS (SELECT min(cents) AS min_c, max(cents) AS max_c FROM e)
SELECT event_type,
       CAST(least({HIST_BUCKETS - 1}, (cents - min_c) * {HIST_BUCKETS} // (max_c - min_c + 1)) AS INT) AS bucket,
       count(*) AS n_events
FROM e, r
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q108: SCD-2 merge (upsert with history) -- the incremental-ingest operator
# --------------------------------------------------------------------------

SCD2_UPD_MOD = 5        # deterministic update batch: h60("upd:"+key) % 5 == 0
SCD2_BAL_BUMP = 1000    # cents added by the simulated update


def q108_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 merge: apply an incoming update
    batch to the customer dimension, closing out superseded versions and
    appending new ones with full history -- MERGE INTO semantics expressed
    as one full-outer-shaped join + union, which is exactly how engines
    without a native MERGE (plain parquet) implement CDC upserts.

    The update batch is a deterministic hash-selected subset (segment
    rewrite + balance bump in integer cents), so the merged output --
    (key, version, attrs, is_current) -- is pure integer/string data and
    hash-exact. Shape at 100 TB: ONE equi-join on the dimension key (the
    update batch is usually broadcastable) + a union of three disjoint
    row sets; no window, no global sort. History compaction is the same
    bucketed-write story as q58."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    is_upd = F.pmod(h60("concat('upd:', CAST(c_custkey AS STRING))"), F.lit(SCD2_UPD_MOD)) == 0
    updates = cust.filter(is_upd).select(
        "c_custkey",
        F.lit("MIGRATED").alias("c_mktsegment"),
        (F.col("bal_cents") + SCD2_BAL_BUMP).alias("bal_cents"),
    )
    joined = cust.join(
        F.broadcast(updates.select(F.col("c_custkey").alias("u_key"), F.col("c_mktsegment").alias("u_seg"), F.col("bal_cents").alias("u_bal"))),
        cust.c_custkey == F.col("u_key"),
        "left",
    )
    unchanged = joined.filter(F.col("u_key").isNull()).select(
        "c_custkey", F.lit(1).alias("version"), "c_mktsegment", "bal_cents", F.lit(True).alias("is_current")
    )
    closed = joined.filter(F.col("u_key").isNotNull()).select(
        "c_custkey", F.lit(1).alias("version"), "c_mktsegment", "bal_cents", F.lit(False).alias("is_current")
    )
    appended = joined.filter(F.col("u_key").isNotNull()).select(
        "c_custkey", F.lit(2).alias("version"), F.col("u_seg").alias("c_mktsegment"), F.col("u_bal").alias("bal_cents"), F.lit(True).alias("is_current")
    )
    return unchanged.unionByName(closed).unionByName(appended)


ORACLE_Q108 = f"""
WITH cust AS (
  SELECT c_custkey, c_mktsegment, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         {h60_sql("'upd:' || CAST(c_custkey AS VARCHAR)")} % {SCD2_UPD_MOD} = 0 AS is_upd
  FROM customer
)
SELECT c_custkey, 1 AS version, c_mktsegment, bal_cents, NOT is_upd AS is_current
FROM cust
UNION ALL
SELECT c_custkey, 2 AS version, 'MIGRATED' AS c_mktsegment,
       bal_cents + {SCD2_BAL_BUMP} AS bal_cents, TRUE AS is_current
FROM cust WHERE is_upd
"""


# --------------------------------------------------------------------------
# q118: recency-decayed engagement score (exponential decay counter)
# --------------------------------------------------------------------------

DECAY_TAU_S = 3600.0  # e-folding time constant: one hour


def q118_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user recency-weighted engagement: sum over the user's events of
    exp(-(T_u - t_i)/tau) where T_u is the user's LAST event time -- the
    standard decaying counter behind "active user" features (an event an
    hour old counts 1/e of a fresh one). Two narrow passes keyed by user:
    a max-agg for T_u (map-side combined) joined back, then the decayed
    sum. Exactness: exp of identical doubles is the same double both
    engines in practice, but exp is only 1-ulp accurate per libm -- so each
    term floor-quantizes at 1e-6, a quantum ~1e10 ulps wide (a 1-ulp libm
    disagreement flips a floor with probability ~1e-10 per term, vs ~1e-3
    per sweep at a 1e-9 quantum); the int64 term sum is order-free and the
    single final division emits the score at its exact 6dp -- the q92/q81
    fixed-point discipline applied to a float kernel."""
    ev = load(spark, sf_dir, "events").select("user_id", F.unix_micros("ts").alias("tus"))
    last = ev.groupBy("user_id").agg(F.max("tus").alias("last_tus"))
    term9 = F.floor(
        F.exp(-((F.col("last_tus") - F.col("tus")).cast("double") / 1e6) / F.lit(DECAY_TAU_S))
        * F.lit(1e6)
    ).cast("bigint")
    return (
        ev.join(last, "user_id")
        .select("user_id", term9.alias("t9"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("t9").alias("s9"))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("s9") / F.lit(1e6), 6).alias("decayed_score"),
        )
    )


ORACLE_Q118 = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
last AS (SELECT user_id, max(tus) AS last_tus FROM ev GROUP BY user_id),
t AS (
  SELECT ev.user_id,
         CAST(floor(exp(-(CAST(last_tus - tus AS DOUBLE) / 1e6) / {DECAY_TAU_S}) * 1e6) AS BIGINT) AS t9
  FROM ev JOIN last USING (user_id)
)
SELECT user_id, count(*) AS n_events, round(sum(t9) / 1e6, 6) AS decayed_score
FROM t
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# q129: point-in-time (temporal) join -- leakage-free feature attribution
# --------------------------------------------------------------------------

# The feature-store correctness primitive: join each fact row to the
# dimension VERSION that was valid at the fact's own timestamp, never the
# current one (training-serving skew / label leakage otherwise). Dimension
# history here is a deterministic SCD-2-style synthesis: every customer has
# a v1 segment from the epoch; a hash-selected ~1/7 migrate to 'MIGRATED'
# on a hash-derived day inside the order-date range.
PIT_MOD = 7                  # 1/7 of customers have a second version
PIT_BASE_DAY = 9131          # 1995-01-01 as days since epoch
PIT_DAY_SPAN = 1000          # migration day = base + h60 % span


def q129_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-effective-segment order totals under point-in-time semantics:
    each order joins the customer-segment version valid on its order date.

    Plan shape (q59's as-of machinery generalized to SCD lookups): union-tag
    snapshots and facts, ONE shuffle on the dimension key, and
    last(ignorenulls) over the (day, tag)-ordered window carries the
    in-effect version onto every fact row -- no inequality join, no per-key
    cross product, whatever the history depth. A snapshot dated the same
    day as a fact applies to it (tag orders snapshots first). All outputs
    integer cents/counts -- hash-exact."""
    from pyspark.sql import Window as W

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    mig = F.pmod(h60("concat('pit:', CAST(c_custkey AS STRING))"), F.lit(PIT_MOD)) == 0
    mig_day = PIT_BASE_DAY + F.pmod(
        h60("concat('pitday:', CAST(c_custkey AS STRING))"), F.lit(PIT_DAY_SPAN)
    )
    v1 = cust.select(
        "c_custkey", F.lit(-1).alias("day"), F.lit(0).alias("tag"), F.col("c_mktsegment").alias("seg")
    )
    v2 = cust.filter(mig).select(
        "c_custkey", mig_day.alias("day"), F.lit(0).alias("tag"), F.lit("MIGRATED").alias("seg")
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("string").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    tagged = v1.unionByName(v2).withColumn("cents", F.lit(None).cast("bigint")).unionByName(orders)
    w = (
        W.partitionBy("c_custkey")
        .orderBy("day", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = tagged.withColumn("eff_seg", F.last("seg", ignorenulls=True).over(w))
    return (
        filled.filter(F.col("tag") == 1)
        .groupBy(F.col("eff_seg").alias("segment_at_order"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # decimal sum (the q196 discipline): a bare bigint sum wraps
            # silently past 2^63 cents where the oracle's HUGEINT sum stays
            # exact; the final cast fails loudly (null) instead of lying
            F.sum(F.col("cents").cast("decimal(38,0)")).cast("bigint")
            .alias("revenue_cents"),
        )
    )


ORACLE_Q129 = f"""
WITH mig AS (
  SELECT c_custkey,
         {PIT_BASE_DAY} + ({h60_sql("'pitday:' || CAST(c_custkey AS VARCHAR)")} % {PIT_DAY_SPAN}) AS mig_day
  FROM customer
  WHERE ({h60_sql("'pit:' || CAST(c_custkey AS VARCHAR)")} % {PIT_MOD}) = 0
),
o AS (
  SELECT o_custkey AS c_custkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
eff AS (
  SELECT o.c_custkey, o.cents,
         CASE WHEN m.c_custkey IS NOT NULL AND o.day >= m.mig_day
              THEN 'MIGRATED' ELSE c.c_mktsegment END AS segment_at_order
  FROM o
  -- LEFT: an order whose custkey has no customer row keeps a NULL segment
  -- group, matching the window implementation (which simply finds no
  -- snapshot rows in that partition) instead of silently dropping the row.
  LEFT JOIN customer c ON o.c_custkey = c.c_custkey
  LEFT JOIN mig m ON o.c_custkey = m.c_custkey
)
SELECT segment_at_order, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM eff
GROUP BY segment_at_order
"""


# --------------------------------------------------------------------------
# q127: event-type transition matrix (first-order Markov behavior model)
# --------------------------------------------------------------------------

def q127_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's time-ordered
    event stream: for every (prev_type, next_type) pair, the transition
    count, the row-normalized probability in integer ppm, and whether the
    transition is a self-loop. The behavior model behind next-action
    prediction and funnel-anomaly detection; the event-stream twin of
    q92's document bigram LM.

    One user_id exchange carries the lag window (ordering ties break on
    event_id, so the sequence is deterministic cross-engine); the matrix
    aggregate is low-cardinality (|types|^2). All outputs are integers --
    hash-exact."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    marked = ev.select(
        F.lag("event_type").over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    counts = marked.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = W.partitionBy("prev_type")  # |types| rows -- bounded
    return (
        counts.withColumn("row_n", F.sum("n").over(row_tot))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("CAST(n * 1000000 DIV row_n AS BIGINT)").alias("p_ppm"),
            (F.col("prev_type") == F.col("next_type")).alias("self_loop"),
        )
    )


ORACLE_Q127 = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST(n * 1000000 // (sum(n) OVER (PARTITION BY prev_type)) AS BIGINT) AS p_ppm,
       prev_type = next_type AS self_loop
FROM counts
"""


# --------------------------------------------------------------------------
# q136: inter-arrival histogram (decade-bucketed gaps per event type)
# --------------------------------------------------------------------------

def q136_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of inter-arrival gaps per event type -- the burstiness/
    session-cadence diagnostic that picks sessionization thresholds (q88's
    30-minute gap) and rate-limit windows from data instead of folklore.

    Gap = microseconds since the same user's previous event (any type);
    attributed to the LATER event's type. Buckets are decimal decades
    computed as length(CAST(gap AS STRING)) -- an exact integer stand-in
    for floor(log10(gap))+1 that both engines evaluate identically (q105's
    no-float-log discipline; digit-count of a nonnegative BIGINT has no
    sign/locale pitfalls). One user_id exchange carries the lag window
    (ties break on event_id); the histogram aggregate is
    |types| x ~13 rows. All outputs integers -- hash-exact."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    w = W.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = ev.select(
        "event_type", (F.col("tus") - F.lag("tus").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy(
            "event_type",
            F.length(F.col("gap_us").cast("string")).cast("bigint").alias("gap_digits"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


ORACLE_Q136 = """
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(length(CAST(gap_us AS VARCHAR)) AS BIGINT) AS gap_digits,
       count(*) AS n,
       min(gap_us) AS min_gap_us,
       max(gap_us) AS max_gap_us
FROM seq WHERE gap_us IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q186: interval concurrency -- distributed sweep line over session intervals
# --------------------------------------------------------------------------

HOUR_US = 3_600_000_000


def q186_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour -- the load-curve operator behind
    capacity planning and concurrency SLAs: how many user sessions were
    simultaneously open, hour by hour.

    Classic sweep line, made distributed with a TWO-LEVEL prefix sum
    instead of one global ordering (a single-partition running sum is the
    textbook scale-killer): sessions (q88's 30-minute-gap rule; end =
    last event + gap) emit +-1 boundary events; each boundary lands in an
    epoch-hour bucket; the running sum WITHIN a bucket is a window
    partitioned by bucket (bounded rows per hour), and the carry-in BASE
    per bucket is a prefix sum over the tiny per-bucket delta totals
    (calendar-bounded row count -- at 100 TB it is still just one row per
    hour). Peak-per-hour = greatest(carry-in, carry-in + max in-bucket
    running sum). Ordering ties resolve by (t, d) with ends (-1) before
    starts (+1), so back-to-back sessions never double-count; the running
    sum uses the default RANGE frame (peers included), which makes every
    emitted value a complete tie-group sum -- deterministic in both
    engines regardless of physical tie order. Exact integers end to end;
    hours emitted as epoch-hour indexes (TZ-proof). Encoding-proof micros
    per q88's rule."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select("user_id", F.unix_micros("ts").alias("tus"))
    w = W.partitionBy("user_id").orderBy("tus")
    prev = F.lag("tus").over(w)
    is_new = F.when(prev.isNull() | (F.col("tus") - prev > SESSION_GAP_US), 1).otherwise(0)
    w2 = W.partitionBy("user_id").orderBy("tus").rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.select("user_id", "tus", F.sum(is_new).over(w2).alias("sid"))
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("tus").alias("s"), (F.max("tus") + SESSION_GAP_US).alias("e")
    )
    b = iv.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    bb = b.select(
        F.expr(f"t DIV {HOUR_US}").alias("hb"),
        "t",
        "d",
        F.sum("d").over(W.partitionBy(F.expr(f"t DIV {HOUR_US}")).orderBy("t", "d")).alias("run"),
    )
    hourly = bb.groupBy("hb").agg(
        F.count(F.lit(1)).alias("n_boundaries"),
        F.max("run").alias("peak_in"),
        F.sum("d").alias("delta"),
    )
    wh = W.orderBy("hb").rowsBetween(W.unboundedPreceding, -1)
    base = F.coalesce(F.sum("delta").over(wh), F.lit(0))
    return hourly.select(
        F.col("hb").alias("hour_idx"),
        "n_boundaries",
        F.greatest(base, base + F.col("peak_in")).cast("bigint").alias("max_concurrency"),
        (base + F.col("delta")).cast("bigint").alias("end_concurrency"),
    )


ORACLE_Q186 = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
m AS (
  SELECT user_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
),
s AS (
  SELECT user_id, tus,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
iv AS (
  SELECT user_id, sid, min(tus) AS st, max(tus) + {SESSION_GAP_US} AS en
  FROM s GROUP BY 1, 2
),
b AS (
  SELECT st AS t, 1 AS d FROM iv
  UNION ALL
  SELECT en AS t, -1 AS d FROM iv
),
bb AS (
  SELECT t // {HOUR_US} AS hb, t, d,
         sum(d) OVER (PARTITION BY t // {HOUR_US} ORDER BY t, d) AS run
  FROM b
),
h AS (
  SELECT hb, count(*) AS n_boundaries, max(run) AS peak_in, sum(d) AS delta
  FROM bb GROUP BY hb
),
f AS (
  SELECT hb, n_boundaries, peak_in, delta,
         COALESCE(sum(delta) OVER (ORDER BY hb ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS base
  FROM h
)
SELECT CAST(hb AS BIGINT)                              AS hour_idx,
       CAST(n_boundaries AS BIGINT)                    AS n_boundaries,
       CAST(greatest(base, base + peak_in) AS BIGINT)  AS max_concurrency,
       CAST(base + delta AS BIGINT)                    AS end_concurrency
FROM f
"""


# --------------------------------------------------------------------------
# q189: rolling 7-day distinct users (DAU / WAU) -- sliding-window distinct
# --------------------------------------------------------------------------

DAY_US = 86_400_000_000
WAU_DAYS = 7


def q189_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day WAU per day -- the engagement dashboard's
    backbone, and the operator naive per-day rollups get WRONG: distinct
    counts do not merge across days (a user active twice in the window is
    one WAU), so summing daily distincts overcounts and no associative
    re-aggregation fixes it.

    The scalable exact form: dedupe to (user, active-day) pairs (one
    shuffle, O(users x days)), explode each active day into the 7 windows
    it serves (a bounded x7 fan-out -- compare a 7-day self-join or a
    window-function scan over raw events), then one distinct-count per
    window day. DAU falls out of the same aggregation via a conditional
    distinct on delta=0 rows. Windows are emitted only for days that have
    events themselves (daily-anchored dashboard semantics), flagged inside
    the same aggregate -- no extra scan, no min/max collect. Day indexes
    are epoch-day integers (TZ-proof); encoding-proof micros per q88."""
    active = (
        load(spark, sf_dir, "events")
        .select("user_id", F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("d"))
        .distinct()
    )
    exp = active.select(
        "user_id", "d", F.explode(F.sequence(F.col("d"), F.col("d") + WAU_DAYS - 1)).alias("wd")
    )
    out = exp.groupBy("wd").agg(
        F.countDistinct("user_id").alias("wau"),
        F.countDistinct(F.when(F.col("wd") == F.col("d"), F.col("user_id"))).alias("dau"),
        F.max((F.col("wd") == F.col("d")).cast("int")).alias("_has_events"),
    )
    return (
        out.filter(F.col("_has_events") == 1)
        .select(F.col("wd").alias("day_idx"), "dau", "wau")
    )


ORACLE_Q189 = f"""
WITH active AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS d FROM events
),
exp AS (
  SELECT user_id, d, d + k AS wd
  FROM active, (SELECT unnest(range({WAU_DAYS})) AS k)
),
agg AS (
  SELECT wd,
         CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
         CAST(count(DISTINCT CASE WHEN wd = d THEN user_id END) AS BIGINT) AS dau,
         max(CASE WHEN wd = d THEN 1 ELSE 0 END) AS has_events
  FROM exp GROUP BY wd
)
SELECT CAST(wd AS BIGINT) AS day_idx, dau, wau
FROM agg WHERE has_events = 1
"""



def q196_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction with tombstones -- the batch form of
    change-data-capture apply that q108 (SCD-2 history keep) and q175
    (streaming upsert, no deletes) do not cover: replay an
    insert/update/DELETE change log and keep only each key's final
    state, where a trailing tombstone removes the key entirely.

    The log derives deterministically from orders so both engines build
    the identical input: key o_orderkey gets 1 + key%3 versions (seq is
    the change-log ordinal), every key%7 == 0 key's LAST version is a
    tombstone, version v reprices to cents + 100*v. Compaction is
    aggregate-first -- max_by(op|cents, seq) per key (DuckDB arg_max),
    so it map-side combines on the same shuffle instead of sorting a
    row_number window; seq is unique per key, making the argmax
    deterministic. Output: per order-status live-row count, live value
    cents, and tombstoned-key count.

    Scale: the bounded x3 explode then ONE hash aggregate on the key --
    the compaction shuffle any CDC consumer pays; no window sort, no
    join. At 100 TB the same plan holds with the log partitioned by
    arrival batch."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    log = (
        o.withColumn("n_vers", (F.lit(1) + F.col("o_orderkey") % 3).cast("int"))
        .withColumn("seq", F.explode(F.sequence(F.lit(1), F.col("n_vers"))))
        .withColumn(
            "op",
            F.when(
                (F.col("seq") == F.col("n_vers")) & (F.col("o_orderkey") % 7 == 0),
                F.lit("D"),
            )
            .when(F.col("seq") == 1, F.lit("I"))
            .otherwise(F.lit("U")),
        )
        .withColumn("v_cents", F.col("cents") + 100 * F.col("seq"))
    )
    final = log.groupBy("o_orderkey", "o_orderstatus").agg(
        F.expr("max_by(op, seq)").alias("last_op"),
        F.expr("max_by(v_cents, seq)").alias("last_cents"),
    )
    return final.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("last_op") != "D", 1).otherwise(0)).alias("n_live"),
        F.sum(
            F.when(F.col("last_op") != "D", F.col("last_cents"))
            .otherwise(0)
            .cast("decimal(30,0)")
        ).cast("bigint").alias("live_value_cents"),
        F.sum(F.when(F.col("last_op") == "D", 1).otherwise(0)).alias("n_tombstoned"),
    )


ORACLE_Q196 = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         1 + o_orderkey % 3 AS n_vers
  FROM orders
), log AS (
  SELECT o.*, u.seq,
         CASE WHEN u.seq = n_vers AND o_orderkey % 7 = 0 THEN 'D'
              WHEN u.seq = 1 THEN 'I' ELSE 'U' END AS op,
         cents + 100 * u.seq AS v_cents
  FROM o, UNNEST(generate_series(1, n_vers)) AS u(seq)
), final AS (
  SELECT o_orderkey, o_orderstatus,
         arg_max(op, seq) AS last_op,
         arg_max(v_cents, seq) AS last_cents
  FROM log GROUP BY o_orderkey, o_orderstatus
)
SELECT o_orderstatus,
       CAST(sum(CASE WHEN last_op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       CAST(sum(CASE WHEN last_op <> 'D' THEN CAST(last_cents AS HUGEINT)
                     ELSE 0 END) AS BIGINT) AS live_value_cents,
       CAST(sum(CASE WHEN last_op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstoned
FROM final
GROUP BY o_orderstatus
"""



GOLDEN_SNAPSHOTS = 3  # derived source-system snapshots merged per key


def q210_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: merge per-key records from several
    source snapshots where each source may carry stale or missing
    columns, keeping PER COLUMN the freshest non-null value -- the MDM
    merge that q108 (history keep) and q196 (whole-row last-wins with
    tombstones) bracket but neither performs. The snapshots derive
    deterministically from customer so both engines build identical
    input: snapshot k hides c_name where (c_custkey + k) % 3 = 0, hides
    acctbal where (c_custkey + k) % 4 = 0, and drifts surviving balances
    by k cents (freshest = largest k).

    Survivorship is max_by(value, CASE WHEN value IS NOT NULL THEN snap
    END) per column -- both engines' argmax ignores rows whose ordering
    key is NULL, so a column's winner is its freshest NON-NULL source,
    independent of any other column's choice. Aggregate-first: one key
    shuffle with map-side partials, no window sort, no self-join.

    Scale: input is snapshots x keys; the merge is one hash aggregate
    however many sources exist -- the survivorship ladder extends by
    adding (priority, recency) tuples to the ordering key."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    snaps = cust.select(
        "c_custkey", "c_name", "bal_cents",
        F.explode(F.sequence(F.lit(0), F.lit(GOLDEN_SNAPSHOTS - 1))).alias("snap"),
    ).select(
        "c_custkey",
        "snap",
        F.when((F.col("c_custkey") + F.col("snap")) % 3 != 0, F.col("c_name"))
        .alias("name"),
        F.when(
            (F.col("c_custkey") + F.col("snap")) % 4 != 0,
            F.col("bal_cents") + F.col("snap"),
        ).alias("bal"),
    )
    return snaps.groupBy("c_custkey").agg(
        F.expr("max_by(name, CASE WHEN name IS NOT NULL THEN snap END)")
        .alias("best_name"),
        F.expr("max_by(bal, CASE WHEN bal IS NOT NULL THEN snap END)")
        .alias("best_bal_cents"),
        F.sum(F.when(F.col("name").isNotNull(), 1).otherwise(0)).alias("n_name_sources"),
        F.sum(F.when(F.col("bal").isNotNull(), 1).otherwise(0)).alias("n_bal_sources"),
    )


ORACLE_Q210 = f"""
WITH snaps AS (
  SELECT c_custkey, u.snap,
         CASE WHEN (c_custkey + u.snap) % 3 <> 0 THEN c_name END AS name,
         CASE WHEN (c_custkey + u.snap) % 4 <> 0
              THEN CAST(round(c_acctbal * 100) AS BIGINT) + u.snap END AS bal
  FROM customer, UNNEST(generate_series(0, {GOLDEN_SNAPSHOTS - 1})) AS u(snap)
)
SELECT c_custkey,
       arg_max(name, CASE WHEN name IS NOT NULL THEN snap END) AS best_name,
       CAST(arg_max(bal, CASE WHEN bal IS NOT NULL THEN snap END) AS BIGINT)
         AS best_bal_cents,
       CAST(sum(CASE WHEN name IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_name_sources,
       CAST(sum(CASE WHEN bal IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bal_sources
FROM snaps
GROUP BY c_custkey
"""



def q215_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching as INTERVAL ALGEBRA -- the allocation problem
    (cost-basis, inventory consumption, order matching) that looks
    inherently sequential but is exactly expressible set-at-a-time:
    within each part, buys (odd line numbers) and sells (even) each get
    cumulative-quantity intervals [cum_prev, cum) in the same
    deterministic event order; FIFO says the k-th unit bought matches
    the k-th unit sold, so the quantity a (buy, sell) pair exchanges is
    simply the OVERLAP of their intervals -- no loop, no recursion, no
    per-row state. Lines pre-aggregate to unique (part, side, order,
    line) lots (the fixture repeats line numbers) so the window order
    is total.

    Per brand: matched units, unmatched buy-side and sell-side tails --
    the three numbers any allocation audit reconciles
    (matched + unmatched_buy = total bought, etc.).

    Scale: two part-keyed cumsum windows + one part-keyed equi-join
    whose interval predicate bounds the fan-out to genuinely
    overlapping lot pairs (each lot overlaps O(1 + its span / avg lot)
    counterparts); brand rollup broadcasts part."""
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_linenumber",
        F.round("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_linenumber") % 2 == 1).alias("is_buy"),
    )
    lots = li.groupBy("l_partkey", "is_buy", "l_orderkey", "l_linenumber").agg(
        F.sum("qty").alias("qty")
    )
    w = W.partitionBy("l_partkey", "is_buy").orderBy("l_orderkey", "l_linenumber")
    ivals = lots.select(
        "l_partkey", "is_buy", "qty",
        (F.sum("qty").over(w) - F.col("qty")).alias("lo"),
        F.sum("qty").over(w).alias("hi"),
    )
    buys = ivals.filter("is_buy").select(
        F.col("l_partkey").alias("pk"), F.col("lo").alias("b_lo"), F.col("hi").alias("b_hi")
    )
    sells = ivals.filter(~F.col("is_buy")).select(
        F.col("l_partkey").alias("pk2"), F.col("lo").alias("s_lo"), F.col("hi").alias("s_hi")
    )
    matched = (
        buys.join(
            sells,
            (F.col("pk") == F.col("pk2"))
            & (F.col("b_lo") < F.col("s_hi"))
            & (F.col("s_lo") < F.col("b_hi")),
        )
        .groupBy("pk")
        .agg(
            F.sum(
                F.least("b_hi", "s_hi") - F.greatest("b_lo", "s_lo")
            ).alias("matched_qty")
        )
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    totals = ivals.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("is_buy"), F.col("qty")).otherwise(0)).alias("bought"),
        F.sum(F.when(~F.col("is_buy"), F.col("qty")).otherwise(0)).alias("sold"),
    )
    per_part = totals.join(matched, totals.l_partkey == matched.pk, "left").select(
        "l_partkey", "bought", "sold",
        F.coalesce("matched_qty", F.lit(0)).alias("matched_qty"),
    )
    return (
        per_part.join(F.broadcast(part), per_part.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("matched_qty").cast("bigint").alias("matched_units"),
            F.sum(F.col("bought") - F.col("matched_qty")).cast("bigint")
            .alias("unmatched_buy_units"),
            F.sum(F.col("sold") - F.col("matched_qty")).cast("bigint")
            .alias("unmatched_sell_units"),
        )
    )


ORACLE_Q215 = """
WITH lots AS (
  SELECT l_partkey, l_linenumber % 2 = 1 AS is_buy, l_orderkey, l_linenumber,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  GROUP BY 1, 2, 3, 4
), ivals AS (
  SELECT l_partkey, is_buy, qty,
         sum(qty) OVER w - qty AS lo,
         sum(qty) OVER w AS hi
  FROM lots
  WINDOW w AS (PARTITION BY l_partkey, is_buy ORDER BY l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), matched AS (
  SELECT b.l_partkey AS pk,
         sum(least(b.hi, s.hi) - greatest(b.lo, s.lo)) AS matched_qty
  FROM (SELECT * FROM ivals WHERE is_buy) b
  JOIN (SELECT * FROM ivals WHERE NOT is_buy) s
    ON b.l_partkey = s.l_partkey AND b.lo < s.hi AND s.lo < b.hi
  GROUP BY 1
), totals AS (
  SELECT l_partkey,
         sum(CASE WHEN is_buy THEN qty ELSE 0 END) AS bought,
         sum(CASE WHEN NOT is_buy THEN qty ELSE 0 END) AS sold
  FROM ivals GROUP BY 1
)
SELECT p_brand,
       CAST(sum(coalesce(matched_qty, 0)) AS BIGINT) AS matched_units,
       CAST(sum(bought - coalesce(matched_qty, 0)) AS BIGINT) AS unmatched_buy_units,
       CAST(sum(sold - coalesce(matched_qty, 0)) AS BIGINT) AS unmatched_sell_units
FROM totals
LEFT JOIN matched ON l_partkey = pk
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


QUERIES = {
    "q53_sql_ml_inference": q53_sql_ml_inference,
    "q54_skyline": q54_skyline,
    "q55_range_join": q55_range_join,
    "q59_asof_join": q59_asof_join,
    "q74_funnel": q74_funnel,
    "q75_cohort_retention": q75_cohort_retention,
    "q79_resample_ffill": q79_resample_ffill,
    "q80_rolling_anomaly": q80_rolling_anomaly,
    "q88_sessionize": q88_sessionize,
    "q89_value_histogram": q89_value_histogram,
    "q108_scd2_merge": q108_scd2_merge,
    "q196_cdc_apply": q196_cdc_apply,
    "q210_golden_record": q210_golden_record,
    "q215_fifo_matching": q215_fifo_matching,
    "q118_decayed_engagement": q118_decayed_engagement,
    "q127_event_transitions": q127_event_transitions,
    "q129_point_in_time_join": q129_point_in_time_join,
    "q136_interarrival_histogram": q136_interarrival_histogram,
    "q186_concurrent_sessions": q186_concurrent_sessions,
    "q189_rolling_active_users": q189_rolling_active_users,
}

ORACLES = {
    "q53_sql_ml_inference": ORACLE_Q53,
    "q54_skyline": ORACLE_Q54,
    "q55_range_join": ORACLE_Q55,
    "q59_asof_join": ORACLE_Q59,
    "q74_funnel": ORACLE_Q74,
    "q75_cohort_retention": ORACLE_Q75,
    "q79_resample_ffill": ORACLE_Q79,
    "q80_rolling_anomaly": ORACLE_Q80,
    "q88_sessionize": ORACLE_Q88,
    "q89_value_histogram": ORACLE_Q89,
    "q108_scd2_merge": ORACLE_Q108,
    "q196_cdc_apply": ORACLE_Q196,
    "q210_golden_record": ORACLE_Q210,
    "q215_fifo_matching": ORACLE_Q215,
    "q118_decayed_engagement": ORACLE_Q118,
    "q127_event_transitions": ORACLE_Q127,
    "q129_point_in_time_join": ORACLE_Q129,
    "q136_interarrival_histogram": ORACLE_Q136,
    "q186_concurrent_sessions": ORACLE_Q186,
    "q189_rolling_active_users": ORACLE_Q189,
}
