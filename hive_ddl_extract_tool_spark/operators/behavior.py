"""User-behavior analytics over the events stream: marketing attribution,
conversion-path mining, exponential smoothing, A/B inference, and
time-weighted state averages.

These close the event-analytics families the funnel (q74), cohort (q75),
sessionize (q88), Markov-transition (q127), and cadence (q136) operators
do not cover: value ATTRIBUTION across touchpoints, full-path frequency
mining, and order-sensitive smoothing/holding-time aggregates.

Exactness discipline (engine house rules):
- money enters as exact integer cents (``round(value*100)`` -- raw event
  values are not derived arithmetic, so no mround epsilon is needed);
- every ratio is integer ppm via truncating integer division (both
  engines truncate positives identically);
- timestamp arithmetic is integer microseconds (``unix_micros`` /
  ``epoch_us``), the hostile-TZ-proven pattern;
- the one double computation (Welch's t, q197) is the same textual
  expression tree over EXACT integer moments in both engines, then
  floor-quantized to 1e-6 fixed point -- the q122/q192 ln discipline.

Scale: every window and group here is partitioned by ``user_id`` (or the
per-user conversion episode), so each query is one user-keyed exchange
plus a bounded rollup -- no global windows, no joins, no corpus re-scans.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ._hashing import h60, h60_sql
from ..tables import load

# Touch channels credited by the attribution model; purchases convert.
ATTR_TOUCHES = ("view", "click")
EWMA_K = 16            # trailing terms kept by the truncated dyadic EWMA
PATH_TOP_K = 20        # conversion paths reported


def _events_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )


def _tag_conversions(ev: DataFrame) -> DataFrame:
    """Assign every event to the NEXT purchase of its user: a reverse
    running count of purchases numbers episodes from the stream's end
    (the last purchase is conv_id 1; its preceding touches share it).
    Events after a user's final purchase get conv_id 0 and are dropped.
    conv_cents is the episode's single purchase value, carried by a
    window over the same (user, episode) partitioning -- never a join
    back against an O(conversions) table."""
    w_rev = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = ev.withColumn(
        "conv_id",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w_rev),
    ).filter(F.col("conv_id") >= 1)
    w_grp = W.partitionBy("user_id", "conv_id")
    return tagged.withColumn(
        "conv_cents",
        F.max(F.when(F.col("event_type") == "purchase", F.col("cents"))).over(w_grp),
    )


def q195_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted (U-shaped) multi-touch attribution: each
    purchase's value is split over the view/click touches of its episode
    -- 40% to the first touch, 40% to the last, the middle 20% evenly
    across interior touches (1 touch takes all; 2 touches take 50/50).
    Weights are exact integer ppm (the interior share uses truncating
    division, so up to n-3 ppm per conversion is deliberately dropped --
    identically in both engines); attributed value accumulates as exact
    cents*ppm integers. Per channel: touch count, attributed cents*ppm,
    and attributed whole cents.

    Scale: the episode tagging and position windows all hash on user_id
    -- one exchange end to end, then a channel-sized rollup."""
    touches = (
        _tag_conversions(_events_cents(spark, sf_dir))
        .filter(F.col("event_type").isin(*ATTR_TOUCHES))
    )
    w_grp = W.partitionBy("user_id", "conv_id")
    attributed = (
        touches
        .withColumn("n_t", F.count(F.lit(1)).over(w_grp))
        .withColumn("pos", F.row_number().over(w_grp.orderBy("ts", "event_id")))
        .withColumn(
            "weight_ppm",
            F.when(F.col("n_t") == 1, F.lit(1_000_000).cast("bigint"))
            .when(F.col("n_t") == 2, F.lit(500_000).cast("bigint"))
            .when((F.col("pos") == 1) | (F.col("pos") == F.col("n_t")),
                  F.lit(400_000).cast("bigint"))
            .otherwise(F.expr("CAST(200000 AS BIGINT) DIV (n_t - 2)")),
        )
        .withColumn(
            "attr", (F.col("conv_cents") * F.col("weight_ppm")).cast("decimal(30,0)")
        )
    )
    return (
        attributed.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("attr").cast("bigint").alias("attr_cents_ppm"),
        )
        .withColumn("attr_cents", F.expr("attr_cents_ppm DIV 1000000"))
    )


_CONV_CTE = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), tagged AS (
  SELECT *,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conv_id
  FROM e
), conv AS (
  SELECT *,
         max(CASE WHEN event_type = 'purchase' THEN cents END)
           OVER (PARTITION BY user_id, conv_id) AS conv_cents
  FROM tagged WHERE conv_id >= 1
)
"""

ORACLE_Q195 = _CONV_CTE + """
, touches AS (
  SELECT *,
         count(*)     OVER (PARTITION BY user_id, conv_id) AS n_t,
         row_number() OVER (PARTITION BY user_id, conv_id
                            ORDER BY ts, event_id) AS pos
  FROM conv WHERE event_type IN ('view', 'click')
)
SELECT channel, n_touches,
       attr_cents_ppm, attr_cents_ppm // 1000000 AS attr_cents
FROM (
  SELECT event_type AS channel,
         count(*) AS n_touches,
         CAST(sum(CAST(conv_cents * (
           CASE WHEN n_t = 1 THEN 1000000
                WHEN n_t = 2 THEN 500000
                WHEN pos = 1 OR pos = n_t THEN 400000
                ELSE 200000 // (n_t - 2) END) AS HUGEINT)) AS BIGINT)
           AS attr_cents_ppm
  FROM touches GROUP BY event_type
)
"""


def q199_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-path mining: per purchase episode, the ordered
    view/click/purchase sequence joined as a '>' path string; paths are
    then ranked by conversion count (value as exact cents, top-20 with a
    deterministic path tie-break). A purchase with no touches yields the
    bare 'purchase' path -- the direct-conversion share.

    The path string builds from array_sort(collect_list(struct(ts,
    event_id, type))) -- struct order is the total event order, so the
    aggregation is order-free under any partitioning (same trick as the
    driver-facing listagg q184). Scale: one user-keyed exchange, episode
    groups are bounded by a user's event count, and the final ranking is
    a TakeOrderedAndProject over the path table."""
    conv = _tag_conversions(_events_cents(spark, sf_dir))
    episodes = (
        conv.filter(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id", "conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("cents")))
            .alias("conv_cents"),
        )
    )
    return (
        episodes.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(F.col("conv_cents").cast("decimal(30,0)")).cast("bigint")
            .alias("value_cents"),
        )
        .orderBy(F.desc("n_conversions"), "path")
        .limit(PATH_TOP_K)
    )


ORACLE_Q199 = _CONV_CTE + f"""
, episodes AS (
  SELECT user_id, conv_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
         max(CASE WHEN event_type = 'purchase' THEN cents END) AS conv_cents
  FROM conv
  WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id, conv_id
)
SELECT path,
       count(*) AS n_conversions,
       CAST(sum(CAST(conv_cents AS HUGEINT)) AS BIGINT) AS value_cents
FROM episodes
GROUP BY path
ORDER BY n_conversions DESC, path
LIMIT {PATH_TOP_K}
"""


def q197_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with Welch's unequal-variance t-test:
    users split into two arms by the salted h60 hash (the assignment
    every engine can reproduce), per-user metric = total purchase cents
    (zero for non-buyers), then per-arm count / sum / sum-of-squares as
    EXACT integers. Welch's t and the Welch-Satterthwaite degrees of
    freedom are the only doubles -- computed from those exact moments by
    the SAME expression text in both engines (sums < 2^53, so the
    double conversion is itself exact) and floor-quantized to 1e-6.

    Scale: user rollup (one exchange with map-side partials) -> 2-row
    arm aggregate -> 1-row conditional pivot. The t computation is
    driver-free scalar algebra on that single row."""
    per_user = (
        _events_cents(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
            ).alias("metric")
        )
        .withColumn(
            "variant",
            F.pmod(h60("concat('ab:', CAST(user_id AS STRING))"), F.lit(2)),
        )
    )
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("metric").alias("s"),
        # metric^2 widens before the multiply: one user past ~$30M lifetime
        # cents squares beyond 2^63 -- Spark wraps silently, DuckDB errors
        F.sum(F.col("metric").cast("decimal(38,0)") * F.col("metric")).alias("q"),
    )
    pivot = arms.agg(
        F.sum(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("variant") == 0, F.col("s"))).alias("s0"),
        F.sum(F.when(F.col("variant") == 0, F.col("q"))).alias("q0"),
        F.sum(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("variant") == 1, F.col("s"))).alias("s1"),
        F.sum(F.when(F.col("variant") == 1, F.col("q"))).alias("q1"),
    )
    # Identical expression text in the oracle below -- keep in sync.
    return pivot.selectExpr(
        "n0", "n1",
        "CAST(s0 AS BIGINT) AS sum0_cents",
        "CAST(s1 AS BIGINT) AS sum1_cents",
        """CAST(floor(1000000.0 * (
             (CAST(s0 AS DOUBLE)/n0 - CAST(s1 AS DOUBLE)/n1)
             / sqrt( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
                   + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
           )) AS BIGINT) AS t_micro""",
        """CAST(floor(1000000.0 * (
             ( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
             + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
             * ( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
               + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
             / ( (((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0)
                 * (((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0) / (n0-1)
               + (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1)
                 * (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1) / (n1-1) )
           )) AS BIGINT) AS df_micro""",
        """abs( (CAST(s0 AS DOUBLE)/n0 - CAST(s1 AS DOUBLE)/n1)
             / sqrt( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
                   + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
           ) > 1.959964 AS significant""",
    )


ORACLE_Q197 = f"""
WITH per_user AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS metric,
         {h60_sql("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS variant
  FROM events GROUP BY user_id
), arms AS (
  SELECT variant, count(*) AS n,
         CAST(sum(metric) AS BIGINT) AS s,
         sum(CAST(metric AS HUGEINT) * metric) AS q
  FROM per_user GROUP BY variant
), piv AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN variant = 0 THEN s END) AS BIGINT) AS s0,
         -- q0/q1 stay HUGEINT through the pivot (mirroring Spark's decimal q):
         -- a ~$30M-lifetime-cents user squares past 2^63, and a BIGINT cast
         -- here would error in DuckDB while Spark computes fine -- the exact
         -- cross-engine divergence the widening exists to close. They are
         -- only consumed via CAST(.. AS DOUBLE) below.
         sum(CASE WHEN variant = 0 THEN q END) AS q0,
         CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN variant = 1 THEN s END) AS BIGINT) AS s1,
         sum(CASE WHEN variant = 1 THEN q END) AS q1
  FROM arms
)
SELECT n0, n1,
       CAST(s0 AS BIGINT) AS sum0_cents,
       CAST(s1 AS BIGINT) AS sum1_cents,
       CAST(floor(1000000.0 * (
         (CAST(s0 AS DOUBLE)/n0 - CAST(s1 AS DOUBLE)/n1)
         / sqrt( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
               + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
       )) AS BIGINT) AS t_micro,
       CAST(floor(1000000.0 * (
         ( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
         + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
         * ( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
           + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
         / ( (((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0)
             * (((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0) / (n0-1)
           + (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1)
             * (((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1) / (n1-1) )
       )) AS BIGINT) AS df_micro,
       abs( (CAST(s0 AS DOUBLE)/n0 - CAST(s1 AS DOUBLE)/n1)
         / sqrt( ((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/n0)/(n0-1))/n0
               + ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/n1)/(n1-1))/n1 )
       ) > 1.959964 AS significant
FROM piv
"""


def q198_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing with the DYADIC decay alpha = 1/2,
    truncated at 16 trailing terms: weight of the k-th most recent event
    is 2^(15-k)/2^16, so the numerator is an exact 64-bit integer sum --
    EWMA as order-free integer arithmetic, no float accumulation. Events
    beyond a user's first contribute implicit zeros (lag default), so
    early rows report a partial-window smooth with n_terms saying how
    partial. Emits each user's LAST smoothed value: numerator, whole
    cents (numerator DIV 2^16), and the term count.

    Scale: one user-keyed exchange; the 16 lags share a single window
    sort, and the final per-user argmax is the same partitioning."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = reduce(
        lambda a, b: a + b,
        [
            F.coalesce(F.lag("cents", k, 0).over(w), F.lit(0))
            * F.lit(1 << (EWMA_K - 1 - k))
            for k in range(1, EWMA_K)
        ],
        F.col("cents") * F.lit(1 << (EWMA_K - 1)),
    )
    smoothed = (
        _events_cents(spark, sf_dir)
        .withColumn("ewma_num", num)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_terms", F.least(F.col("rn"), F.lit(EWMA_K)))
        .withColumn(
            "last_rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
            ),
        )
        .filter(F.col("last_rn") == 1)
    )
    return smoothed.select(
        "user_id",
        "n_terms",
        F.col("ewma_num").cast("bigint").alias("ewma_num"),
        F.expr(f"CAST(ewma_num AS BIGINT) DIV {1 << EWMA_K}").alias("ewma_cents"),
    )


# coalesce on BOTH sides: lag's default only covers the partition edge,
# so a NULL cents value mid-stream would otherwise zero the term in Spark
# (coalesce) but NULL-propagate the whole numerator in DuckDB.
_EWMA_TERMS_SQL = " + ".join(
    [f"cents * {1 << (EWMA_K - 1)}"]
    + [f"coalesce(lag(cents, {k}, 0) OVER w, 0) * {1 << (EWMA_K - 1 - k)}"
       for k in range(1, EWMA_K)]
)

ORACLE_Q198 = f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), smoothed AS (
  SELECT user_id,
         CAST({_EWMA_TERMS_SQL} AS BIGINT) AS ewma_num,
         least(row_number() OVER w, {EWMA_K}) AS n_terms,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS last_rn
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, n_terms, ewma_num,
       ewma_num // {1 << EWMA_K} AS ewma_cents
FROM smoothed WHERE last_rn = 1
"""


def q200_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user: each value is held
    until the user's next event (step-function semantics, the ffill dual
    of q79's resample), so the average weights every cent by its holding
    time in integer MICROSECONDS -- sum(cents * held_us) over the user's
    span, exact decimal accumulation, one truncating division at the
    end. The last event holds nothing and contributes only to n_events.

    Scale: a single user-partitioned lead() window and a same-keyed
    rollup -- one exchange; the decimal(38,0) accumulator absorbs
    year-long holds of max-cent values without overflow."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = (
        _events_cents(spark, sf_dir)
        .withColumn("tus", F.unix_micros("ts"))
        .withColumn("held_us", F.lead("tus").over(w) - F.col("tus"))
    )
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("held_us").cast("bigint").alias("span_us"),
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("held_us"))
            .alias("weighted"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "n_events",
            "span_us",
            F.expr("CAST(weighted DIV CAST(span_us AS DECIMAL(38,0)) AS BIGINT)")
            .alias("twa_cents"),
        )
    )


ORACLE_Q200 = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), stepped AS (
  SELECT user_id, cents,
         lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) - tus
           AS held_us
  FROM e
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(held_us) AS BIGINT) AS span_us,
       CAST(sum(CAST(cents AS HUGEINT) * held_us)
            // CAST(sum(held_us) AS HUGEINT) AS BIGINT) AS twa_cents
FROM stepped
GROUP BY user_id
HAVING CAST(sum(held_us) AS BIGINT) > 0
"""



ROLL_N = 15            # rolling order-statistic window (ROWS 14 PRECEDING)


def q206_rolling_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 95th percentile of event value per user over the trailing
    15 events -- the order-statistic sibling of q80's rolling mean/std
    anomaly gauge (a p95 band is robust to the single spike that drags a
    mean band). EXACT discrete percentile: the frame's cents collect into
    a sorted array and the rank index is the pure integer
    ceil(19n/20) = (19n+19) DIV 20, so both engines pick the identical
    element -- no interpolation, no float rank arithmetic.

    Scale: one user-keyed window exchange; per-row state is the bounded
    15-element frame array, so memory is O(frame), not O(partition)."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_N - 1), W.currentRow)
    )
    ev = _events_cents(spark, sf_dir)
    staged = ev.select(
        "user_id",
        "event_id",
        F.sort_array(F.collect_list("cents").over(w)).alias("arr"),
    )
    return staged.select(
        "user_id",
        "event_id",
        F.size("arr").cast("int").alias("n_in_window"),
        F.element_at(
            "arr", F.expr("CAST((19 * size(arr) + 19) DIV 20 AS INT)")
        ).alias("p95_cents"),
    )


ORACLE_Q206 = f"""
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT user_id, event_id,
       CAST(len(arr) AS INT) AS n_in_window,
       arr[CAST((19 * len(arr) + 19) // 20 AS INT)] AS p95_cents
FROM (
  -- list_filter strips NULL cents to mirror Spark's collect_list, which
  -- DROPS nulls where DuckDB's list() keeps them: a NULL event value
  -- would otherwise shift n_in_window and the exact rank index (the q198
  -- NULL-asymmetry class). The frame still spans the physical rows.
  SELECT user_id, event_id,
         list_sort(list_filter(
           list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN {ROLL_N - 1} PRECEDING AND CURRENT ROW),
           x -> x IS NOT NULL)) AS arr
  FROM e
)
"""


def q207_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    engagement streak metric). The island key is the classic
    day - row_number() constant: consecutive days share it, any gap
    shifts it. Per user: distinct active days, island count, longest and
    latest streak lengths -- all from TZ-free epoch days.

    Scale: the (user, day) dedup and the island window share the user
    hash; islands aggregate without ever materializing per-day rows
    beyond the dedup."""
    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.expr("unix_micros(ts) DIV 86400000000").alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    islands = (
        days.withColumn("grp", F.col("day") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"), F.max("day").alias("end_day"))
    )
    return islands.groupBy("user_id").agg(
        F.sum("len").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.expr("max_by(len, end_day)").alias("current_streak"),
    )


ORACLE_Q207 = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
), islands AS (
  SELECT user_id,
         count(*) AS len,
         max(day) AS end_day
  FROM (
    SELECT user_id, day,
           day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
    FROM days
  )
  GROUP BY user_id, grp
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS active_days,
       count(*) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(arg_max(len, end_day) AS BIGINT) AS current_streak
FROM islands
GROUP BY user_id
"""


def q208_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type sets:
    for every unordered type pair, co-occurrence support plus directional
    confidence and lift -- the first-order output of an Apriori/FP-growth
    pass, exact because the itemset universe here is the type vocabulary.
    All ratios are integer ppm; lift clears its double division to the
    single integer expression n_pair * n_users * 1e6 DIV (n_a * n_b).

    Scale: baskets are (user, type) dedups bounded by the vocabulary, the
    pair self-join fans out at most |basket|^2 per user, and the
    1-row user total broadcasts (BroadcastNestedLoop by design)."""
    from ._cache import cached_df

    # staged: FOUR consumers read the dedup'd baskets (both self-join
    # sides, singles, totals) and Catalyst does not CSE across subtrees --
    # unstaged, the events fact was scanned + distinct-aggregated four
    # times per query
    baskets = cached_df(
        spark,
        f"q208_baskets:{sf_dir}",
        lambda: load(spark, sf_dir, "events").select("user_id", "event_type").distinct(),
    )
    totals = baskets.agg(F.countDistinct("user_id").alias("n_users"))
    singles = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_single"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_single").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a", "type_b", "n_pair",
            F.expr("n_pair * 1000000 DIV n_users").alias("support_ppm"),
            F.expr("n_pair * 1000000 DIV n_a").alias("conf_a_to_b_ppm"),
            F.expr("n_pair * 1000000 DIV n_b").alias("conf_b_to_a_ppm"),
            F.expr(
                "CAST((CAST(n_pair AS DECIMAL(38,0)) * n_users * 1000000)"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


ORACLE_Q208 = """
WITH baskets AS (
  SELECT DISTINCT user_id, event_type FROM events
), totals AS (
  SELECT count(DISTINCT user_id) AS n_users FROM baskets
), singles AS (
  SELECT event_type, count(*) AS n_single FROM baskets GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_pair
  FROM baskets a
  JOIN baskets b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_pair,
       CAST(n_pair * 1000000 // n_users AS BIGINT) AS support_ppm,
       CAST(n_pair * 1000000 // sa.n_single AS BIGINT) AS conf_a_to_b_ppm,
       CAST(n_pair * 1000000 // sb.n_single AS BIGINT) AS conf_b_to_a_ppm,
       CAST(CAST(n_pair AS HUGEINT) * n_users * 1000000
            // (CAST(sa.n_single AS HUGEINT) * sb.n_single) AS BIGINT)
         AS lift_ppm
FROM pairs
JOIN singles sa ON type_a = sa.event_type
JOIN singles sb ON type_b = sb.event_type
CROSS JOIN totals
"""



CUSUM_BAND_DIV = 10   # alarm band: |deviation| > n_days * total / 10


def q219_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type -- the statistical-process-
    control chart behind "did this metric's LEVEL shift mid-month?",
    which the distribution-vs-distribution monitors (q125/q146) and the
    rolling local anomaly gauges (q80/q206) both miss: a CUSUM
    accumulates small persistent shifts until they cross an alarm band.
    All integer arithmetic: for daily sums x_d with period total S over
    n days, the running deviation C_d = sum_{<=d} (n*x_d - S) is an
    exact integer multiple of n (avoiding the fractional daily mean),
    the alarm band is n*S DIV 10, and the emitted statistics are the
    crossing count, the peak |C_d|, and the peak day.

    Scale: one (type, day) pre-aggregation, a 5-row totals broadcast,
    and a per-type ordered window over DAYS (bounded by the calendar,
    not the event count) -- the same two-level discipline as q203."""
    daily = (
        _events_cents(spark, sf_dir)
        .groupBy("event_type", F.expr("unix_micros(ts) DIV 86400000000").alias("day"))
        .agg(F.sum("cents").alias("x"))
    )
    totals = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("s_total"),
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # widen BEFORE the products: n_days * x and n_days * s_total reach
    # ~1e19 once a type's total cents passes ~1e16 -- the bare int64
    # multiply wraps silently in Spark while the oracle's HUGEINT stays
    # exact (the d7e892e widening discipline)
    n_days_d = F.col("n_days").cast("decimal(38,0)")
    dev = (
        daily.join(F.broadcast(totals), "event_type")
        .withColumn(
            "c",
            F.sum(n_days_d * F.col("x") - F.col("s_total")).over(w),
        )
    )
    return dev.groupBy("event_type").agg(
        F.max("n_days").alias("n_days"),
        F.max(F.abs(F.col("c"))).cast("bigint").alias("peak_abs_dev"),
        # struct-max, not max_by: ties on |C| (e.g. the guaranteed final
        # zero) break to the LATEST day identically in both engines.
        F.max(F.struct(F.abs(F.col("c")).alias("a"), F.col("day").alias("d")))["d"]
        .alias("peak_day"),
        F.sum(
            F.when(F.abs(F.col("c")) * CUSUM_BAND_DIV > n_days_d * F.col("s_total"), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_alarms"),
    )


ORACLE_Q219 = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), totals AS (
  SELECT event_type, count(*) AS n_days,
         CAST(sum(x) AS BIGINT) AS s_total
  FROM daily GROUP BY 1
), dev AS (
  SELECT d.event_type, d.day, t.n_days, t.s_total,
         sum(CAST(t.n_days AS HUGEINT) * d.x - t.s_total)
           OVER (PARTITION BY d.event_type ORDER BY d.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM daily d JOIN totals t USING (event_type)
)
SELECT event_type,
       CAST(max(n_days) AS BIGINT) AS n_days,
       CAST(max(abs(c)) AS BIGINT) AS peak_abs_dev,
       CAST((max({{'a': abs(c), 'd': day}})).d AS BIGINT) AS peak_day,
       CAST(sum(CASE WHEN abs(c) * {CUSUM_BAND_DIV}
                     > CAST(n_days AS HUGEINT) * s_total THEN 1 ELSE 0 END)
            AS BIGINT) AS n_alarms
FROM dev
GROUP BY event_type
"""



def q224_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality decomposition (STL-lite): per event type and
    TZ-free day-of-week ((epoch_day + 4) % 7 -- epoch day 0 was a
    Thursday), the seasonal index = day-of-week mean over overall mean,
    in exact integer ppm via cross-multiplication
    (dow_sum * n_total * 1e6) / (n_dow * total_sum) with decimal
    widening (the numerator passes int64 at ~1e5 events). The index
    table is what a forecasting or anomaly job divides out before
    trending; dow coverage counts expose partial weeks.

    Scale: one (type, dow) aggregate (42 rows max) plus a 5-row totals
    broadcast -- the corpus is scanned once."""
    daily = (
        _events_cents(spark, sf_dir)
        .select(
            "event_type", "cents",
            ((F.expr("unix_micros(ts) DIV 86400000000") + 4) % 7).alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("n_dow"), F.sum("cents").alias("dow_sum"))
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("n_dow").alias("n_total"),
        F.sum("dow_sum").alias("s_total"),
    )
    return (
        daily.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "dow",
            "n_dow",
            F.col("dow_sum").cast("bigint").alias("dow_cents"),
            F.expr(
                "CAST((CAST(dow_sum AS DECIMAL(38,0)) * n_total * 1000000)"
                " DIV (CAST(n_dow AS DECIMAL(38,0)) * s_total) AS BIGINT)"
            ).alias("seasonal_index_ppm"),
        )
    )


ORACLE_Q224 = """
WITH daily AS (
  SELECT event_type,
         (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
         count(*) AS n_dow,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS dow_sum
  FROM events GROUP BY 1, 2
), totals AS (
  SELECT event_type,
         CAST(sum(n_dow) AS BIGINT) AS n_total,
         CAST(sum(dow_sum) AS BIGINT) AS s_total
  FROM daily GROUP BY 1
)
SELECT d.event_type, CAST(d.dow AS BIGINT) AS dow,
       CAST(d.n_dow AS BIGINT) AS n_dow,
       d.dow_sum AS dow_cents,
       CAST(CAST(d.dow_sum AS HUGEINT) * t.n_total * 1000000
            // (CAST(d.n_dow AS HUGEINT) * t.s_total) AS BIGINT)
         AS seasonal_index_ppm
FROM daily d JOIN totals t USING (event_type)
"""


# --------------------------------------------------------------------------
# q244: per-type activity trend (integer-exact grouped OLS over time)
# --------------------------------------------------------------------------

def q244_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear activity trend per event type: OLS slope of daily event
    count on the day index, entirely in EXACT integers -- the
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) are integer sums over
    the daily pre-aggregate, and the slope's closed form
    (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is an exact integer ratio. The
    milli-scaled slope divides via sign·(|num|·1000 DIV den): on the
    pinned engine pair both Spark DIV and DuckDB // happen to truncate
    toward zero (verified on duckdb 1.x), but negative-quotient
    integer-division semantics are NOT a portable contract across SQL
    engines/versions (floor vs truncate), so the sign/abs decomposition
    stays -- it is version-proof where a direct signed DIV would be a
    silent 1-off on every engine that floors. Complements q219 (level
    SHIFTS) and q224 (seasonality): this is the monotone drift term.

    Scale: events collapse to the calendar-bounded (type, day) table
    in one map-side-combined pass; the regression is a 5-integer
    aggregate per type over that tiny table."""
    daily = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # x = day - min(day) per type keeps Σx² small and the intercept
    # interpretable; min(day) rides a window over the calendar-bounded
    # daily table (a groupBy+join would re-derive the events scan --
    # Catalyst does not CSE the daily subtree across consumers)
    stats = (
        daily.withColumn("d0", F.min("day").over(W.partitionBy("event_type")))
        .select("event_type", (F.col("day") - F.col("d0")).alias("x"), "y")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return stats.select(
        "event_type", "n_days", "sy",
        num.alias("slope_num"),
        den.alias("slope_den"),
        # den = 0 exactly when a type has a single active day (all x
        # equal): no trend is estimable, emit 0 -- without the guard
        # ANSI-mode DIV raises DIVIDE_BY_ZERO on a degenerate fixture
        F.when(den == 0, F.lit(0).cast("bigint")).otherwise(
            F.signum(num).cast("bigint")
            * F.expr(
                "CAST(abs(n_days * sxy - sx * sy) * 1000"
                " DIV (n_days * sxx - sx * sx) AS BIGINT)"
            )
        ).cast("bigint").alias("slope_milli"),
    )


ORACLE_Q244 = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS y
  FROM events GROUP BY 1, 2
),
xy AS (
  SELECT event_type, day - min(day) OVER (PARTITION BY event_type) AS x, y
  FROM daily
),
stats AS (
  SELECT event_type,
         count(*) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY event_type
)
SELECT event_type, n_days, sy,
       CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(CASE WHEN n_days * sxx - sx * sx = 0 THEN 0
            ELSE CASE WHEN n_days * sxy - sx * sy >= 0 THEN 1 ELSE -1 END
                 * (abs(n_days * sxy - sx * sy) * 1000
                    // (n_days * sxx - sx * sx)) END AS BIGINT) AS slope_milli
FROM stats
"""


# --------------------------------------------------------------------------
# q240: winsorization audit (exact rank-statistic clipping)
# --------------------------------------------------------------------------

WINSOR_LO_PCT = 5   # clip below the exact p05 rank statistic
WINSOR_HI_PCT = 95  # and above the exact p95


def q240_winsorize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit per event type: the p05/p95 clip bounds as
    EXACT rank statistics (the value at ascending rank ceil(p*n) --
    integer arithmetic (p*n + 99) DIV 100, never an interpolated
    percentile, whose semantics are not pinned across engines: the
    q116 rule), the rows each side would clip, and the total value
    mass the clip removes in exact cents -- what a robust-metrics
    pipeline reports before replacing means with winsorized means.

    ONE corpus scan: everything derives from the bounded per-(type,
    cents) count map -- bounds via a cumulative window over it, clip
    counts and drift by re-aggregating THE SAME map against the
    broadcast bounds, so the fact is never re-read."""
    from ._cache import cached_df

    def build() -> DataFrame:
        return (
            load(spark, sf_dir, "events")
            .select(
                "event_type",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
            .groupBy("event_type", "cents")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    vmap = cached_df(spark, f"q240_vmap:{sf_dir}", build)
    wt = W.partitionBy("event_type").orderBy("cents")
    cum = vmap.select(
        "event_type", "cents", "c",
        F.sum("c").over(wt).alias("cum"),
        F.sum("c").over(W.partitionBy("event_type")).alias("n"),
    )
    bounds = cum.groupBy("event_type", "n").agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({WINSOR_LO_PCT} * n + 99) DIV 100"),
                F.col("cents"),
            )
        ).alias("lo_cents"),
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({WINSOR_HI_PCT} * n + 99) DIV 100"),
                F.col("cents"),
            )
        ).alias("hi_cents"),
    )
    return (
        vmap.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(F.when(F.col("cents") < F.col("lo_cents"), F.col("c")).otherwise(0))
            .alias("n_clip_lo"),
            F.sum(F.when(F.col("cents") > F.col("hi_cents"), F.col("c")).otherwise(0))
            .alias("n_clip_hi"),
            F.sum(
                F.when(
                    F.col("cents") < F.col("lo_cents"),
                    F.col("c") * (F.col("lo_cents") - F.col("cents")),
                )
                .when(
                    F.col("cents") > F.col("hi_cents"),
                    F.col("c") * (F.col("cents") - F.col("hi_cents")),
                )
                .otherwise(0)
            ).alias("drift_cents"),
        )
        .select(
            "event_type", "n", "lo_cents", "hi_cents",
            "n_clip_lo", "n_clip_hi", "drift_cents",
        )
    )


ORACLE_Q240 = f"""
WITH vmap AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, cents, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM vmap
),
bounds AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         min(CASE WHEN cum >= ({WINSOR_LO_PCT} * n + 99) // 100
                  THEN cents END) AS lo_cents,
         min(CASE WHEN cum >= ({WINSOR_HI_PCT} * n + 99) // 100
                  THEN cents END) AS hi_cents
  FROM cum GROUP BY event_type, n
)
SELECT v.event_type, n, lo_cents, hi_cents,
       CAST(sum(CASE WHEN cents < lo_cents THEN c ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN cents > hi_cents THEN c ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       CAST(sum(CASE WHEN cents < lo_cents THEN c * (lo_cents - cents)
                     WHEN cents > hi_cents THEN c * (cents - hi_cents)
                     ELSE 0 END) AS BIGINT) AS drift_cents
FROM vmap v JOIN bounds USING (event_type)
GROUP BY v.event_type, n, lo_cents, hi_cents
"""


# --------------------------------------------------------------------------
# q242: weekly quantile trend (exact rank statistics per period)
# --------------------------------------------------------------------------

TREND_WEEK_US = 7 * 86_400_000_000  # TZ-free week index: epoch-micros DIV week


def q242_weekly_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly p50/p95 trend per event type -- the monitoring series a
    latency/value dashboard plots, with every quantile an EXACT rank
    statistic (the value at ascending rank ceil(p*n) in pure integer
    arithmetic; interpolated percentile semantics are not pinned
    across engines: the q116 rule). Weeks are TZ-free epoch-micros
    integer division, the hostile-TZ-proven pattern.

    Scale: one scan map-side-combines to the (type, week, cents)
    count map (bounded by value levels x periods, not rows); the
    cumulative window and the min-when rank selections run per
    (type, week) partition on that map."""
    cents = F.round(F.col("value") * 100).cast("bigint")
    vmap = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr(f"unix_micros(ts) DIV {TREND_WEEK_US}").alias("week"),
            cents.alias("cents"),
        )
        .groupBy("event_type", "week", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wt = W.partitionBy("event_type", "week").orderBy("cents")
    cum = vmap.select(
        "event_type", "week", "cents", "c",
        F.sum("c").over(wt).alias("cum"),
        F.sum("c").over(W.partitionBy("event_type", "week")).alias("n"),
    )
    return cum.groupBy("event_type", "week", "n").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(50 * n + 99) DIV 100"), F.col("cents"))
        ).alias("p50_cents"),
        F.min(
            F.when(F.col("cum") >= F.expr("(95 * n + 99) DIV 100"), F.col("cents"))
        ).alias("p95_cents"),
    )


ORACLE_Q242 = f"""
WITH vmap AS (
  SELECT event_type, epoch_us(ts) // {TREND_WEEK_US} AS week,
         CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS c
  FROM events GROUP BY 1, 2, 3
),
cum AS (
  SELECT event_type, week, cents, c,
         sum(c) OVER (PARTITION BY event_type, week ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY event_type, week) AS n
  FROM vmap
)
SELECT event_type, week, CAST(n AS BIGINT) AS n,
       min(CASE WHEN cum >= (50 * n + 99) // 100 THEN cents END) AS p50_cents,
       min(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END) AS p95_cents
FROM cum
GROUP BY event_type, week, n
"""


# --------------------------------------------------------------------------
# q236: strict-sequence pattern matching with time constraints
# --------------------------------------------------------------------------

SEQ_PATTERN = ("view", "click", "purchase")
SEQ_MAX_GAP_S = 86400  # each consecutive step within a day of the previous


def q236_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style strict-sequence detection: count, per user,
    the view -> click -> purchase runs that are CONSECUTIVE in the
    user's view/click/purchase substream (no other funnel event
    interleaves -- stricter than q199's episode paths, which tolerate
    any number of intervening touches) with each step at most a day
    after the previous (the constraint bites: it rejects half the
    structural matches at sf0.001). The
    pattern is two lead() pairs over the (ts, event_id)-ordered user
    stream -- the window-function compilation of a fixed-length regex
    over rows, no self-joins. Top-20 users by match count; matched-run
    spans reported as exact integer seconds (epoch-difference, TZ-free).

    Scale: one user-keyed exchange; every lead() shares the single
    window sort; the top-k is TakeOrderedAndProject."""
    wo = W.partitionBy("user_id").orderBy("us", "event_id")
    ev = _events_cents(spark, sf_dir).filter(
        F.col("event_type").isin(*SEQ_PATTERN)
    ).select(
        "user_id", "event_type", F.expr("unix_micros(ts)").alias("us"), "event_id"
    ).select(
        "user_id", "event_type", "us",
        F.lead("event_type", 1).over(wo).alias("t1"),
        F.lead("us", 1).over(wo).alias("u1"),
        F.lead("event_type", 2).over(wo).alias("t2"),
        F.lead("us", 2).over(wo).alias("u2"),
    )
    a, b, c = SEQ_PATTERN
    gap_us = SEQ_MAX_GAP_S * 1_000_000
    hits = ev.filter(
        (F.col("event_type") == a)
        & (F.col("t1") == b)
        & (F.col("t2") == c)
        & (F.col("u1") - F.col("us") <= gap_us)
        & (F.col("u2") - F.col("u1") <= gap_us)
    )
    return (
        hits.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.expr("CAST(min((u2 - us) DIV 1000000) AS BIGINT)").alias("span_min_s"),
            F.expr("CAST(max((u2 - us) DIV 1000000) AS BIGINT)").alias("span_max_s"),
        )
        .orderBy(F.desc("n_matches"), "user_id")
        .limit(20)
    )


ORACLE_Q236 = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         lead(event_type, 1) OVER w AS t1,
         lead(epoch_us(ts), 1) OVER w AS u1,
         lead(event_type, 2) OVER w AS t2,
         lead(epoch_us(ts), 2) OVER w AS u2
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT user_id,
       count(*) AS n_matches,
       CAST(min((u2 - us) // 1000000) AS BIGINT) AS span_min_s,
       CAST(max((u2 - us) // 1000000) AS BIGINT) AS span_max_s
FROM ev
WHERE event_type = '{SEQ_PATTERN[0]}' AND t1 = '{SEQ_PATTERN[1]}'
  AND t2 = '{SEQ_PATTERN[2]}'
  AND u1 - us <= {SEQ_MAX_GAP_S * 1_000_000}
  AND u2 - u1 <= {SEQ_MAX_GAP_S * 1_000_000}
GROUP BY user_id
ORDER BY n_matches DESC, user_id
LIMIT 20
"""


QUERIES = {
    "q195_position_attribution": q195_position_attribution,
    "q197_ab_welch": q197_ab_welch,
    "q198_ewma": q198_ewma,
    "q199_conversion_paths": q199_conversion_paths,
    "q200_time_weighted_avg": q200_time_weighted_avg,
    "q206_rolling_p95": q206_rolling_p95,
    "q207_activity_streaks": q207_activity_streaks,
    "q208_association_rules": q208_association_rules,
    "q219_cusum_drift": q219_cusum_drift,
    "q224_seasonal_index": q224_seasonal_index,
    "q236_sequence_match": q236_sequence_match,
    "q240_winsorize_audit": q240_winsorize_audit,
    "q242_weekly_quantiles": q242_weekly_quantiles,
    "q244_activity_trend": q244_activity_trend,
}
ORACLES = {
    "q195_position_attribution": ORACLE_Q195,
    "q197_ab_welch": ORACLE_Q197,
    "q198_ewma": ORACLE_Q198,
    "q199_conversion_paths": ORACLE_Q199,
    "q200_time_weighted_avg": ORACLE_Q200,
    "q206_rolling_p95": ORACLE_Q206,
    "q207_activity_streaks": ORACLE_Q207,
    "q208_association_rules": ORACLE_Q208,
    "q219_cusum_drift": ORACLE_Q219,
    "q224_seasonal_index": ORACLE_Q224,
    "q236_sequence_match": ORACLE_Q236,
    "q240_winsorize_audit": ORACLE_Q240,
    "q242_weekly_quantiles": ORACLE_Q242,
    "q244_activity_trend": ORACLE_Q244,
}
