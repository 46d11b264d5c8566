"""Time-decayed (exponential) aggregation over the ``events`` table.

Recency weighting is the standard way to turn an unbounded event log
into a bounded per-entity feature at 100 TB: every event contributes
``2^(-age/half_life)`` relative to an anchor timestamp, so the
aggregate is a single map-side-combinable SUM — no windowed state, no
per-entity sort, no retention cutoff scan.

Scale shape:

* ``ext_ewma_user`` anchors at each user's LAST event.  The plan is
  one shuffle on ``user_id`` — the window ``max(ts) OVER (PARTITION BY
  user_id)`` and the subsequent ``groupBy(user_id)`` share the same
  hash partitioning, so Catalyst inserts a single Exchange (pinned in
  ``tests/test_plans.py``).  At 1000 executors this is exactly the
  per-entity feature-build shape: linear scan, one shuffle keyed by a
  fixed-width id.
* ``ext_decay_trend`` anchors at the GLOBAL max timestamp — a 1-row
  aggregate attached via broadcast cross-join (the declared
  scalar-attach pattern, see ``scripts/check_oracles.py --plans``), then a
  plain partial-aggregating ``groupBy(event_type)``.

Numeric contract with the DuckDB oracle: the age is computed on exact
integer MICROSECONDS (`F.unix_micros` twins DuckDB
``date_diff('microsecond', …)``), divided to seconds and scaled in the
same association order, so the only engine divergence is sub-ulp
``pow``/summation drift — far inside the 4-decimal rounding both
sides apply.

Reference note: the reference pipeline library (smartpipeline) has no
time-series surface at all; this module is north-star extension
territory (SURVEY.md §2.12), modeled on the standard half-life
feature encoding used in production event stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from smartpipeline_spark import sources
from smartpipeline_spark.functions import ext_query

HALF_LIFE_S = 604800.0  # 7 days


def _decay_expr(anchor_ts, ts, half_life_s: float):
    """``2^(-(anchor-ts)/half_life)`` on exact integer-microsecond age."""
    age_s = (F.unix_micros(anchor_ts) - F.unix_micros(ts)) / F.lit(1e6)
    return F.pow(F.lit(2.0), -(age_s / F.lit(half_life_s)))


def ewma_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    half_life_s: float = HALF_LIFE_S,
) -> DataFrame:
    """Per-key exponentially-decayed sum/weight/mean, anchored at the
    key's most recent event.

    Returns one row per key: ``decayed_value`` (Σ v·w), ``decayed_n``
    (Σ w — the "effective recent event count"; ≥ 1 because the anchor
    event itself has weight 1), ``ewma_value`` (decay-weighted mean)
    and ``last_ts``.  One shuffle total: the anchor window and the
    aggregation hash-partition on the same key.
    """
    w = Window.partitionBy(key_col)
    anchor = F.max(ts_col).over(w)
    decay = _decay_expr(anchor, F.col(ts_col), half_life_s)
    weighted = df.select(
        key_col,
        F.col(ts_col).alias("_ts"),
        decay.alias("_w"),
        (F.col(value_col) * decay).alias("_wv"),
    )
    return weighted.groupBy(key_col).agg(
        F.round(F.sum("_wv"), 4).alias("decayed_value"),
        F.round(F.sum("_w"), 4).alias("decayed_n"),
        F.round(F.sum("_wv") / F.sum("_w"), 4).alias("ewma_value"),
        F.max("_ts").alias("last_ts"),
    )


def decay_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    half_life_s: float = HALF_LIFE_S,
) -> DataFrame:
    """Per-group decayed count/value anchored at the GLOBAL max
    timestamp — "what is trending right now" over an unbounded log.

    The anchor is a 1-row aggregate broadcast to every partition
    (declared scalar-attach cross-join); the aggregation itself is a
    plain partial-combinable groupBy, so the whole plan is one scan +
    one shuffle on ``group_col``.
    """
    anchor = df.agg(F.max(ts_col).alias("_anchor_ts"))
    joined = df.crossJoin(F.broadcast(anchor))
    decay = _decay_expr(F.col("_anchor_ts"), F.col(ts_col), half_life_s)
    return joined.groupBy(group_col).agg(
        F.round(F.sum(decay), 4).alias("decayed_n"),
        F.round(F.sum(F.col(value_col) * decay), 4).alias("decayed_value"),
    )


@ext_query(
    "ext_ewma_user",
    f"""WITH w AS (
          SELECT user_id, ts, value,
                 max(ts) OVER (PARTITION BY user_id) AS anchor
          FROM events
        )
        SELECT user_id,
               round(sum(value * power(2.0, -((date_diff('microsecond', ts, anchor) / 1e6) / {HALF_LIFE_S}))), 4) AS decayed_value,
               round(sum(power(2.0, -((date_diff('microsecond', ts, anchor) / 1e6) / {HALF_LIFE_S}))), 4) AS decayed_n,
               round(sum(value * power(2.0, -((date_diff('microsecond', ts, anchor) / 1e6) / {HALF_LIFE_S})))
                     / sum(power(2.0, -((date_diff('microsecond', ts, anchor) / 1e6) / {HALF_LIFE_S}))), 4) AS ewma_value,
               max(ts) AS last_ts
        FROM w
        GROUP BY user_id""",
)
def ext_ewma_user(spark, sf_dir):
    ev = sources.table(spark, "events", sf_dir)
    return ewma_by_key(ev, "user_id", "ts", "value")


@ext_query(
    "ext_decay_trend",
    f"""WITH anchor AS (SELECT max(ts) AS anchor_ts FROM events)
        SELECT event_type,
               round(sum(power(2.0, -((date_diff('microsecond', ts, anchor_ts) / 1e6) / {HALF_LIFE_S}))), 4) AS decayed_n,
               round(sum(value * power(2.0, -((date_diff('microsecond', ts, anchor_ts) / 1e6) / {HALF_LIFE_S}))), 4) AS decayed_value
        FROM events, anchor
        GROUP BY event_type""",
)
def ext_decay_trend(spark, sf_dir):
    ev = sources.table(spark, "events", sf_dir)
    return decay_trend(ev, "event_type", "ts", "value")
