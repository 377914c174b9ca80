"""Event-time windowing helpers (batch): gap-based sessionization and
tumbling windows as reusable DataFrame transforms.

Scale: one shuffle on the entity key; everything after is per-partition
sorted streaming — the batch analogue of a streaming session window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign a per-key session_id that increments whenever the gap from
    the previous event exceeds `gap_seconds`. Adds `session_id`."""
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull() | ((F.unix_timestamp(ts_col) - F.unix_timestamp(prev_ts)) > gap_seconds),
        1,
    ).otherwise(0)
    running = Window.partitionBy(key_col).orderBy(ts_col, *order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_id", F.sum(is_new).over(running).cast("bigint"))


def tumbling_window(
    df: DataFrame, ts_col: str = "ts", width: str = "1 hour"
) -> DataFrame:
    """Add window_start/window_end columns for a tumbling window."""
    w = F.window(F.col(ts_col), width)
    return df.withColumn("window_start", w.start).withColumn("window_end", w.end)


def markov_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """First-order transition matrix over per-key ordered event streams:
    (prev_type, next_type, n_transitions, p_transition). One shuffle on
    the entity key for the lag window, then a |types|^2-key census.
    Registered instance: events_markov_transitions."""
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    seq = df.withColumn("__prev", F.lag(type_col).over(w)).filter(F.col("__prev").isNotNull())
    trans = seq.groupBy(
        F.col("__prev").alias("prev_type"), F.col(type_col).alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    total = Window.partitionBy("prev_type")
    return trans.withColumn(
        "p_transition",
        F.round(
            F.col("n_transitions").cast("double") / F.sum("n_transitions").over(total).cast("double"),
            6,
        ),
    )


def hourly_anomaly(
    df: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    top_k: int = 20,
) -> DataFrame:
    """Per-type hourly volume z-scores from exact integer sufficient
    statistics (SUM(c), SUM(c*c) over hours — no float-order drift),
    top-k |z| rows. Registered instance: events_hourly_anomaly."""
    hourly = df.groupBy(
        F.col(type_col).alias("event_type"), F.date_trunc("hour", F.col(ts_col)).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.sum("c").cast("double").alias("s1"),
        F.sum(F.col("c").cast("decimal(19,0)") * F.col("c").cast("decimal(19,0)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("nh")
    std = F.sqrt(F.greatest(F.col("s2") / F.col("nh") - mean * mean, F.lit(0.000001)))
    z = F.round((F.col("c").cast("double") - mean) / std, 4)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.col("c").cast("bigint").alias("n_events"),
            z.alias("zscore"),
        )
        .orderBy(F.abs(F.col("zscore")).desc(), "event_type", "hour_ts")
        .limit(top_k)
    )


def scd2_history(
    df: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple[str, ...] = ("event_id",),
    open_end: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a change log
    (tunable twin of the registered ``events_scd2_history``): per key,
    consecutive same-state runs collapse into validity intervals; the
    last run per key stays open (``is_current``). Island detection —
    LAG marks change points, a running SUM numbers segments, LEAD
    closes each interval. All three windows share one shuffle on the
    key column.
    """
    order = [F.col(ts_col), *(F.col(c) for c in order_cols)]
    w = Window.partitionBy(key_col).orderBy(*order)
    marked = df.withColumn(
        "__chg",
        F.when(
            F.lag(state_col).over(w).isNull()
            | (F.lag(state_col).over(w) != F.col(state_col)),
            1,
        ).otherwise(0),
    ).withColumn(
        "__seg",
        F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    segs = marked.groupBy(key_col, state_col, "__seg").agg(
        F.min(ts_col).alias("__start"), F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    ws = Window.partitionBy(key_col).orderBy("__seg")
    hist = segs.withColumn("__end", F.lead("__start").over(ws))
    return hist.select(
        F.col(key_col),
        F.col(state_col).alias("state"),
        F.date_format("__start", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(F.date_format("__end", "yyyy-MM-dd HH:mm:ss"), F.lit(open_end)).alias(
            "valid_to"
        ),
        "n_events",
        F.when(F.col("__end").isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


def global_rank(
    df: DataFrame,
    key_col: str,
    uid_col: str,
    *,
    descending: bool = False,
    cum_sum_col: str | None = None,
    n_buckets: int = 32,
    rank_col: str = "rank",
    cum_col: str = "cum_sum",
) -> DataFrame:
    """Exact global rank (and optional exact running sum) WITHOUT a
    single-partition window — the RangePartitioner two-pass behind
    parts_abc_classification / customer_spend_gini /
    customer_rfm_segments / events_power_users_pareto: a bounded
    deterministic sample picks composite (key, uid) range cut points,
    rows get buckets map-side, and ROW_NUMBER / running sums execute
    partitioned by bucket with exact collected offsets inlined.

    Contract: ``key_col`` must be non-NULL (COALESCE first — engines
    and the cut comparisons disagree on NULL ordering); ``uid_col``
    must be a unique tie-break. For exact running sums pass a DECIMAL
    or integer ``cum_sum_col`` (float sums are order-dependent).
    """
    import uuid

    from ..plans.relational import _exact_rank_stage

    # private stagings: the input is an arbitrary DataFrame, so nothing
    # names its content for sharing
    ranked, _n, _tot = _exact_rank_stage(
        df.sparkSession, None, f"oprank_{uuid.uuid4().hex}", df, key_col, uid_col,
        desc=descending, sum_col=cum_sum_col, n_buckets=n_buckets,
    )
    out = ranked.withColumnRenamed("_rank", rank_col)
    if cum_sum_col is not None:
        out = out.withColumnRenamed("_cum", cum_col)
    return out.drop("_bkt")
