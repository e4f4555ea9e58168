"""Relational core (SURVEY.md §2.2-§2.4, §2.8).

Thin, typed compositions over the DataFrame API — Catalyst handles pushdown,
pruning, join selection, and AQE re-planning; we only encode semantics and
scale-hygiene (broadcast hints for dimension tables, salting for skew).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datamunging_spark.functions import case_ladder

#: The reference's 11 percentile points (README.md:257).
DEFAULT_PERCENTILES = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99)

#: Bucket labels for the reference's 12-arm CASE ladder (README.md:238-251).
DEFAULT_BUCKET_LABELS = (
    "10th", "20th", "30th", "40th", "50th", "60th",
    "70th", "80th", "90th", "95th", "99th",
)
DEFAULT_BUCKET_ELSE = "99+th"


def _reserved_tmp_guard(df: DataFrame, names: tuple[str, ...], op: str) -> None:
    """Raise when an input already carries one of ``op``'s reserved temp
    column names — silently overwriting (withColumn) and then dropping it
    would corrupt the caller's data with no error. Same loud contract as
    dedup's ``_hash_tmp_guard`` / incremental_dedup's ``__dm_bloom_maybe``."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"input DataFrame already has reserved temp column(s) {clash}; "
            f"rename before calling {op} (these names are overwritten and "
            "dropped internally)"
        )


def group_count(df: DataFrame, *keys: str, out: str = "cnt") -> DataFrame:
    """Pig GROUP BY + COUNT (R14, README.md:129-130): map-side partial
    aggregation + one shuffle on the group keys."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))


def grouped_percentiles(
    df: DataFrame,
    key: str,
    value: Column,
    percentiles: tuple[float, ...] = DEFAULT_PERCENTILES,
    out: str = "percentiles",
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Grouped multi-percentile (R15, README.md:255-260).

    ``exact=True``: Spark ≥3.5 ``percentile`` — exact linear interpolation,
    the same definition as Hive ``percentile`` and DuckDB ``quantile_cont``;
    buffers all values per key (fine up to millions of rows per key).
    ``exact=False``: ``percentile_approx`` (KLL-like sketch, bounded memory
    ~``accuracy`` per key) — the 100 TB path when single keys can exceed
    executor memory; error ≤ 1/accuracy of rank.
    """
    pct_array = F.array(*[F.lit(p) for p in percentiles])
    agg = (
        F.percentile(value, pct_array)
        if exact
        else F.percentile_approx(value, pct_array, F.lit(accuracy))
    )
    return df.groupBy(key).agg(agg.alias(out))


def percentile_bucketize(
    df: DataFrame,
    key: str,
    value_col: str,
    keep_cols: list[str],
    percentiles: tuple[float, ...] = DEFAULT_PERCENTILES,
    labels: tuple[str, ...] = DEFAULT_BUCKET_LABELS,
    else_label: str = DEFAULT_BUCKET_ELSE,
    bucket_out: str = "bucket",
) -> DataFrame:
    """Flagship feature-generation query (R16, README.md:237-261).

    Per-``key`` percentile array → joined back to the fact rows → CASE-ladder
    bucket assignment. Scale shape: the aggregated side has ONE row per
    distinct key, so when key cardinality is modest AQE's runtime stats pick
    a broadcast join and the fact table is never shuffled (verified via
    explain at test SFs). The hint is deliberately NOT forced: at 100 TB a
    high-cardinality key would make a forced broadcast OOM the driver, so
    AQE decides. Fact scan prunes to ``keep_cols + [key, value_col]``.
    """
    value = F.col(value_col).cast("double")
    pct = grouped_percentiles(df, key, value, percentiles)
    joined = df.join(pct, on=key, how="inner")
    arms = [
        (F.col("percentiles").getItem(i), labels[i]) for i in range(len(labels))
    ]
    bucket = case_ladder(value, arms, else_label)
    return joined.select(
        *keep_cols, F.col(key), bucket.alias(bucket_out)
    )


def top_k_per_group(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[Column],
    k: int,
    rank_out: str = "rn",
    method: str = "row_number",
) -> DataFrame:
    """Top-k per group via a ranking window (§2.8 engine surface).
    ``method``: ``row_number`` (exactly k rows per group — callers must
    make ``order_by`` a total order for determinism), ``rank`` (keep
    ties at the boundary: groups can exceed k), or ``dense_rank`` (keep
    the top k DISTINCT order values).

    Single shuffle on ``partition_by``; with AQE the per-group sort is
    in-memory unless a group is skewed; Spark inserts WindowGroupLimit
    per-partition pre-filtering for all three rank functions.
    """
    fns = {
        "row_number": F.row_number,
        "rank": F.rank,
        "dense_rank": F.dense_rank,
    }
    if method not in fns:
        raise ValueError(f"method must be one of {sorted(fns)}, got {method!r}")
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_out, fns[method]().over(w))
        .filter(F.col(rank_out) <= k)
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "5 minutes",
) -> DataFrame:
    """Gap-based sessionization via the built-in ``session_window`` (§2.8
    growth path; no reference analog — standard event-pipeline operator).

    ``session_window`` is JVM-native, works identically in batch and
    Structured Streaming (with a watermark), and merges overlapping
    [ts, ts+gap) intervals per key — one shuffle on the key. Session end is
    last event + gap, per Spark's definition.
    """
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("sess"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            key_col,
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: dict[str, str] | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, the right row with the
    greatest ``right_ts`` ≤ ``left_ts`` within the same ``on`` key(s) — the
    time-series operator Spark lacks natively (DuckDB/Pandas ``ASOF JOIN``
    semantics, inclusive match). ``on`` may be one key name or a list
    (composite key).

    Scale shape: union-tag + window forward-fill — ONE shuffle on
    (key, time) and a linear scan per key, instead of a range join's
    quadratic per-key blowup. Left rows keep NULLs when no prior right row
    exists (left-join semantics).

    ``right_cols`` maps right column → output alias (default:
    ``{right_ts: f"asof_{right_ts}"}``).
    """
    on_keys = [on] if isinstance(on, str) else list(on)
    if right_cols is None:
        right_cols = {right_ts: f"asof_{right_ts}"}
    out_cols = list(right_cols.values())
    l_tag = left.withColumn("_ts", F.col(left_ts)).withColumn(
        "_is_l", F.lit(1)
    )
    # Carried right columns ride ONE never-null struct through the fill:
    # filling each column separately with ignorenulls would skip a matched
    # row's genuinely-NULL value and backfill the PREVIOUS row's — wrong
    # vs pandas/DuckDB ASOF semantics, where the matched row's NULL stays.
    r_tag = right.select(
        *[F.col(k) for k in on_keys],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_l"),
        F.struct(
            *[F.col(src).alias(dst) for src, dst in right_cols.items()]
        ).alias("_asof_p"),
    )
    u = r_tag.unionByName(l_tag, allowMissingColumns=True)
    # Right rows sort before left rows at equal _ts (inclusive <= match).
    w = (
        Window.partitionBy(*on_keys)
        .orderBy("_ts", "_is_l")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn(
        "_asof_p",
        F.last(
            F.when(F.col("_is_l") == 0, F.col("_asof_p")), ignorenulls=True
        ).over(w),
    )
    out = filled.filter(F.col("_is_l") == 1)
    for c in out_cols:
        out = out.withColumn(c, F.col("_asof_p").getField(c))
    return out.drop("_is_l", "_ts", "_asof_p")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: split every join key into ``n_salt``
    sub-keys so one hot key's rows spread over ``n_salt`` tasks instead
    of landing in one straggler. The ``big`` (skewed) side gets a
    DETERMINISTIC salt (xxhash64 of the whole row mod n_salt — no
    ``rand()``, so retried tasks and re-runs produce identical
    partitioning); the ``small`` side replicates across all n_salt
    values (bounded ``explode``, x n_salt rows). Result is row-identical
    to ``big.join(small, keys, how)`` for ``inner`` and ``left`` — the
    only ``how`` values accepted, because right/outer semantics break
    under replication (an unmatched small-side row would surface
    n_salt times).

    When to reach for it: AQE's skew-join split (on by default) already
    handles most sort-merge skew at runtime — prefer that. Salting is
    the portable fallback for the cases AQE cannot re-plan: skew inside
    a single giant key that must ALSO aggregate downstream, engines/
    modes without AQE, or bucketed/co-located joins where the runtime
    split would destroy the co-location. Cost is explicit: the small
    side shuffles/broadcasts n_salt-fold.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r} "
            "(right/outer would duplicate unmatched small-side rows "
            "n_salt times under replication)"
        )
    if n_salt < 1:
        raise ValueError(f"n_salt must be >= 1, got {n_salt}")
    _reserved_tmp_guard(big, ("_salt",), "salted_join")
    _reserved_tmp_guard(small, ("_salt",), "salted_join")
    overlap = (set(big.columns) & set(small.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"non-key column collision {sorted(overlap)}: alias before "
            "joining (same contract as Spark's own join)"
        )
    b = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]),
               F.lit(n_salt)).cast("int"),
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return b.join(s, [*keys, "_salt"], how).drop("_salt")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval range join (point ∈ [start, end], inclusive) via
    interval bucketing — the scale-correct alternative to the naive theta
    join, which Spark can only execute as BroadcastNestedLoop/cartesian.

    Shape: both sides get an integer bucket id (``floor(x / bucket_width)``);
    each interval is replicated across every bucket its span touches
    (one bounded ``explode(sequence)``), then a plain EQUI-join on the
    bucket id + an exact range filter. Work is
    O(points + intervals · avg_span/width + true_matches) with a uniform
    integer shuffle key — never |points| × |intervals|.

    Pick ``bucket_width`` near the median interval length: replication
    factor stays ~2 while each point probes one bucket. A pathological
    bucket (hot value range) is ordinary join skew — AQE's skew-join
    splitting applies, unlike the nested-loop plan which has no such
    escape hatch. Works for any orderable numeric; use unix seconds for
    timestamps.

    ``how`` may be ``inner`` or ``left`` (keep unmatched points with NULL
    interval columns; the range predicate lives in the join condition, so
    bucketing stays invisible to outer semantics). Interval-preserving
    (right/full) joins are rejected: the replicated interval side would
    emit one NULL-extended row per touched bucket, not per interval.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"range_join supports how='inner'|'left', got {how!r}"
        )
    _reserved_tmp_guard(points, ("_rbp",), "range_join")
    _reserved_tmp_guard(intervals, ("_rbi",), "range_join")
    p = points.withColumn(
        "_rbp", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    iv = intervals.withColumn(
        "_rbi",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(end_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    cond = (
        (F.col("_rbp") == F.col("_rbi"))
        & (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) <= F.col(end_col))
    )
    return p.join(iv, cond, how).drop("_rbp", "_rbi")


def _shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating the
    non-numeric ``"auto"`` value that AQE-managed platforms set — those
    fall back to the cluster's default parallelism instead of raising
    ValueError inside every distributed prefix computation.

    No default is passed to ``conf.get``: Spark 4 VALIDATES an explicit
    default against the conf's type, so ``conf.get(key, "")`` throws
    IllegalArgumentException on any session that never set the key
    (plain ``SparkSession.builder.getOrCreate()`` — the driver-contract
    session shape); without a default it returns the built-in "200"."""
    try:
        raw = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        raw = ""
    try:
        return int(raw)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def ranged_prefix_offsets(
    df: DataFrame, order_cols: list[str], part_agg: Column
) -> tuple[DataFrame, list[tuple[int, int]]]:
    """Shared skeleton of every distributed prefix computation in this
    repo (global row numbers here; running token sums in trainset): range
    partition on the order columns → ``localCheckpoint`` (so subsequent
    passes see identical partition assignment) → per-partition ``part_agg``
    (one row per partition collected to the driver — bounded by partition
    count, not data) → exclusive prefix offsets per partition id.

    Returns the checkpointed frame (with ``_pid`` added) and the
    ``[(pid, base_offset), ...]`` list; callers broadcast the offsets with
    whatever numeric type their running expression needs.
    """
    parts = _shuffle_partitions(df.sparkSession)
    part_cols = [F.col(c) for c in order_cols]
    slim = (
        df.repartitionByRange(parts, *part_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    per = {
        r["_pid"]: r["a"]
        for r in slim.groupBy("_pid").agg(part_agg.alias("a")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(per):
        offsets.append((pid, acc))
        acc += int(per[pid] or 0)
    return slim, offsets


def global_row_number(
    df: DataFrame, order_cols: list[str], out: str = "rn"
) -> DataFrame:
    """Global 1-based row number in ``order_cols`` order WITHOUT the
    single-task global window (`Window.orderBy` with no partitionBy pulls
    every row through one task — the classic scale killer). Built on
    :func:`ranged_prefix_offsets` + within-partition ``row_number``.

    Ties in ``order_cols`` get consistent-but-arbitrary numbers within the
    materialized run; include a unique tiebreak column for deterministic
    output (every caller in this repo does).
    """
    slim, offsets = ranged_prefix_offsets(
        df, order_cols, F.count(F.lit(1))
    )
    from datamunging_spark.sources.io import local_table

    base = F.broadcast(
        local_table(df.sparkSession, offsets, "_pid int, _base long")
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        slim.join(base, "_pid")
        .withColumn(out, F.col("_base") + F.row_number().over(w))
        .drop("_pid", "_base")
    )


def pivot_table(
    df: DataFrame,
    index: list[str],
    pivot_col: str,
    values: list[str] | None,
    agg: Column,
) -> DataFrame:
    """Long→wide reshape: one output row per ``index`` combination, one
    column per distinct ``pivot_col`` value, cells = ``agg`` (§2.8 engine
    surface; classic munging reshape — Pig/Hive express it as a manual
    CASE-WHEN fan-out, reference README.md's CASE-ladder idiom generalized).

    Pass ``values`` (the expected pivot domain) whenever it is known:
    Spark then skips the extra distinct-collect JOB it otherwise runs to
    discover the domain, the output schema is stable across runs (absent
    values become all-NULL columns instead of disappearing), and at 100 TB
    the domain scan is the difference between one pass and two. Cells with
    no contributing rows are NULL, matching SQL conditional-aggregation
    semantics. The plan is ONE hash aggregate on ``index`` (map-side
    partial; the pivot fan-out happens inside the aggregate, not as a
    join), so scale hygiene is the same as any group-by: shuffle bounded
    by |index| cardinality, wide-column count bounded by |values|.
    """
    return df.groupBy(*index).pivot(pivot_col, values).agg(agg)


def melt(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide→long reshape (pandas ``melt`` / SQL UNPIVOT): each row expands
    to one row per entry of ``value_cols``, labeled by ``var_name``.

    Thin wrapper over the built-in ``DataFrame.unpivot`` — a JVM-native
    narrow expand (no shuffle, no UDF; |value_cols|× row growth is explicit
    and bounded). ``value_cols`` must share a common type per Spark's
    unpivot contract; cast upstream if mixing.
    """
    return df.unpivot(id_cols, value_cols, var_name, value_name)


def gap_fill(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    value_cols: list[str],
    step: str = "1 day",
) -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed grid with
    forward-fill (the hypertable ``time_bucket_gapfill`` + ``locf`` shape;
    no reference analog — standard time-series munging).

    Per key: a spine of grid points starts at min(time) and advances by
    ``step`` until it covers max(time) — when the key's range is not a
    multiple of ``step``, one extra grid point past max(time) is added so
    the trailing observations still land in a bucket (no silent drop).
    Each ``value_cols`` entry is carried forward from the most recent real
    observation at-or-before the grid point (observations need NOT be
    grid-aligned). Output = spine rows only, one per (key, grid point),
    with ``n_obs`` = real observations in the bucket ending at that point
    (0 marks filled gaps); Σ n_obs == total observations with a non-NULL
    ``time_col`` (NULL-timestamp rows cannot be placed on the grid and
    are dropped).

    Scale shape: the same union-tag + window forward-fill as
    :func:`asof_join` — per-key bounds are one map-side-combinable
    aggregate, the spine is generated by ``explode(sequence(...))`` off
    that one-row-per-key frame (never a driver loop or cross join), and
    the fill is a single shuffle on ``keys`` + one linear scan per key.
    Spine size is explicit: Σ_keys (range/step) rows. A NULL value inside
    a real observation is carried over (treated as missing), matching
    ``locf`` semantics. Multiple observations at the SAME (key, instant)
    make the carried value order-dependent — pre-aggregate to one row per
    (key, instant) when exact determinism is required.
    """
    t = F.col(time_col)
    bounds = df.groupBy(*keys).agg(
        F.min(t).alias("_t0"), F.max(t).alias("_t1")
    )
    step_iv = F.expr(f"interval {step}")
    t_type = df.schema[time_col].dataType.simpleString()
    grid = F.sequence(F.col("_t0"), F.col("_t1"), step_iv)
    last = F.element_at(grid, -1)
    # range not a multiple of step → extend one step so the bucket ending
    # past max(time) exists and trailing observations are not dropped
    grid = F.when(
        last < F.col("_t1"),
        F.concat(grid, F.array((last + step_iv).cast(t_type))),
    ).otherwise(grid)
    spine = bounds.select(
        *keys, F.explode(grid).alias(time_col)
    ).withColumn("_is_real", F.lit(0))
    # NULL-timestamp rows are dropped: they cannot be placed on the grid
    # (the min/max spine already ignores them), and NULLs sort FIRST in
    # the per-key window — left in, they would inflate the first grid
    # point's n_obs and could seed the carried value, breaking the
    # Σ n_obs == total observations invariant.
    real = (
        df.select(*keys, time_col, *value_cols)
        .filter(t.isNotNull())
        .withColumn("_is_real", F.lit(1))
    )
    u = real.unionByName(spine, allowMissingColumns=True)
    # Real rows sort before the grid row at the same instant, so an
    # on-grid observation wins over the carried-forward value.
    w = (
        Window.partitionBy(*keys)
        .orderBy(t, F.desc("_is_real"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumns(
        {
            c: F.last(
                F.when(F.col("_is_real") == 1, F.col(c)), ignorenulls=True
            ).over(w)
            for c in value_cols
        }
    ).withColumn(
        "_n_obs",
        F.sum(F.col("_is_real")).over(w),
    )
    # Per-spine-row observation count = running real-row count delta
    # between consecutive grid points.
    w_spine = Window.partitionBy(*keys).orderBy(t)
    return (
        filled.filter(F.col("_is_real") == 0)
        .withColumn(
            "n_obs",
            (
                F.col("_n_obs")
                - F.coalesce(
                    F.lag("_n_obs").over(w_spine), F.lit(0)
                )
            ).cast("long"),
        )
        .drop("_is_real", "_n_obs")
    )


def hypertable_rollup(
    events: DataFrame,
    ts_col: str,
    bucket: str,
    agg_exprs: dict[str, Column],
    keys: list[str] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Time-bucketed rollup (the hypertable continuous-aggregate shape):
    fixed-width time buckets × optional dimension keys → named aggregates.
    ``slide`` turns the tumbling buckets into HOPPING windows (e.g.
    bucket="10 minutes", slide="5 minutes" → each event lands in
    bucket/slide overlapping windows — the moving-aggregate face of the
    same rollup; replication factor is that ratio, explicit and bounded).

    Thin, deliberately: ``F.window`` buckets + one hash aggregate
    (map-side partial, shuffle bounded by buckets × keys). The SAME
    expression lifts to Structured Streaming unchanged — add
    ``withWatermark`` and the rollup maintains itself incrementally
    (streaming/windowed_counts is exactly that instance), which is the
    point of the hypertable pattern: one definition, batch backfill +
    streaming refresh.
    """
    w = (
        F.window(ts_col, bucket, slide)
        if slide is not None
        else F.window(ts_col, bucket)
    )
    g = events.groupBy(w.alias("_w"), *(keys or [])).agg(
        *[c.alias(n) for n, c in agg_exprs.items()]
    )
    return g.select(
        F.col("_w.start").alias("bucket_start"),
        *(keys or []),
        *agg_exprs.keys(),
    )


#: Mergeable aggregate spec for incremental_rollup: kind -> (batch
#: aggregate fn, pairwise merge fn). least/greatest skip NULLs (Spark
#: semantics), and the coalesce(a+b, a, b) chain makes sum/count merges
#: treat an absent side as identity.
_MERGEABLE_AGGS = {
    "sum": (lambda c: F.sum(c), lambda a, b: F.coalesce(a + b, a, b)),
    "count": (
        lambda c: F.count(c if c is not None else F.lit(1)),
        lambda a, b: F.coalesce(a + b, a, b),
    ),
    "min": (lambda c: F.min(c), lambda a, b: F.least(a, b)),
    "max": (lambda c: F.max(c), lambda a, b: F.greatest(a, b)),
}


def incremental_rollup(
    agg_table: DataFrame | None,
    new_events: DataFrame,
    ts_col: str,
    bucket: str,
    aggs: dict[str, tuple],
    keys: list[str] | None = None,
) -> DataFrame:
    """Continuous-aggregate maintenance: fold ONE new event batch into an
    existing time-bucketed rollup without rescanning historical events —
    the incremental face of :func:`hypertable_rollup`, for the ingest
    loop that owns raw events too large to re-aggregate per refresh.

    ``aggs`` maps output column -> ("sum"|"count"|"min"|"max", src_col)
    (src_col ignored for count) — the MERGEABLE subset: each has an
    exact pairwise merge, so batch partials combine with the stored
    rollup per (bucket, keys) cell with no history rescans. Derived
    aggregates (avg = sum/count) are a projection over maintained parts,
    the standard continuous-aggregate decomposition. ``agg_table=None``
    seeds the rollup from the first batch; feeding each output back as
    the next call's ``agg_table`` is the loop.

    Scale shape: one hash aggregate over the BATCH (map-side partial,
    shuffle bounded by the batch's live buckets × keys) + one full-outer
    equi-join against the stored rollup — which is buckets × keys grain,
    orders of magnitude smaller than the event history; cells untouched
    by the batch pass through NULL-merged unchanged. NOT
    replay-idempotent by itself (re-folding a batch double-counts sums)
    — wrap the fold in the versioned store's batch tags for exactly-once
    (the streaming_apply_changelog pattern).
    """
    for name, spec in aggs.items():
        if spec[0] not in _MERGEABLE_AGGS:
            raise ValueError(
                f"agg {name!r}: kind {spec[0]!r} is not mergeable; "
                f"supported: {sorted(_MERGEABLE_AGGS)} (avg/stddev are "
                "projections over sum/count parts)"
            )
    grain = ["bucket_start", *(keys or [])]

    def _batch_agg(spec):
        kind = spec[0]
        col = F.lit(1) if kind == "count" else F.col(spec[1])
        return _MERGEABLE_AGGS[kind][0](col)

    batch = hypertable_rollup(
        new_events,
        ts_col,
        bucket,
        {name: _batch_agg(spec) for name, spec in aggs.items()},
        keys=keys,
    )
    if agg_table is None:
        return batch
    # NULL-SAFE grain merge: a NULL key value (or a NULL bucket_start
    # from NULL-ts events) is a real cell that must keep merging with
    # itself — name-list join equality would never match NULL==NULL and
    # the cell would fragment into one new row per fold
    a = agg_table.select(
        *[F.col(g).alias(f"_ga_{g}") for g in grain],
        *[F.col(n).alias(f"_a_{n}") for n in aggs],
    )
    b = batch.select(
        *[F.col(g).alias(f"_gb_{g}") for g in grain],
        *[F.col(n).alias(f"_b_{n}") for n in aggs],
    )
    cond = None
    for g in grain:
        c = F.col(f"_ga_{g}").eqNullSafe(F.col(f"_gb_{g}"))
        cond = c if cond is None else (cond & c)
    merged = a.join(b, on=cond, how="full_outer")
    return merged.select(
        *[
            F.coalesce(F.col(f"_ga_{g}"), F.col(f"_gb_{g}")).alias(g)
            for g in grain
        ],
        *[
            _MERGEABLE_AGGS[kind][1](
                F.col(f"_a_{name}"), F.col(f"_b_{name}")
            ).alias(name)
            for name, (kind, *_rest) in aggs.items()
        ],
    )


def rolling_stats(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    window_rows: int,
    stats: tuple[str, ...] = ("avg", "sum", "min", "max"),
    prefix: str = "roll_",
) -> DataFrame:
    """Trailing-window rolling aggregates per key: for each row, the
    aggregate over the last ``window_rows`` rows (current inclusive) in
    ``order_cols`` order — moving averages and friends over event series
    (§2.8 engine surface; pairs with :func:`gap_fill` to compute them on a
    regular grid).

    One shuffle on ``keys`` + a bounded ``rowsBetween`` frame (Spark keeps
    a sliding buffer of ``window_rows`` rows, not the whole partition).
    Make ``order_cols`` a total order (unique tiebreak) for deterministic
    output. NULL values are skipped by the aggregates per SQL semantics.
    """
    fns = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
           "count": F.count, "stddev": F.stddev_samp}
    unknown = set(stats) - set(fns)
    if unknown:
        raise ValueError(f"unknown rolling stats: {sorted(unknown)}")
    if window_rows < 1:
        raise ValueError(
            f"window_rows must be >= 1, got {window_rows} "
            "(0 or negative would build an empty frame and return NULLs)"
        )
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    return df.withColumns(
        {f"{prefix}{s}": fns[s](F.col(value_col)).over(w) for s in stats}
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket_width: float,
    max_rows_per_bucket: int | None = None,
) -> DataFrame:
    """Interval-OVERLAP join: one row per (left, right) pair whose closed
    intervals intersect (``l_start <= r_end AND r_start <= l_end``) — the
    two-sided sibling of :func:`range_join` (e.g. ad-spot × outage windows,
    session spans × incident spans). Spark would execute the raw theta
    join as BroadcastNestedLoop/cartesian; this is the banded equi form.

    Shape: BOTH sides replicate across the integer buckets their span
    touches (bounded ``explode(sequence)``), equi-join on the bucket id,
    then the exact overlap predicate. A pair sharing k buckets would
    match k times, so the join also requires the bucket to be the
    CANONICAL one — the bucket containing ``greatest(l_start, r_start)``
    (the overlap's left edge) — which keeps the output duplicate-free
    WITHOUT a distinct (no second shuffle). Work is
    O(Σ spans/width + true_matches); pick ``bucket_width`` near the
    median interval length as with range_join. Column-name collisions
    between the sides are the caller's contract (alias beforehand), same
    as Spark's own join. Inner semantics only: outer pairs are not
    defined for the replicated form.

    Hot-bucket valve: a bucket holding k_l × k_r overlapping spans (one
    bot user's 10^8 sessions all in one hour) does quadratic work in
    that one task. ``max_rows_per_bucket`` keeps each bucket's first k
    rows PER SIDE, ordered by (start, end, xxhash64(all columns)) — the
    hash tie-break makes the surviving set deterministic even when
    several spans share identical endpoints (a bot emits duplicates);
    pairs involving rows beyond the cap are dropped — the explicit
    trade, same contract as ``max_block``. (With the valve on, every
    column of both sides must be xxhash64-hashable — true for all scalar
    and array types; maps are not.)
    """
    w = float(bucket_width)
    if w <= 0:
        raise ValueError(
            f"bucket_width must be > 0, got {bucket_width} "
            "(0/negative widths would NULL the bucket sequence and "
            "silently return no pairs)"
        )
    _reserved_tmp_guard(left, ("_ibl",), "interval_join")
    _reserved_tmp_guard(right, ("_ibr",), "interval_join")
    lb = F.explode(
        F.sequence(
            F.floor(F.col(left_start) / F.lit(w)).cast("long"),
            F.floor(F.col(left_end) / F.lit(w)).cast("long"),
        )
    )
    rb = F.explode(
        F.sequence(
            F.floor(F.col(right_start) / F.lit(w)).cast("long"),
            F.floor(F.col(right_end) / F.lit(w)).cast("long"),
        )
    )
    l = cap_rows_per_key(
        left.withColumn("_ibl", lb),
        ["_ibl"],
        [left_start, left_end,
         F.xxhash64(*[F.col(c) for c in left.columns])],
        max_rows_per_bucket,
    )
    r = cap_rows_per_key(
        right.withColumn("_ibr", rb),
        ["_ibr"],
        [right_start, right_end,
         F.xxhash64(*[F.col(c) for c in right.columns])],
        max_rows_per_bucket,
    )
    canonical = F.floor(
        F.greatest(F.col(left_start), F.col(right_start)) / F.lit(w)
    ).cast("long")
    cond = (
        (F.col("_ibl") == F.col("_ibr"))
        & (F.col(left_start) <= F.col(right_end))
        & (F.col(right_start) <= F.col(left_end))
        & (F.col("_ibl") == canonical)
    )
    return l.join(r, cond, "inner").drop("_ibl", "_ibr")


def cap_rows_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    k: int | None,
) -> DataFrame:
    """Deterministic earliest-``k`` valve: keep each key's first ``k``
    rows by ``order_cols`` — the event-analytics sibling of entity
    resolution's ``max_block`` and dedup's ``max_gram_df``. Real event
    tables always contain one bot account with 10^8 events; operators
    that materialize per-key state (funnel's collect_list, a hot
    interval bucket's pairwise matches) need a hard bound on that key.
    ``k=None`` is a no-op. One window over the key exchange the caller
    was about to pay anyway (sort spills to disk — never an in-memory
    array of the hot key); make ``order_cols`` (names or Columns) a
    total order for byte-stable results — or at least value-total:
    rows tied on every order column AND every payload column are
    interchangeable, so the surviving multiset stays deterministic
    (funnel's (ts, type) order relies on exactly that). Sibling of
    :func:`~datamunging_spark.operators.sampling.cap_per_group`, which
    keeps a salted pseudo-RANDOM k per group (the training-mix
    guardrail); this one keeps the semantically EARLIEST k."""
    if k is None:
        return df
    if k < 1:
        raise ValueError(f"cap must be >= 1 or None, got {k}")
    _reserved_tmp_guard(df, ("_capn",), "cap_rows_per_key")
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_capn", F.row_number().over(w))
        .filter(F.col("_capn") <= k)
        .drop("_capn")
    )


def funnel_report(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users completed step 1, then
    step 2 AT-OR-AFTER step 1, … in sequence — the standard
    product-analytics query engines ship natively (and SQL expresses only
    as chained self-joins). Returns one row per step: (step 1-based,
    step_name, n_users reached), monotonically non-increasing.

    Semantics are EXACTLY the chained-min formulation
    (``t_i = min(ts of step_i events with ts >= t_{i-1})``) — the same
    definition the SQL self-join form computes, including equal-timestamp
    ties (a step-2 event at the same ts as the advancing step-1 event
    counts), so the x7_event_suite oracle pairing is semantics-identical
    by construction, not by data luck.

    Scale shape: ONE shuffle — events pre-filtered to the step types,
    collect_list per user (bounded by that user's step-type events), then
    k chained ``filter→transform→array_min`` expressions over the array
    compute each stage's timestamp (k = len(steps), all codegen'd; no
    sort needed — array_min is order-free). Once t_i is NULL every later
    t_j is NULL automatically (ts >= NULL filters everything), so the
    stage count is a plain sum of non-null flags. No window over the
    event table, no self-joins (the SQL form is k-1 self-joins of the
    event table), no Python.

    Hot-user valve: per-user state is bounded by that user's step-type
    events — fine for humans, unbounded for the one bot account every
    real event table contains. ``max_events_per_user`` keeps each user's
    EARLIEST k step events (deterministic (ts, type) order) before the
    collect; a capped user whose funnel completes only in later events is
    undercounted — the explicit trade, same contract as ``max_block``.
    """
    evs = events.filter(F.col(type_col).isin(steps))
    evs = cap_rows_per_key(
        evs, [user_col], [ts_col, type_col], max_events_per_user
    )
    evs = (
        evs.groupBy(user_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("ts"), F.col(type_col).alias("tp")
                )
            ).alias("_evs")
        )
    )
    # one-parameter lambda factories: PySpark maps EVERY parameter
    # (including defaults) to lambda variables, so captures must come
    # from closure scope, not default args
    def _first_cond(s):
        return lambda ev: ev["tp"] == F.lit(s)

    def _chained_cond(s, prev):
        return lambda ev: (ev["tp"] == F.lit(s)) & (ev["ts"] >= prev)

    t_prev = None
    t_cols = []
    for s in steps:
        cond = _first_cond(s) if t_prev is None else _chained_cond(s, t_prev)
        t_i = F.array_min(
            F.transform(F.filter(F.col("_evs"), cond), lambda ev: ev["ts"])
        )
        t_cols.append(t_i)
        t_prev = t_i
    stage = sum(
        (t.isNotNull().cast("int") for t in t_cols), F.lit(0)
    )
    per_user = evs.select(stage.alias("_stage")).filter(F.col("_stage") > 0)
    reached = per_user.groupBy("_stage").agg(
        F.count(F.lit(1)).alias("_n")
    )
    # users reaching step k = sum of users whose final stage >= k; the
    # running sum runs over n_steps rows — driver-scale, single partition
    # window is fine and bounded by the step count, not data
    from datamunging_spark.sources.io import local_table

    spine = local_table(
        events.sparkSession,
        [(i + 1, s) for i, s in enumerate(steps)],
        "step int, step_name string",
    )
    joined = spine.join(reached, spine.step == reached._stage, "left")
    win = Window.orderBy(F.col("step").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        joined.withColumn(
            "n_users",
            F.sum(F.coalesce(F.col("_n"), F.lit(0))).over(win),
        )
        .select("step", "step_name", "n_users")
        .orderBy("step")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
    max_events_per_user: int | None = None,
) -> DataFrame:
    """Cohort retention: users bucketed by their FIRST event's period
    (cohort), then counted distinct per (cohort, periods-since-cohort)
    offset — the classic retention triangle. Returns (cohort_start
    date, period_offset, n_users).

    Scale shape: one hash agg for first-event-per-user (map-side
    combinable), one equi-join back on the user key, one count-distinct
    agg on the (cohort, offset) key. The join is user-grain — at 100 TB
    of events the first-event side is |users| rows, far smaller than
    events, and both aggregates shuffle slim keys. Every per-key path is
    already partial-aggregatable, so a bot user mostly costs scan time;
    ``max_events_per_user`` (earliest-k by ts) still bounds the work the
    bot contributes downstream — its cohort is unchanged (the first
    event is by definition inside the earliest k), only its presence in
    offsets past the cap is dropped.
    """
    events = cap_rows_per_key(
        events, [user_col], [ts_col], max_events_per_user
    )
    firsts = events.groupBy(user_col).agg(F.min(ts_col).alias("_first_ts"))
    cohort = F.date_trunc("day", F.col("_first_ts")).cast("date")
    offset = F.floor(
        F.datediff(F.col(ts_col).cast("date"), cohort) / period_days
    ).cast("int")
    return (
        events.select(user_col, ts_col)
        .join(firsts, user_col)
        .select(
            cohort.alias("cohort_start"),
            offset.alias("period_offset"),
            F.col(user_col),
        )
        .groupBy("cohort_start", "period_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def flatten_structs(
    df: DataFrame, sep: str = "_", max_depth: int = 8
) -> DataFrame:
    """Expand nested struct columns into flat top-level columns
    (``a.b.c`` → ``a_b_c``) — the post-read normalizer for the XML/JSON
    sources, whose nested elements arrive as structs. Arrays and maps are
    left intact (exploding them changes cardinality — that is a separate,
    deliberate operation), and structs inside arrays stay nested for the
    same reason.

    Pure projection — zero shuffle, no data movement beyond the scan;
    column-pruning still reaches the source because the flattened
    references are ordinary nested-field accesses Catalyst pushes down.
    Driver-side schema recursion only; ``max_depth`` guards degenerate
    self-similar schemas. Raises ValueError when two flattened paths (or
    a path and an existing column) collide under ``sep`` — an ambiguous
    output frame would only fail later and more confusingly. Field names
    containing backticks are escaped per Spark identifier rules.
    """
    from pyspark.sql.types import StructType

    def q(name: str) -> str:
        # Spark identifier escaping: backtick doubles inside backticks
        return "`" + name.replace("`", "``") + "`"

    def fields(prefix_expr, prefix_name, dtype, depth):
        if isinstance(dtype, StructType) and depth < max_depth:
            out = []
            for f in dtype.fields:
                out += fields(
                    f"{prefix_expr}.{q(f.name)}",
                    f"{prefix_name}{sep}{f.name}" if prefix_name else f.name,
                    f.dataType,
                    depth + 1,
                )
            return out
        return [(prefix_expr, prefix_name)]

    cols = []
    seen: dict[str, str] = {}
    for f in df.schema.fields:
        for expr, name in fields(q(f.name), f.name, f.dataType, 0):
            if name in seen:
                raise ValueError(
                    f"flatten_structs: output name {name!r} produced by "
                    f"both {seen[name]} and {expr}; pick a different sep "
                    "or rename before flattening"
                )
            seen[name] = expr
            cols.append(F.expr(expr).alias(name))
    return df.select(*cols)
