"""Feature-engineering operators: discretization and standardization.

Training pipelines bin and standardize features before model fitting
(reference trains on precomputed score columns, code/recipes.py
build_model; these produce such columns at corpus scale).

Both operators follow the same 100 TB shape as ``llm.percentile_filter``:
the per-group statistics reduce to |groups| (or |groups| x |bins|) rows
in one map-side-combined aggregate, broadcast back onto the scan
(:func:`backend_spark.scale.broadcast_back`) — the corpus itself never
shuffles and never sorts.  The naive formulations
(global ``ntile`` = every row through ONE partition; window
mean/stddev = full shuffle) are exactly what these avoid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from backend_spark import functions as fn
from backend_spark.scale import (
    assign_row_ids,
    broadcast_back,
    check_group_cap,
    prefix_sums,
    spread_scan,
    stage,
)


def quantile_bins(
    df: DataFrame,
    col: str,
    n_bins: int,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Equal-frequency discretization: assign each row the bin index in
    ``[0, n_bins)`` of its ``col`` value within its group's exact
    quantile grid (bin = number of interior quantile boundaries <= x).

    Boundaries are exact ``F.percentile`` (reproducible; interpolated
    midpoints are exact in doubles for integer inputs), collected into
    one tiny array per group and broadcast — binning is then a pure
    Column fold over the boundary array, no shuffle of the data.
    """
    out = out_col or f"{col}_bin"
    qs = [i / n_bins for i in range(1, n_bins)]
    bounds = F.percentile(F.col(col), F.array(*[F.lit(q) for q in qs])).alias("__bounds")
    keys = [] if group_col is None else [group_col]
    binned = broadcast_back(df, df.groupBy(*keys).agg(bounds), keys).withColumn(
        out,
        F.aggregate(
            "__bounds",
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(col) >= b, 1).otherwise(0),
        ),
    )
    return binned.drop("__bounds")


def zscore(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group standardization ``(x - mean) / stddev`` (sample
    stddev), rounded to 4 places (not ``fn.NDIGITS``) so the result is
    reproducible cross-engine despite summation-order float drift.  Groups with zero
    variance (or a single row) get null, never a division error.
    """
    out = out_col or f"{col}_z"
    aggs = [
        F.avg(col).alias("__mean"),
        F.stddev_samp(col).alias("__std"),
    ]
    keys = [] if group_col is None else [group_col]
    scored = broadcast_back(df, df.groupBy(*keys).agg(*aggs), keys).withColumn(
        out,
        F.when(
            F.col("__std") > 0,
            F.round((F.col(col) - F.col("__mean")) / F.col("__std"), 4),
        ),
    )
    return scored.drop("__mean", "__std")


def resample_gapfill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket: int,
    value_col: str | None = None,
) -> DataFrame:
    """Time-series resampling with gap fill: aggregate into fixed
    ``bucket``-width bins (same units as ``ts_col``) and emit EVERY
    bucket between each key's first and last event — empty buckets
    appear with ``n_events = 0`` (and null sum), which downstream
    models need and a plain groupBy silently omits.  Sums are rounded
    to 2 places.

    Shuffle budget: one keyed aggregate for the bin stats and one for
    the per-key span (same key — AQE reuses the exchange); the dense
    grid explodes from |keys| span rows (bounded by time-span /
    bucket, not by event count) and hash-joins back.  Nothing scans
    the raw events twice.
    """
    b = df.withColumn(
        "__bucket", (F.expr(f"{ts_col} div {bucket}") * F.lit(bucket)).cast("long")
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias(f"{value_col}_sum"))
    stats = b.groupBy(key_col, "__bucket").agg(*aggs)
    span = b.groupBy(key_col).agg(
        F.min("__bucket").alias("__mn"), F.max("__bucket").alias("__mx")
    )
    grid = span.select(
        key_col,
        F.explode(F.sequence("__mn", "__mx", F.lit(bucket))).alias("__bucket"),
    )
    out = grid.join(stats, [key_col, "__bucket"], "left").withColumn(
        "n_events", F.coalesce(F.col("n_events"), F.lit(0))
    )
    return out.withColumnRenamed("__bucket", "bucket")


def funnel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel analysis: for each key, the earliest time each
    step occurred strictly AFTER the previous step completed (classic
    click → view → purchase conversion measurement).  Output has one
    row per key with ``step_<i>_ts`` columns (null once the funnel
    breaks) and ``reached`` = number of completed steps.

    Each step is one conditional-min aggregate on the SAME key, joined
    back — Spark reuses the key exchange across stages, so cost is
    |steps| map-side-combined aggregates, never a per-key sort or a
    pattern-match over raw rows.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    prev = None
    out = df.select(key_col).distinct()
    for i, step in enumerate(steps):
        col = f"step_{i}_ts"
        if prev is None:
            agg = df.where(F.col(type_col) == step).groupBy(key_col).agg(
                F.min(ts_col).alias(col)
            )
        else:
            agg = (
                df.join(out.select(key_col, prev), key_col)
                .where((F.col(type_col) == step) & (F.col(ts_col) > F.col(prev)))
                .groupBy(key_col)
                .agg(F.min(ts_col).alias(col))
            )
        out = out.join(agg, key_col, "left")
        prev = col
    reached = None
    for i in range(len(steps)):
        c = F.when(F.col(f"step_{i}_ts").isNotNull(), 1).otherwise(0)
        reached = c if reached is None else reached + c
    # a null step nulls all later steps by construction (join condition
    # references the previous step's timestamp)
    return out.withColumn("reached", reached)


def winsorize(
    df: DataFrame,
    col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorized clipping at exact quantiles: cap ``col`` into its
    [``lower``, ``upper``] percentile band (optionally per group) —
    the tail-robust cleanup for heavy-tailed numerics before scaling
    or model features, keeping every row (the row-*dropping* variant
    is :func:`backend_spark.llm.percentile_filter`).

    Same scale shape as :func:`quantile_bins`: ONE exact
    ``F.percentile`` aggregate produces a two-value boundary array per
    group, broadcast back; the clip itself is pure Column
    ``greatest``/``least`` — the data never shuffles.
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError(f"need 0 <= lower < upper <= 1, got {lower}, {upper}")
    out = out_col or f"{col}_w"
    bounds = F.percentile(
        F.col(col), F.array(F.lit(lower), F.lit(upper))
    ).alias("__wb")
    keys = [] if group_col is None else [group_col]
    return broadcast_back(df, df.groupBy(*keys).agg(bounds), keys).withColumn(
        out,
        F.least(
            F.greatest(F.col(col).cast("double"), F.element_at("__wb", 1)),
            F.element_at("__wb", 2),
        ),
    ).drop("__wb")


def _median_mad(df: DataFrame, keys: list[str], x: Column) -> DataFrame:
    """``df`` plus ``__med``, the per-group exact median of ``x``, and
    ``__mad``, the per-group median of ``|x − __med|``: two percentile
    aggregates, each broadcast back onto the scan."""
    med = broadcast_back(
        df, df.groupBy(*keys).agg(F.percentile(x, F.lit(0.5)).alias("__med")), keys
    )
    dev = F.abs(x - F.col("__med"))
    return broadcast_back(
        med, med.groupBy(*keys).agg(F.percentile(dev, F.lit(0.5)).alias("__mad")), keys
    )


def robust_scale(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Median/MAD standardization: ``(x − median) / (1.4826 · MAD)``
    with MAD = median(|x − median|) — the outlier-robust alternative
    to :func:`zscore` (1.4826 makes MAD consistent with σ under
    normality).  A single extreme value moves a mean/σ zscore
    arbitrarily; it moves this not at all.

    Two exact percentile aggregates (MAD needs the median first), each
    reducing to one row per group and broadcast back onto the scan —
    the data itself never shuffles.  Degenerate MAD = 0 (over half the
    group identical) scores 0.0, mirroring zscore's σ=0 rule.
    """
    out = out_col or f"{col}_rs"
    # spread the scan (round 15): same exact-percentile partial-state
    # rationale as mad_outliers; no-op on well-split layouts
    df = spread_scan(df)
    joined = _median_mad(df, [] if group_col is None else [group_col], F.col(col))
    scaled = F.when(F.col("__mad") > 0, (F.col(col) - F.col("__med")) / (F.lit(1.4826) * F.col("__mad"))).otherwise(F.lit(0.0))
    return joined.withColumn(out, F.round(scaled, fn.NDIGITS)).drop("__med", "__mad")


def rolling_agg(
    df: DataFrame,
    key_col: str,
    ts_us_col: str,
    value_col: str,
    window_us: int,
    scale: int = 100,
) -> DataFrame:
    """Event-time rolling aggregates: per key, count / sum / avg of
    ``value_col`` over the trailing ``window_us`` microseconds
    (inclusive range frame ending at the current row) — the sliding
    feature a risk/telemetry pipeline computes per entity, and the
    RANGE-frame pattern :func:`win_agg`'s row-based lag/lead can't
    express.

    One shuffle+sort on (key, ts) — identical cost to any per-key
    window.  Sums run on ``scale``-quantized BIGINTs (integer addition
    is associative, so the rolling sum is identical under any
    partitioning AND identical across engines, the kmeans-centroid
    rule applied to window frames); the division back to double
    happens once per row.  Returns the input columns plus
    (roll_cnt, roll_sum, roll_avg).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_us_col).asc())
        .rangeBetween(-window_us, Window.currentRow)
    )
    scaled = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast("long")
    cnt = F.count(F.lit(1)).over(w)
    ssum = F.sum(scaled).over(w)
    return (
        df.withColumn("__ss", ssum)
        .withColumn("roll_cnt", cnt)
        .withColumn("roll_sum", F.round(F.col("__ss") / scale, fn.NDIGITS))
        .withColumn(
            "roll_avg",
            F.round(F.col("__ss") / (F.lit(float(scale)) * F.col("roll_cnt")), fn.NDIGITS),
        )
        .drop("__ss")
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_us_col: str,
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Cohort retention triangle: cohort = the bucket (day by default)
    of a user's FIRST activity; for every (cohort, age-in-buckets)
    report distinct users active — the standard retention readout over
    an event log, all integer time arithmetic.

    Two keyed aggregates: first-activity reduces to one row per user
    (map-side combined) and joins back (AQE broadcasts it when small);
    then one (cohort, age) distinct-user count.  Returns
    (cohort_bucket, age, n_users).
    """
    # integer div — epoch-us exceeds double precision (the event_ts_us rule)
    b = F.expr(f"`{ts_us_col}` div {bucket_us}")
    ev = df.select(F.col(user_col).alias("__u"), b.alias("__b"))
    first = ev.groupBy("__u").agg(F.min("__b").alias("__cohort"))
    return (
        ev.join(first, "__u")
        .groupBy(
            F.col("__cohort").alias("cohort_bucket"),
            (F.col("__b") - F.col("__cohort")).alias("age"),
        )
        .agg(F.countDistinct("__u").alias("n_users"))
    )


def histogram(
    df: DataFrame,
    col: str,
    bins: int = 10,
) -> DataFrame:
    """Fixed-width histogram over [min, max]: the profiling readout
    :func:`~backend_spark.profile.profile`'s scalar ranges don't give.
    Bin i covers [min + i·w, min + (i+1)·w) with w = (max−min)/bins;
    the max value folds into the last bin.  Empty bins are emitted
    with count 0 (the renderer's contract).

    One global min/max aggregate broadcast back, one narrow bin-index
    projection, one keyed count — joined onto a bins-row frame so the
    zero bins exist.  All bin arithmetic is plain IEEE subtraction /
    division / floor — deterministic on any engine (no libm).
    Degenerate min == max puts everything in bin 0.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    spark = df.sparkSession
    stats = df.agg(
        F.min(F.col(col).cast("double")).alias("__lo"),
        F.max(F.col(col).cast("double")).alias("__hi"),
    )
    staged = df.join(F.broadcast(stats))
    w = (F.col("__hi") - F.col("__lo")) / F.lit(bins)
    idx = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(col).cast("double") - F.col("__lo")) / w).cast("int"),
            F.lit(bins - 1),
        )
    )
    counts = staged.select(idx.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grid = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(bins)
    return (
        grid.join(F.broadcast(stats))
        .join(counts, "bin", "left")
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.round(F.col("__lo") + F.col("bin") * width, fn.NDIGITS).alias("lo"),
            F.round(F.col("__lo") + (F.col("bin") + 1) * width, fn.NDIGITS).alias("hi"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )


def fill_forward(
    df: DataFrame,
    key_col: str,
    order_col: str | list[str],
    value_cols: list[str] | str,
) -> DataFrame:
    """Per-key forward fill (LOCF — last observation carried forward):
    each null in ``value_cols`` takes the latest preceding non-null
    value in ``order_col`` order within its key.  The standard
    gap-repair step before windowed feature extraction (sensor/event
    streams emit sparse attribute updates; models want dense rows).

    Scale shape: ONE window partitioning (key, ordered) shared by every
    filled column — ``last(ignorenulls)`` over unbounded-preceding is a
    running state, not a re-scan, and all columns reuse the same sort,
    so the whole fill costs a single key-partitioned shuffle + sort
    regardless of how many columns are filled.  Ties on ``order_col``
    resolve by the pre-existing row order within the frame, so callers
    with duplicate timestamps should order by a unique column.
    """
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def transition_counts(
    df: DataFrame,
    key_col: str,
    order_col: str | list[str],
    state_col: str,
    min_count: int = 1,
) -> DataFrame:
    """First-order Markov transition counts over per-key ordered state
    sequences: for every key, count (state -> next_state) adjacencies,
    then aggregate globally and attach the row-conditional probability
    ``p = round(cnt / sum(cnt over src), 6)``.  The classic
    session-flow / user-journey summary (and the transition matrix a
    sequence model is sanity-checked against).

    Scale shape: one key-partitioned window (lead) to form adjacent
    pairs, then one map-side-combinable groupBy on (src, dst) whose
    output is at most |states|^2 rows — tiny; the conditional
    probability is a window over THAT aggregate, not over the data.
    """
    order = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = (
        df.select(
            F.col(state_col).alias("src"),
            F.lead(state_col).over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    agg = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    tot = Window.partitionBy("src")
    return (
        agg.where(F.col("cnt") >= min_count)
        .select(
            "src",
            "dst",
            "cnt",
            F.round(F.col("cnt") / F.sum("cnt").over(tot), fn.NDIGITS).alias("p"),
        )
    )


def feature_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
    split_pattern: str = r"[^a-z0-9]+",
) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al. 2009): tokens map to
    ``pmod(md5_long(token), n_buckets)`` counts — a fixed-width sparse
    feature vector with no vocabulary pass, the way large-scale linear
    models and quality classifiers featurize text without a dictionary
    broadcast.  Output is the sparse (id, bucket, cnt) triplet form
    (dense arrays at n_buckets wide would defeat column pruning).

    Cross-engine: md5-based bucket ids reproduce exactly in the DuckDB
    oracle (functions.md5_long convention).  Scale shape: explode +
    one map-side-combinable groupBy on (id, bucket); no driver state,
    no vocabulary, no second pass.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), split_pattern)).alias("__tok"),
    ).where(F.col("__tok") != "")
    return (
        toks.withColumn("bucket", F.pmod(fn.md5_long(F.col("__tok")), F.lit(n_buckets)).cast("int"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cdf_normalize(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
) -> DataFrame:
    """Per-group rank-based CDF transform (quantile normalization):
    ``round(percent_rank(), fn.NDIGITS)`` of ``value_col`` within each
    group — maps any distribution onto [0, 1], the standard monotone
    feature transform when absolute magnitudes are meaningless across
    sources.  Ties share a rank in both engines (SQL percent_rank
    semantics), so the output is deterministic without a tiebreaker.

    Scale shape: ONE keyed shuffle + sort (the window).  Group keys are
    REQUIRED — a global (ungrouped) percent_rank funnels the whole
    table through a single partition; for a global transform use
    ``quantile_bins`` (broadcast cut points) instead.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not groups:
        raise ValueError(
            "cdf_normalize requires group columns (a global percent_rank is a "
            "single-partition sort; use quantile_bins for global transforms)"
        )
    w = Window.partitionBy(*groups).orderBy(value_col)
    return df.withColumn(
        f"{value_col}_cdf", F.round(F.percent_rank().over(w), fn.NDIGITS)
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier flagging by median absolute deviation: a row is an
    outlier when ``|x − median| > k·MAD`` within its group — the
    heavy-tail-safe alternative to z-scores (zscore's mean/std are
    themselves dragged by the outliers they're meant to find).
    Adds ``dev`` (= round(|x − med|, fn.NDIGITS)), ``mad`` and
    ``is_outlier``; the comparison runs on the ROUNDED values so the
    boundary is deterministic cross-engine.

    Scale shape: two tiny per-group percentile aggregates (median, then
    median of deviations) broadcast back onto the scan — the data
    itself never sorts or re-shuffles; an all-equal group has MAD 0 and
    flags any deviating row, which is the intended degenerate case.
    NULL group keys follow :func:`~backend_spark.scale.broadcast_back`.
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # spread the scan (round 15): the exact-percentile partial state
    # (an OpenHashMap over the value distribution) is built per input
    # partition, so an under-split layout serialises it; no-op on
    # well-split 100 TB inputs
    df = spread_scan(df)
    x = F.col(value_col).cast("double")
    out = _median_mad(df, groups, x)
    dev = F.abs(x - F.col("__med"))
    dev_r = F.round(dev, fn.NDIGITS)
    mad_r = F.round(F.col("__mad"), fn.NDIGITS)
    return out.select(
        *df.columns,
        dev_r.alias("dev"),
        mad_r.alias("mad"),
        (dev_r > F.lit(float(k)) * mad_r).alias("is_outlier"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key linear interpolation of null gaps: a null ``value_col``
    between two observations takes the straight-line value at its
    ``order_col`` position; nulls before the first or after the last
    observation stay null (no extrapolation).  The numeric sibling of
    :func:`fill_forward` for sensor/metric series where step-function
    LOCF biases downstream features.

    Output adds ``<value_col>_interp`` = round(interpolated, fn.NDIGITS)
    (observed rows pass through their own value, rounded).

    Scale shape: ONE (key, order) window partitioning evaluated in two
    frame directions — running last/max backward (previous observation
    value + position) and first/min forward (next observation) — all
    four series share the same shuffle+sort; the blend is pure Column
    arithmetic.  Deterministic for unique ``order_col`` per key.
    """
    order = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    v = F.col(value_col).cast("double")
    t = F.col(order_col).cast("double")
    pv = F.last(v, ignorenulls=True).over(back)
    pt = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(back)
    nv = F.first(v, ignorenulls=True).over(fwd)
    nt = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(fwd)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(
            # nt == pt happens only with tied order values (an anchor
            # and the null row at the same timestamp): the two anchors
            # coincide in time, so take the backward value — and under
            # ANSI mode the unguarded 0/0 would raise, not NULL
            pv.isNotNull() & nv.isNotNull() & (nt > pt),
            pv + (nv - pv) * ((t - pt) / (nt - pt)),
        ).otherwise(F.when(pv.isNotNull() & nv.isNotNull(), pv))
    )
    return df.withColumn(f"{value_col}_interp", F.round(interp, fn.NDIGITS))


def rolling_anomaly(
    df: DataFrame,
    key_col: str,
    order_cols: list[str] | str,
    value_col: str,
    k: int = 3,
    scale: int = 100,
) -> DataFrame:
    """Batch counterpart of :func:`backend_spark.streaming
    .anomaly_stream` — flag values deviating from the per-key RUNNING
    mean by more than ``k`` running standard deviations, judged against
    prior observations only (``ROWS UNBOUNDED PRECEDING .. 1
    PRECEDING``), so backfilled history and the live stream raise
    identical flags.

    Same exact-integer contract as the stream kernel: values quantize
    to ``floor(value·scale + 0.5)`` and the flag is the
    cross-multiplied comparison ``(v·n − Σv)² > k²·(n·Σv² − (Σv)²)``
    over DECIMAL(38,0) running sums — no float path, so the flags are
    partition-order-independent and engine-exact.  The squared terms
    bound the domain: |v·n| must stay under ~1e19 (38-digit square),
    e.g. 5-digit values at scale=100 over ~1e12 rows per key — beyond
    that, re-quantize with a smaller ``scale`` or window the history
    (the streaming kernel's Python bigints have no such ceiling).

    One (key, order) window partitioning shared by all three running
    sums — a single keyed shuffle.  Output adds (n_prior, is_anomaly).
    """
    if k < 1 or scale < 1:
        raise ValueError(f"rolling_anomaly: k and scale must be >= 1, got k={k} scale={scale}")
    orders = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    w = (
        Window.partitionBy(key_col)
        .orderBy(*orders)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dec = "decimal(38,0)"
    v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast(dec)
    n = F.count(F.col(value_col)).over(w).cast(dec)
    sx = F.coalesce(F.sum(v).over(w), F.lit(0).cast(dec))
    sx2 = F.coalesce(F.sum((v * v).cast(dec)).over(w), F.lit(0).cast(dec))
    dev = (v * n - sx)
    flag = (n >= 2) & ((dev * dev).cast(dec) > (F.lit(k * k).cast(dec) * (n * sx2 - sx * sx)).cast(dec))
    return df.withColumn("n_prior", n.cast("long")).withColumn("is_anomaly", flag)


def pareto_front(
    df: DataFrame,
    metrics: "dict[str, str]",
    group_col: str | None = None,
) -> DataFrame:
    """Pareto frontier (skyline): the rows not *dominated* by any other
    row — ``q`` dominates ``r`` when ``q`` is at least as good on every
    metric and strictly better on at least one (``metrics`` maps column
    -> ``'max'``/``'min'``).  Rows with identical metric vectors don't
    dominate each other, so exact ties all survive.  With ``group_col``
    the frontier is computed independently per group.  The standard
    multi-objective selection step (best quality-vs-length-vs-dup-rate
    documents, cheapest-vs-freshest sources) that a WHERE clause can't
    express.  Rows with a NULL metric are excluded (NULL is not
    comparable under dominance; documented, not silently kept); a NULL
    ``group_col`` value is a real group of its own (null-safe both in
    the pandas local prune and the verify join).

    Scale shape — the classic two-phase skyline (Börzsönyi et al., ICDE
    2001, adapted to Spark):

    1. **Local prune** (``mapInPandas``): each partition computes its
       own skyline in a vectorized NumPy pass, sum-ordered so strong
       points kill early.  The global frontier is a subset of every
       union of partition-local frontiers, so this drops the corpus to
       the candidates without any shuffle.
    2. **Verify**: candidates self-join on the dominance predicate
       (broadcast; with ``group_col`` it is a hash equi-join on the
       group with the dominance as residual) and survivors come back
       via ``left_anti``.  Quadratic ONLY on the pruned candidate set —
       for correlated/random data frontiers are tiny (O(log^{d-1} n)
       expected); a pure anti-chain (every row on the frontier) is
       irreducibly its own output and callers should bin metrics first
       if they expect one.

    Output = the surviving input rows (all original columns).
    """
    if not metrics:
        raise ValueError("pareto_front: metrics must be non-empty")
    bad = {c: d for c, d in metrics.items() if d not in ("max", "min")}
    if bad:
        raise ValueError(f"pareto_front: directions must be 'max'/'min', got {bad}")
    mcols = list(metrics)
    missing = [c for c in mcols if c not in df.columns]
    if missing:
        raise ValueError(f"pareto_front: metric column(s) not in input: {missing}")

    base = df
    for c in mcols:
        base = base.where(F.col(c).isNotNull())
    # oriented copies: larger is always better
    ocols = [f"__o_{i}" for i in range(len(mcols))]
    oriented = base
    for i, c in enumerate(mcols):
        v = F.col(c).cast("double")
        oriented = oriented.withColumn(ocols[i], v if metrics[c] == "max" else -v)
    gcols = [group_col] if group_col else []

    out_fields = oriented.schema

    def _local_front(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # dropna=False: a NULL group is a real group — the pandas
            # default silently DROPS those rows from the local prune
            # (the scd2/cdc NULL-key bug shape, in pandas form)
            parts = pdf.groupby(gcols, sort=False, dropna=False) if gcols else [(None, pdf)]
            for _, g in parts:
                X = g[ocols].to_numpy(dtype=float)
                order = np.argsort(-X.sum(axis=1), kind="stable")
                Xs = X[order]
                front: list[int] = []
                for i in range(len(Xs)):
                    x = Xs[i]
                    if front:
                        FY = Xs[front]
                        if bool(((FY >= x).all(axis=1) & (FY > x).any(axis=1)).any()):
                            continue
                    front.append(i)
                yield g.iloc[order[front]]

    # the numpy local prune runs once per input partition: spread
    # few-row-group inputs so the prune parallelizes (guide §2.5;
    # round-robin — hashing by group would collapse to |groups| tasks).
    # Result-neutral: the global frontier is exact for ANY partition
    # layout (dominance is transitive, the verify join is exact on any
    # candidate superset).
    cand = spread_scan(oriented).mapInPandas(_local_front, schema=out_fields)
    cand = cand.transform(stage, eager=False)  # both join sides see one prune

    right = cand.select(
        *[F.col(g).alias(f"__g_{g}") for g in gcols],
        *[F.col(o).alias(f"__r_{o}") for o in ocols],
    )
    all_geq = None
    any_gt = None
    for o in ocols:
        geq = F.col(f"__r_{o}") >= F.col(o)
        gt = F.col(f"__r_{o}") > F.col(o)
        all_geq = geq if all_geq is None else (all_geq & geq)
        any_gt = gt if any_gt is None else (any_gt | gt)
    cond = all_geq & any_gt
    for g in gcols:
        # null-safe: NULL-group rows must verify against EACH OTHER,
        # not sail through because NULL == NULL is never true
        cond = F.col(f"__g_{g}").eqNullSafe(F.col(g)) & cond
    survivors = cand.join(F.broadcast(right), cond, "left_anti")
    return survivors.drop(*ocols)


def decay_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    halflife: float,
    scale: int = 10**6,
) -> DataFrame:
    """Exponential time-decay aggregate per key: each event contributes
    ``value * 0.5^((t_ref - t) / halflife)`` with ``t_ref`` the global
    max event time — the standard recency-weighted engagement/quality
    feature (recent activity dominates, old activity fades smoothly)
    that a windowed sum can only approximate with hard cutoffs.
    ``ts_col`` is numeric event time (see ``session.event_ts_us``);
    ``halflife`` is in the same units.  Rows with NULL ts or value are
    excluded.

    Exactness: the decay factor is a float ``pow``, whose last-ulp
    behavior is engine-specific — so each row's contribution is
    quantized ONCE (``round(value * factor * scale)`` as BIGINT, the
    same absorb-the-ulp device as tfidf_cosine's weights) and
    aggregated in DECIMAL(38,0) integer arithmetic: associative,
    partition-order-proof.  Floats reappear only in the final
    unscaling.

    Scale shape: ``t_ref`` is ONE scalar aggregate broadcast onto the
    scan; the decayed contributions then fold in a single
    map-side-combinable groupBy — two shuffles total (one 1-row), no
    window, no sort.  Returns (key, n_events, decayed_sum,
    decayed_weight) where decayed_weight is the value-free mass
    Σ 0.5^(Δt/halflife) (the denominator for a decayed *mean*).
    """
    if halflife <= 0:
        raise ValueError(f"decay_agg: halflife must be positive, got {halflife}")
    dec = "decimal(38,0)"
    base = df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
    ref = base.agg(F.max(F.col(ts_col)).alias("__ref"))
    factor = F.pow(
        F.lit(0.5),
        (F.col("__ref") - F.col(ts_col)).cast("double") / F.lit(float(halflife)),
    )
    q = F.round(F.col(value_col) * factor * scale).cast("long").cast(dec)
    w = F.round(factor * scale).cast("long").cast(dec)
    return (
        base.join(F.broadcast(ref))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(q).cast("double") / scale, fn.NDIGITS).alias("decayed_sum"),
            F.round(F.sum(w).cast("double") / scale, fn.NDIGITS).alias("decayed_weight"),
        )
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
    scale: int = 10**6,
    out_col: str = "encoded",
) -> DataFrame:
    """Leave-one-out target encoding with prior smoothing — the
    standard high-cardinality categorical feature for tabular models:
    each row's category is replaced by the mean target of the OTHER
    rows in that category, shrunk toward the global mean by
    ``smoothing`` pseudo-observations:
    ``enc_i = (Σ_cat y − y_i + m·prior) / (n_cat − 1 + m)``.
    Excluding the row's own target is what blocks the target-leakage
    overfit of naive mean encoding.  Rows with NULL category or target
    are dropped (documented, not silently imputed).

    Exactness: targets are quantized ONCE (``round(y·scale)`` BIGINT)
    so the per-category and global sums are exact integers —
    associative, partition-proof — and the encoding is then a FIXED
    sequence of IEEE double ops (one division for the prior, one
    multiply-add, one division per row) that DuckDB replays
    bit-for-bit.

    Scale shape: ONE map-side-combinable groupBy for category stats +
    one 1-row global aggregate, both broadcast back onto the scan — the
    fact table never shuffles or sorts.  Returns the input rows (minus
    null drops) + ``out_col``.
    """
    if smoothing <= 0:
        raise ValueError(f"target_encode: smoothing must be > 0, got {smoothing}")
    dec = "decimal(38,0)"
    base = df.where(F.col(cat_col).isNotNull() & F.col(target_col).isNotNull())
    qy = F.round(F.col(target_col) * scale).cast("long")
    cat = base.groupBy(cat_col).agg(
        F.sum(qy.cast(dec)).alias("__cs"), F.count(F.lit(1)).alias("__cn")
    )
    glob = base.agg(
        F.sum(qy.cast(dec)).alias("__gs"), F.count(F.lit(1)).alias("__gn")
    )
    prior = F.col("__gs").cast("double") / F.col("__gn")
    enc = (
        (F.col("__cs").cast("double") - qy.cast("double")) + F.lit(float(smoothing)) * prior
    ) / (F.col("__cn") - 1 + F.lit(float(smoothing)))
    return (
        broadcast_back(broadcast_back(base, cat, [cat_col]), glob, [])
        .withColumn(out_col, F.round(enc / scale, fn.NDIGITS))
        .drop("__cs", "__cn", "__gs", "__gn")
    )


def cusum(
    df: DataFrame,
    key_col: str,
    order_cols: list[str] | str,
    value_col: str,
    target: float,
    k: float = 0.0,
    h: float = 5.0,
    scale: int = 1_000_000,
) -> DataFrame:
    """Two-sided CUSUM change-point statistic per key (Page 1954) —
    the sequential drift detector behind data-quality monitors: flag
    the point where a metric's level shifts away from ``target`` by
    more than the slack ``k``, long before any single value trips a
    per-row threshold like :func:`rolling_anomaly`.

    The textbook recursion ``S_t = max(0, S_{t-1} + d_t)`` looks
    inherently sequential, but has the closed form

        ``S_t = cum_t − min(0, min_{j≤t} cum_j)``

    (the running sum minus its lowest prior dip), so both sides compute
    as two window passes — a cumulative sum, then a running min OVER THE
    SAME (key, order) partitioning — one keyed shuffle total, no
    iteration, no ``mapInPandas``.

    Exact-integer contract: deviations quantize to
    ``round(d · scale)`` BIGINTs before the windows, so the running
    sums are engine-exact and the only float step is the final descale
    (round 6).  BIGINT headroom: |d|·scale·rows_per_key < 2^63 — e.g.
    unit-scale deviations at the default scale allow ~9e12 rows per
    key.  Order keys must be unique per key (timestamps/sequence ids);
    pass additional tie-break columns otherwise.

    Output adds ``cusum_hi`` / ``cusum_lo`` (descaled statistics) and
    ``cusum_alarm`` (1 when either side exceeds ``h``).
    """
    if scale < 1:
        raise ValueError(f"cusum: scale must be >= 1, got {scale}")
    if k < 0 or h <= 0:
        raise ValueError(f"cusum: need k >= 0 and h > 0, got k={k} h={h}")
    orders = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    missing = [c for c in [key_col, *orders, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"cusum: column(s) not in df: {missing}")
    clash = {"__qhi", "__qlo", "__chi", "__clo"} & set(df.columns)
    if clash:
        raise ValueError(f"cusum: reserved column name(s) in input: {sorted(clash)}")
    v = F.col(value_col).cast("double")
    qhi = F.round((v - float(target) - float(k)) * scale).cast("long")
    qlo = F.round((float(target) - v - float(k)) * scale).cast("long")
    wcum = (
        Window.partitionBy(key_col)
        .orderBy(*orders)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("__qhi", qhi)
        .withColumn("__qlo", qlo)
        .withColumn("__chi", F.sum("__qhi").over(wcum))
        .withColumn("__clo", F.sum("__qlo").over(wcum))
    )
    s_hi = F.col("__chi") - F.least(F.lit(0).cast("long"), F.min("__chi").over(wcum))
    s_lo = F.col("__clo") - F.least(F.lit(0).cast("long"), F.min("__clo").over(wcum))
    h_scaled = F.lit(int(round(float(h) * scale))).cast("long")
    return (
        out.withColumn("cusum_hi", F.round(s_hi / scale, fn.NDIGITS))
        .withColumn("cusum_lo", F.round(s_lo / scale, fn.NDIGITS))
        .withColumn(
            "cusum_alarm", ((s_hi > h_scaled) | (s_lo > h_scaled)).cast("int")
        )
        .drop("__qhi", "__qlo", "__chi", "__clo")
    )


def rank_corr(
    df: DataFrame,
    by: list[str] | str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation with exact average-rank tie
    handling — the monotonic-association screen feature pipelines run
    before committing to a feature (robust to outliers and nonlinear
    scales where plain Pearson is not).

    Ties take the textbook average rank, computed WITHOUT a second
    shuffle axis: within one ``(group, order by value)`` window,
    ``rank()`` is the tie group's min rank and a RANGE-framed count
    (peers included) is its max rank, so ``2·avg_rank = rank + count``
    stays an exact BIGINT.  Spearman is then Pearson over the doubled
    ranks — scale-invariant, so the doubling cancels.

    Scale shape: ONE hash exchange on the group key; the x-axis and
    y-axis windows and the final aggregate all reuse it (two in-place
    sorts, no re-exchange, map-side-combined agg).  All sums are exact
    BIGINTs; the epilogue (products, sqrt, divide) runs in fixed IEEE
    double order, rounded to ``fn.NDIGITS``.  Rows with a NULL in either
    column are dropped; groups with fewer than 2 rows or zero variance
    on either side yield NULL rho.
    """
    keys = [by] if isinstance(by, str) else list(by)
    missing = [c for c in [*keys, x_col, y_col] if c not in df.columns]
    if missing:
        raise ValueError(f"rank_corr: column(s) not in df: {missing}")
    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def doubled_rank(col: str) -> F.Column:
        w = Window.partitionBy(*keys).orderBy(col)
        wr = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        return (F.rank().over(w) + F.count(F.lit(1)).over(wr)).cast("long")

    ranked = base.select(
        *keys, doubled_rank(x_col).alias("__a"), doubled_rank(y_col).alias("__b")
    )
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__a").alias("__sa"),
        F.sum("__b").alias("__sb"),
        F.sum(F.col("__a") * F.col("__a")).alias("__saa"),
        F.sum(F.col("__b") * F.col("__b")).alias("__sbb"),
        F.sum(F.col("__a") * F.col("__b")).alias("__sab"),
    )
    n = F.col("n").cast("double")
    sa, sb = F.col("__sa").cast("double"), F.col("__sb").cast("double")
    saa, sbb = F.col("__saa").cast("double"), F.col("__sbb").cast("double")
    sab = F.col("__sab").cast("double")
    num = n * sab - sa * sb
    den = (n * saa - sa * sa) * (n * sbb - sb * sb)
    return agg.select(
        *keys,
        F.col("n"),
        F.round(F.when(den > 0, num / F.sqrt(den)), fn.NDIGITS).alias("rho"),
    )


def mutual_info(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Mutual information I(feature; label) per categorical feature —
    the model-free screen for which attributes carry signal about a
    label before any encoder or trainer runs (complement of
    :func:`rank_corr`, which covers ordered/numeric features).

    All features melt into ONE (feature, value, label) cell count —
    one explode projection + one map-side-combined aggregate, not a
    job per feature — then marginals join back on their keys and
    ``I = Σ (c_xy/n)·ln(c_xy·n / (c_x·c_y))`` folds per feature over
    the value-sorted cell array (the :func:`~backend_spark.llm
    .char_entropy` pattern: a fixed-order float fold, hash-stable at
    any partition count; cardinality is bounded by |values|·|labels|,
    which is what "categorical" means — guard high-cardinality columns
    with a bucketer first).  NULL is a first-class category (sentinel
    that no real value collides with).  Products run in doubles so the
    exact BIGINT counts never overflow-multiply.

    Output: (feature, n, mi) with mi >= 0 up to rounding.
    """
    if not feature_cols:
        raise ValueError("mutual_info: feature_cols must be non-empty")
    missing = [c for c in [*feature_cols, label_col] if c not in df.columns]
    if missing:
        raise ValueError(f"mutual_info: column(s) not in df: {missing}")
    sent = "\x00null"
    y = F.coalesce(F.col(label_col).cast("string"), F.lit(sent))
    cells = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("feature"),
                            F.coalesce(F.col(c).cast("string"), F.lit(sent)).alias("val"),
                        )
                        for c in feature_cols
                    ]
                )
            ).alias("fx"),
            y.alias("__y"),
        )
        .select("fx.feature", "fx.val", "__y")
        .groupBy("feature", "val", "__y")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    cx = cells.groupBy("feature", "val").agg(F.sum("cxy").alias("cx"))
    cy = cells.groupBy("feature", "__y").agg(F.sum("cxy").alias("cy"))
    joined = cells.join(cx, ["feature", "val"]).join(cy, ["feature", "__y"])
    per_feature = joined.groupBy("feature").agg(
        F.array_sort(
            F.collect_list(F.struct("val", "__y", "cxy", "cx", "cy"))
        ).alias("__cells")
    )
    n_long = F.aggregate(
        "__cells", F.lit(0).cast("long"), lambda a, x: a + x["cxy"]
    )
    staged = per_feature.withColumn("__n", n_long)
    nd = F.col("__n").cast("double")
    mi = F.aggregate(
        "__cells",
        F.lit(0.0),
        lambda a, x: a
        + (x["cxy"].cast("double") / nd)
        * F.log(
            (x["cxy"].cast("double") * nd)
            / (x["cx"].cast("double") * x["cy"].cast("double"))
        ),
    )
    return staged.select(
        "feature", F.col("__n").alias("n"), F.round(mi, fn.NDIGITS).alias("mi")
    )


def assoc_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = 10_000,
) -> DataFrame:
    """Association-rule mining over (basket, item) pairs — the classic
    co-occurrence miner (Agrawal & Srikant 1994, A-Priori at the
    2-itemset level): for every item pair sharing enough baskets, emit
    both directed rules with ``support`` (pair baskets / all baskets),
    ``confidence`` (pair baskets / antecedent baskets) and ``lift``
    (observed/expected under independence).

    Scale shape: items dedupe to one row per (basket, item); pairs form
    by a SELF-EQUI-JOIN ON THE BASKET KEY (never an item cross product)
    with ``i < j`` halving; counts are map-side-combined BIGINTs and
    the rule math is a pure per-row projection in doubles (no float
    sums anywhere, so no ordering concerns).  Pair fan-out is
    quadratic in basket size, which is why ``max_basket_size`` DROPS
    oversized baskets deterministically before pairing (a basket with
    10k+ distinct items is a default value or a crawler artifact, and
    one 1M-item basket would emit 5·10^11 pairs); the basket total
    used for support counts the same filtered population, keeping the
    probabilities consistent.

    Output: (antecedent, consequent, pair_count, support, confidence,
    lift), one row per direction.
    """
    if min_pair_count < 1 or max_basket_size < 2:
        raise ValueError(
            f"assoc_rules: need min_pair_count >= 1 and max_basket_size >= 2, "
            f"got {min_pair_count}, {max_basket_size}"
        )
    missing = [c for c in [basket_col, item_col] if c not in df.columns]
    if missing:
        raise ValueError(f"assoc_rules: column(s) not in df: {missing}")
    items = (
        df.where(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
    )
    sizes = items.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
    kept = items.join(
        sizes.where(F.col("__sz") <= max_basket_size).select("__b"), "__b"
    )
    kept = kept.transform(stage, eager=False)  # feeds totals, item counts, pairs
    n_baskets = kept.select("__b").distinct().count()
    if n_baskets == 0:
        raise ValueError("assoc_rules: no baskets survive the filters")
    ci = kept.groupBy("__i").agg(F.count(F.lit(1)).alias("ci"))
    l = kept.select("__b", F.col("__i").alias("i"))
    r = kept.select("__b", F.col("__i").alias("j"))
    pairs = (
        l.join(r, "__b")
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_pair_count)
    )
    both = pairs.selectExpr("i AS antecedent", "j AS consequent", "pair_count").unionByName(
        pairs.selectExpr("j AS antecedent", "i AS consequent", "pair_count")
    )
    scored = (
        both.join(ci.select(F.col("__i").alias("antecedent"), F.col("ci").alias("__ca")), "antecedent")
        .join(ci.select(F.col("__i").alias("consequent"), F.col("ci").alias("__cc")), "consequent")
    )
    nb = F.lit(float(n_baskets))
    pc = F.col("pair_count").cast("double")
    return scored.select(
        "antecedent", "consequent", "pair_count",
        F.round(pc / nb, fn.NDIGITS).alias("support"),
        F.round(pc / F.col("__ca").cast("double"), fn.NDIGITS).alias("confidence"),
        F.round(
            (pc * nb) / (F.col("__ca").cast("double") * F.col("__cc").cast("double")),
            fn.NDIGITS,
        ).alias("lift"),
    )


def seasonal_adjust(
    df: DataFrame,
    phase_col: str,
    value_col: str,
    by: list[str] | str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Seasonal decomposition by period-phase means — the deterministic
    "subtract the hour-of-day/day-of-week profile" step that has to
    run before :func:`cusum` or :func:`rolling_anomaly` can monitor a
    metric with a daily/weekly shape (otherwise every morning peak
    alarms).  Caller derives the phase (``hour(ts)``, ``dayofweek``,
    …); the operator computes, per (group, phase), the mean's offset
    from the group mean and emits ``seasonal`` plus the de-seasonalized
    ``adjusted = value − seasonal``.

    Classical-decomposition seasonal means (fixed period, no loess) —
    exactly reproducible: sums quantize to BIGINT at ``scale``, the
    phase/group aggregates reduce to |groups|·|phases| (+ |groups|)
    rows, and both BROADCAST back onto the scan — the corpus never
    shuffles, never sorts, never windows (the
    percentile_gate/zscore house shape).  NULL values pass through
    with NULL seasonal/adjusted and stay out of the means.
    """
    if scale < 1:
        raise ValueError(f"seasonal_adjust: scale must be >= 1, got {scale}")
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    missing = [c for c in [*keys, phase_col, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"seasonal_adjust: column(s) not in df: {missing}")
    q = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.withColumn("__q", q)
    phase_stats = base.where(F.col("__q").isNotNull()).groupBy(
        *keys, phase_col
    ).agg(F.sum("__q").alias("__ps"), F.count("__q").alias("__pn"))
    group_stats = base.where(F.col("__q").isNotNull()).groupBy(*keys).agg(
        F.sum("__q").alias("__gs"), F.count("__q").alias("__gn")
    )
    joined = broadcast_back(
        broadcast_back(base, phase_stats, [*keys, phase_col]), group_stats, keys
    )
    seasonal = (
        F.col("__ps").cast("double") / F.col("__pn")
        - F.col("__gs").cast("double") / F.col("__gn")
    ) / scale
    return (
        joined.withColumn(
            "seasonal",
            F.when(F.col("__q").isNotNull(), F.round(seasonal, fn.NDIGITS)),
        )
        .withColumn(
            "adjusted",
            F.when(
                F.col("__q").isNotNull(),
                F.round(F.col(value_col).cast("double") - seasonal, fn.NDIGITS),
            ),
        )
        .drop("__q", "__ps", "__pn", "__gs", "__gn")
    )


import math as _math

_BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford(
    df: DataFrame,
    value_col: str,
    by: list[str] | str | None = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-number screen for financial/count columns
    (Newcomb 1881, Benford 1938; auditing practice per Nigrini).
    Values spanning several orders of magnitude follow
    ``P(d) = log10(1 + 1/d)``; keyed-in or synthesized figures usually
    don't.

    The first digit comes from the DECIMAL string form (never
    ``log10`` — float log of 1000 can land at 2.999…, misbinning exact
    powers), zeros/NULLs are excluded, and the report is ONE
    map-side-combined aggregate to ≤ 9·|groups| rows: (digit, n,
    observed_p, expected_p, deviation).  Chi-square-style judgement is
    the reader's; the row shape keeps every term exact (counts BIGINT,
    probabilities one rounded division).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    missing = [c for c in [*keys, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"benford: column(s) not in df: {missing}")
    # decimal-string first digit of the integer magnitude
    mag = F.abs(F.col(value_col).cast("double"))
    digit = F.substring(F.floor(mag).cast("long").cast("string"), 1, 1).cast("int")
    base = (
        df.where(F.col(value_col).isNotNull())
        .withColumn("__d", digit)
        .where(F.col("__d") >= 1)  # |v| < 1 and v == 0 excluded
    )
    counts = base.groupBy(*keys, "__d").agg(F.count(F.lit(1)).alias("n"))
    w_tot = counts.groupBy(*keys).agg(F.sum("n").alias("__tot"))
    joined = broadcast_back(counts, w_tot, keys)
    expected = F.element_at(F.array(*[F.lit(p) for p in _BENFORD_P]), F.col("__d"))
    obs = F.col("n").cast("double") / F.col("__tot").cast("double")
    return joined.select(
        *keys,
        F.col("__d").alias("digit"),
        "n",
        F.round(obs, fn.NDIGITS).alias("observed_p"),
        F.round(expected, fn.NDIGITS).alias("expected_p"),
        F.round(obs - expected, fn.NDIGITS).alias("deviation"),
    )


def acf(
    df: DataFrame,
    key_col: str,
    order_cols: "list[str] | str",
    value_col: str,
    max_lag: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-series autocorrelation function at lags ``1..max_lag`` — the
    seasonality/persistence screen run before picking a forecasting or
    anomaly model (a spike at lag 24 says "daily cycle"; a slow decay
    says "trend — difference first").

    r_k = sum_t (x_t - m)(x_{t+k} - m) / sum_t (x_t - m)^2 over each
    key's series in ``order_cols`` order.  All statistics fold as
    fixed-point ``decimal(38,0)`` of ``round(x * scale)`` and the mean
    never materializes: multiplying through by n^2 gives

        num_k * n^2 = n^2*P_k - n*S*(H_k + T_k) + (n-k)*S^2
        den   * n^2 = n^2*Q   - n*S^2

    with S = sum v, Q = sum v^2, P_k = sum v_t*v_{t+k}, H_k/T_k the
    head/tail partial sums — every term an exact integer, so the only
    float op is the final division (rounded ``fn.NDIGITS``), identical on
    any engine.  The n^2*P_k term bounds series length: it must stay
    under decimal(38,0), i.e. n^3 * (mean|x| * scale)^2 < 10^38 —
    ~4.6M points per series at scale=1e6 and |x|~1e3; drop ``scale``
    for longer series.

    Scale shape: ONE keyed exchange — the lead() windows for every lag
    share the same (key, order) sort — then one map-side-combined
    aggregate per key and a bounded per-key explode into (key, lag)
    rows.  NULL values are dropped up-front and the series is the
    remaining values in order — lags count POSITIONS OF THE OBSERVED
    SEQUENCE, not wall-clock gaps; resample/gap-fill first when the
    distinction matters.
    """
    if max_lag < 1 or scale < 1:
        raise ValueError(f"acf: max_lag and scale must be >= 1, got {max_lag}, {scale}")
    orders = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    missing = [c for c in [key_col, *orders, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"acf: column(s) not in df: {missing}")
    dec = "decimal(38,0)"
    w = Window.partitionBy(key_col).orderBy(*orders)
    v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast(dec)
    df = df.where(F.col(value_col).isNotNull())
    lagged = df.select(
        F.col(key_col),
        v.alias("__v"),
        *[F.lead(v, k).over(w).alias(f"__l{k}") for k in range(1, max_lag + 1)],
    )
    aggs = [
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum((F.col("__v") * F.col("__v")).cast(dec)).alias("__q"),
    ]
    for k in range(1, max_lag + 1):
        lk = F.col(f"__l{k}")
        aggs += [
            F.coalesce(F.sum((F.col("__v") * lk).cast(dec)), F.lit(0).cast(dec)).alias(f"__p{k}"),
            F.coalesce(
                F.sum(F.when(lk.isNotNull(), F.col("__v"))), F.lit(0).cast(dec)
            ).alias(f"__h{k}"),
            F.coalesce(F.sum(lk), F.lit(0).cast(dec)).alias(f"__t{k}"),
        ]
    g = lagged.groupBy(key_col).agg(*aggs)
    n, s, q = F.col("__n"), F.col("__s"), F.col("__q")
    den = (n * q - s * s).cast(dec)
    per_lag = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.when(
                    (n > F.lit(k).cast(dec)) & (den > 0),
                    F.round(
                        (
                            n * n * F.col(f"__p{k}")
                            - n * s * (F.col(f"__h{k}") + F.col(f"__t{k}"))
                            + (n - F.lit(k).cast(dec)) * s * s
                        ).cast(dec).cast("double")
                        / (n * den).cast(dec).cast("double"),
                        fn.NDIGITS,
                    ),
                ).alias("acf"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    return g.select(
        key_col, n.cast("long").alias("n"), F.explode(per_lag).alias("__e")
    ).select(key_col, "n", F.col("__e.lag").alias("lag"), F.col("__e.acf").alias("acf"))


def weighted_median(
    df: DataFrame,
    by: "list[str] | str",
    value_col: str,
    weight_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group weighted (lower) median: the smallest value whose
    cumulative weight reaches half the group total — the robust center
    when observations carry unequal mass (revenue-weighted price,
    token-weighted quality score).  Weights quantize to fixed-point
    BIGINTs so the >= half-total comparison is integer-exact on any
    engine; NULL values/weights and non-positive weights drop (a
    zero-weight row can never move the median).

    Scale shape: one exchange on the group key shared by the
    cumulative-weight window and the total-weight window (same
    partitioning), then one map-side-combined aggregate.  Equal values
    are interchangeable under the rows-frame cumulative sum, so ties
    cost nothing.
    """
    keys = [by] if isinstance(by, str) else list(by)
    missing = [c for c in [*keys, value_col, weight_col] if c not in df.columns]
    if missing:
        raise ValueError(f"weighted_median: column(s) not in df: {missing}")
    if scale < 1:
        raise ValueError(f"weighted_median: scale must be >= 1, got {scale}")
    wv = F.floor(F.col(weight_col) * scale + F.lit(0.5)).cast("long")
    base = df.where(
        F.col(value_col).isNotNull() & F.col(weight_col).isNotNull() & (wv > 0)
    ).select(*keys, F.col(value_col).alias("__v"), wv.alias("__w"))
    wp = Window.partitionBy(*keys)
    wcum = wp.orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = base.select(
        *keys,
        "__v",
        F.sum("__w").over(wcum).alias("__cw"),
        F.sum("__w").over(wp).alias("__tw"),
        F.count(F.lit(1)).over(wp).alias("__n"),
    )
    return staged.groupBy(*keys).agg(
        F.max("__n").alias("n"),
        F.round(F.max("__tw").cast("double") / scale, fn.NDIGITS).alias("total_w"),
        F.min(F.when(F.col("__cw") * 2 >= F.col("__tw"), F.col("__v"))).alias("wmedian"),
    )


def gini(
    df: DataFrame,
    by: "list[str] | str",
    value_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group Gini concentration of a non-negative quantity — the
    one-number answer to "is this corpus dominated by a few sources /
    users / documents?" (0 = perfectly even, ->1 = one row holds
    everything).  Data-mix audits track it per snapshot: a rising Gini
    on tokens-per-source says the crawl is collapsing onto few hosts.

    Uses the sorted identity G = 2*sum(i*x_i) / (n*sum(x)) - (n+1)/n
    (i = 1-based ascending rank).  Values quantize to fixed-point
    BIGINTs and both sums fold as exact decimals — equal values commute
    in sum(i*x_i), so tie order is irrelevant; the single float
    division rounds to ``fn.NDIGITS``.  NULLs drop; negative values
    raise upstream semantics questions, so they drop too and are
    counted in ``n_dropped``.

    Scale shape: one exchange on the group key (rank window + aggregate
    share it), map-side-combined final fold.
    """
    keys = [by] if isinstance(by, str) else list(by)
    missing = [c for c in [*keys, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"gini: column(s) not in df: {missing}")
    if scale < 1:
        raise ValueError(f"gini: scale must be >= 1, got {scale}")
    dec = "decimal(38,0)"
    vv = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast(dec)
    ok = F.col(value_col).isNotNull() & (F.col(value_col) >= 0)
    base = df.select(*keys, F.when(ok, vv).alias("__v"))
    # dropped rows keep flowing (for n_dropped) but sort AFTER every
    # real value, so row_number over the real values stays 1..n
    w = Window.partitionBy(*keys).orderBy(F.col("__v").asc_nulls_last())
    ranked = base.withColumn(
        "__i", F.when(F.col("__v").isNotNull(), F.row_number().over(w).cast(dec))
    )
    g = ranked.groupBy(*keys).agg(
        F.count("__v").cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count("__v")).cast("long").alias("n_dropped"),
        F.coalesce(F.sum("__v"), F.lit(0).cast(dec)).alias("__s"),
        F.coalesce(F.sum((F.col("__i") * F.col("__v")).cast(dec)), F.lit(0).cast(dec)).alias("__is"),
    )
    n = F.col("n").cast(dec)
    gini_val = F.when(
        (F.col("n") > 0) & (F.col("__s") > 0),
        F.round(
            (F.lit(2).cast(dec) * F.col("__is")).cast("double")
            / (n * F.col("__s")).cast("double")
            - (n + 1).cast("double") / n.cast("double"),
            fn.NDIGITS,
        ),
    )
    return g.select(*keys, "n", "n_dropped", gini_val.alias("gini"))


def theil_sen(
    df: DataFrame,
    by: "list[str] | str",
    x_col: str,
    y_col: str,
    max_group_rows: "int | None" = 2000,
) -> DataFrame:
    """Per-group Theil-Sen robust trend: slope = median of all pairwise
    slopes (y_j - y_i)/(x_j - x_i), intercept = median(y) - slope *
    median(x) — up to ~29% contamination cannot move it, which is why
    it is the drift line fitted over monitoring series full of outliers
    (OLS would chase every spike; compare :func:`rolling_anomaly`).

    The pair stage is inherently quadratic IN THE GROUP, so this is a
    per-series/per-segment operator, NOT a corpus regression:
    ``max_group_rows`` (the er_resolve-style guard) raises with the
    offending groups instead of letting a 10^7-row group detonate into
    10^14 pairs — for big groups, downsample deterministically first
    (det_sample) or bin to quantile medians.

    Medians are exact two-middle averages over row_number windows (no
    engine-specific percentile interpolation); pair orientation is
    fixed by an (x, y)-ordered row id so every engine computes the
    identical slope set.  Rows with NULL x or y drop; groups where all
    x coincide yield NULL slope/intercept.

    Scale shape: one exchange on the group key shared by the rid/median
    windows, one keyed self-join (each group joins only itself), one
    median window over the pair table, two keyed aggregates.
    """
    keys = [by] if isinstance(by, str) else list(by)
    missing = [c for c in [*keys, x_col, y_col] if c not in df.columns]
    if missing:
        raise ValueError(f"theil_sen: column(s) not in df: {missing}")
    base = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *keys,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    if max_group_rows is not None and max_group_rows < 2:
        raise ValueError(f"theil_sen: max_group_rows must be >= 2 or None, got {max_group_rows}")
    check_group_cap(
        base, keys, max_group_rows, "theil_sen", "max_group_rows",
        "pairs are quadratic in the group — det_sample the groups down or raise the cap "
        "deliberately",
    )
    wg = Window.partitionBy(*keys)
    rid_w = wg.orderBy("__x", "__y")
    ranked = base.select(
        *keys, "__x", "__y", F.row_number().over(rid_w).alias("__rid")
    ).transform(stage, eager=False)

    # exact two-middle medians of x and y (one shared exchange)
    n_w = wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    med_src = ranked.select(
        *keys,
        F.count(F.lit(1)).over(n_w).alias("__n"),
        F.row_number().over(wg.orderBy("__x", "__rid")).alias("__rx"),
        F.row_number().over(wg.orderBy("__y", "__rid")).alias("__ry"),
        "__x",
        "__y",
    )
    lo = (F.col("__n") + 1) / 2
    hi = (F.col("__n") + 2) / 2
    meds = med_src.groupBy(*keys).agg(
        F.max("__n").cast("long").alias("n"),
        (
            (
                F.sum(F.when(F.floor(lo) == F.col("__rx"), F.col("__x")))
                + F.sum(F.when(F.floor(hi) == F.col("__rx"), F.col("__x")))
            )
            / 2.0
        ).alias("__mx"),
        (
            (
                F.sum(F.when(F.floor(lo) == F.col("__ry"), F.col("__y")))
                + F.sum(F.when(F.floor(hi) == F.col("__ry"), F.col("__y")))
            )
            / 2.0
        ).alias("__my"),
    )

    a = ranked.select(*keys, F.col("__rid").alias("__ra"), F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    b = ranked.select(*keys, F.col("__rid").alias("__rb"), F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    pairs = (
        a.join(b, keys)
        .where((F.col("__ra") < F.col("__rb")) & (F.col("__xa") != F.col("__xb")))
        .select(
            *keys,
            ((F.col("__yb") - F.col("__ya")) / (F.col("__xb") - F.col("__xa"))).alias("__sl"),
        )
    )
    pw = Window.partitionBy(*keys)
    slope_src = pairs.select(
        *keys,
        "__sl",
        F.count(F.lit(1)).over(pw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("__m"),
        F.row_number().over(pw.orderBy("__sl")).alias("__rs"),
    )
    mlo = (F.col("__m") + 1) / 2
    mhi = (F.col("__m") + 2) / 2
    slopes = slope_src.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            (
                F.sum(F.when(F.floor(mlo) == F.col("__rs"), F.col("__sl")))
                + F.sum(F.when(F.floor(mhi) == F.col("__rs"), F.col("__sl")))
            )
            / 2.0
        ).alias("__slope"),
    )
    out = meds.join(slopes, keys, "left")
    return out.select(
        *keys,
        "n",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.round("__slope", fn.NDIGITS).alias("slope"),
        F.round(F.col("__my") - F.col("__slope") * F.col("__mx"), fn.NDIGITS).alias("intercept"),
    )


def seq_patterns(
    df: DataFrame,
    key_col: str,
    order_cols: "list[str] | str",
    state_col: str,
    length: int = 3,
    min_count: int = 2,
    sep: str = ">",
) -> DataFrame:
    """Frequent consecutive state sequences of exactly ``length`` steps
    per key (the k-step generalization of :func:`transition_counts`) —
    "view>click>purchase happened 812 times, 3.1% of all 3-step
    windows" — the path-mining summary behind funnel design and
    next-event models.

    Every window of ``length`` consecutive states (per key, in
    ``order_cols`` order) becomes a ``sep``-joined pattern; windows
    containing a NULL state are dropped whole (concat_ws would
    silently shorten them into lies).  ``share`` is the pattern's
    fraction of ALL complete windows, computed before the
    ``min_count`` cut so rare-pattern shares stay honest.

    Scale shape: the lead() columns share one (key, order) sort; then
    one map-side-combined groupBy on the pattern string and a 1-row
    total broadcast.  Pattern cardinality is bounded by distinct
    state combinations actually observed, not the corpus.
    """
    if length < 2:
        raise ValueError(f"seq_patterns: length must be >= 2, got {length}")
    if min_count < 1:
        raise ValueError(f"seq_patterns: min_count must be >= 1, got {min_count}")
    orders = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    missing = [c for c in [key_col, *orders, state_col] if c not in df.columns]
    if missing:
        raise ValueError(f"seq_patterns: column(s) not in df: {missing}")
    w = Window.partitionBy(key_col).orderBy(*orders)
    steps = [F.col(state_col)] + [
        F.lead(state_col, i).over(w) for i in range(1, length)
    ]
    complete = df.select(
        F.concat_ws(sep, *steps).alias("pattern"),
        *[s.alias(f"__s{i}") for i, s in enumerate(steps)],
    )
    for i in range(length):
        complete = complete.where(F.col(f"__s{i}").isNotNull())
    counts = complete.groupBy("pattern").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__tot"))
    return (
        counts.join(F.broadcast(total))
        .where(F.col("cnt") >= min_count)
        .select(
            "pattern",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("__tot").cast("double"), fn.NDIGITS).alias(
                "share"
            ),
        )
    )


def attribution(
    df: DataFrame,
    key_col: str,
    order_cols: "list[str] | str",
    channel_col: str,
    conversion_col: str,
    model: str = "last",
) -> DataFrame:
    """Marketing-style conversion attribution: credit each conversion
    to the touch (non-conversion) events that preceded it within the
    same key, under the three standard models — ``last`` (100% to the
    most recent touch), ``first`` (100% to the earliest), ``linear``
    (equal split over all touches in the journey).  Output one row per
    channel: (channel, journeys, credit) — the ROI table campaign
    dashboards are built on.

    A conversion row is one where ``conversion_col`` is true; its
    journey is every earlier touch for the same key SINCE THE PREVIOUS
    CONVERSION (each conversion consumes its journey — the standard
    resetting convention).  Conversions with no preceding touch credit
    the synthetic channel ``'(direct)'``.  ``journeys`` counts the
    journeys the channel earned credit in.

    Linear credit is computed in exact integer micro-units
    (``n_ch * 1e6 div n_touches`` per journey, floor), so the
    aggregate is order-independent and engine-exact; a journey's
    credit can undershoot 1.0 by < 1e-6 * channels from the floor —
    the documented cost of exactness.

    Scale shape: one (key, order) window partitioning shared by the
    journey-epoch running count and the touch rank, ONE journey
    groupBy, ONE channel groupBy (both map-side combined) — the
    corpus never self-joins and never explodes.
    """
    if model not in ("last", "first", "linear"):
        raise ValueError(f"attribution: unknown model {model!r}")
    orders = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    missing = [c for c in [key_col, *orders, channel_col, conversion_col] if c not in df.columns]
    if missing:
        raise ValueError(f"attribution: column(s) not in df: {missing}")
    w = Window.partitionBy(key_col).orderBy(*orders)
    conv = F.col(conversion_col).cast("boolean")
    # journey id = number of conversions STRICTLY BEFORE this row: a
    # conversion row closes journey j and the next row opens j+1
    epoch = F.coalesce(
        F.sum(conv.cast("long")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    touch_rank = F.sum((~conv).cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.select(
        F.col(key_col).alias("__k"),
        conv.alias("__c"),
        F.col(channel_col).alias("__ch"),
        epoch.alias("__j"),
        F.when(~conv, touch_rank).alias("__tr"),
    )
    journeys = staged.groupBy("__k", "__j").agg(
        F.sum(F.col("__c").cast("long")).alias("__nconv"),
        F.count(F.col("__tr")).alias("__ntouch"),
        F.min_by(F.col("__ch"), F.col("__tr")).alias("__first"),
        F.max_by(F.col("__ch"), F.col("__tr")).alias("__last"),
    )
    converted = journeys.where(F.col("__nconv") > 0)
    if model in ("last", "first"):
        pick = F.col("__last") if model == "last" else F.col("__first")
        credited = converted.select(
            F.coalesce(pick, F.lit("(direct)")).alias("channel"),
            F.lit(1_000_000).cast("long").alias("__micro"),
        )
    else:
        touches = (
            staged.where(F.col("__tr").isNotNull())
            .groupBy("__k", "__j", "__ch")
            .agg(F.count(F.lit(1)).alias("__n_ch"))
        )
        credited = touches.join(
            converted.select("__k", "__j", "__ntouch"), ["__k", "__j"], "inner"
        ).select(
            F.col("__ch").alias("channel"),
            F.expr("CAST(__n_ch * 1000000 AS BIGINT) div CAST(__ntouch AS BIGINT)").alias(
                "__micro"
            ),
        ).unionByName(
            converted.where(F.col("__ntouch") == 0).select(
                F.lit("(direct)").alias("channel"),
                F.lit(1_000_000).cast("long").alias("__micro"),
            )
        )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("journeys"),
        F.round(F.sum("__micro").cast("double") / 1e6, fn.NDIGITS).alias("credit"),
    )


def label_encode(
    df: DataFrame,
    col: str,
    out_col: "str | None" = None,
    order: str = "frequency",
) -> DataFrame:
    """Dense 0-based integer ids for a categorical column — the
    embedding-table / compact-join encoding (StringIndexer semantics,
    but deterministic and engine-reproducible).  ``order='frequency'``
    assigns 0 to the most frequent value (ties by value ascending —
    exactly Spark ML's StringIndexer ``frequencyDesc`` contract), so
    ids are stable under resampling of a heavy-tailed distribution;
    ``order='value'`` sorts lexicographically for snapshot-independent
    ids.  NULL encodes to NULL (filter or fillna upstream).

    Scale shape: one map-side-combined distinct-count aggregate builds
    the dictionary (|categories| rows), ids come from the
    assign_row_ids distributed rank over THAT bounded table — never
    over the corpus — and the dictionary joins back keyed (AQE
    broadcasts it).  The corpus itself never sorts.
    """
    if order not in ("frequency", "value"):
        raise ValueError(f"label_encode: unknown order {order!r}")
    if col not in df.columns:
        raise ValueError(f"label_encode: column {col!r} not in df")
    out = out_col or f"{col}_id"
    if out in df.columns:
        raise ValueError(f"label_encode: output column {out!r} collides with df")
    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    if order == "frequency":
        staged = counts.select("__v", (-F.col("__n")).alias("__negn"))
        order_cols = ["__negn", "__v"]
    else:
        staged = counts.select("__v")
        order_cols = ["__v"]
    dictionary = assign_row_ids(staged, order_cols, out_col="__rid").select(
        F.col("__v").alias(col), (F.col("__rid") - 1).cast("long").alias(out)
    )
    return df.join(dictionary, col, "left")


def ks_test(
    df: DataFrame,
    sample_col: str,
    value_col: str,
    a: str,
    b: str,
    by: "list[str] | str | None" = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test — the
    nonparametric complement to ``psi``: D = sup over observed values of
    |ECDF_a - ECDF_b|, with the asymptotic two-sided p-value
    ``2 exp(-2 D^2 n_a n_b / (n_a + n_b))`` (Smirnov's bound, the
    standard monitoring readout).  ``sample_col`` labels each row ``a``
    (reference) or ``b`` (candidate); rows with other labels or NULL
    values drop.

    Exactness: the supremum is maximized as the INTEGER cross-product
    |cum_a * n_b - cum_b * n_a| over per-distinct-value cumulative
    counts, so D is a ratio of exact integers; only the final division
    and the p-value exponential are floats (rounded ``fn.NDIGITS``).

    Scale shape: one map-side-combined count per (value, sample) pair,
    then the cumulative counts.  With ``by`` the running sums ride a
    key-partitioned window (one exchange); without it they come from
    :func:`backend_spark.scale.prefix_sums`, so a billion-distinct-value
    KS still distributes (its cut stores each distinct value with both
    counts, so a wide value type widens it).
    Output: by-cols + (n_a, n_b, d_stat, p_approx).
    """
    keys = [] if by is None else ([by] if isinstance(by, str) else list(by))
    missing = [c for c in [*keys, sample_col, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"ks_test: column(s) not in df: {missing}")
    lab = F.col(sample_col)
    base = df.where(
        F.col(value_col).isNotNull() & lab.isin(a, b)
    ).select(
        *keys,
        F.col(value_col).alias("__v"),
        (lab == a).cast("long").alias("__ia"),
        (lab == b).cast("long").alias("__ib"),
    )
    per_v = base.groupBy(*keys, "__v").agg(
        F.sum("__ia").alias("__ca"), F.sum("__ib").alias("__cb")
    )
    if keys:
        w = Window.partitionBy(*keys).orderBy("__v")
        wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wall = Window.partitionBy(*keys)
        staged = per_v.select(
            *keys,
            F.sum("__ca").over(wr).alias("__ra"),
            F.sum("__cb").over(wr).alias("__rb"),
            F.sum("__ca").over(wall).alias("__na"),
            F.sum("__cb").over(wall).alias("__nb"),
        )
    else:
        ranked, tot = prefix_sums(
            per_v, "__v", {"__ra": F.col("__ca"), "__rb": F.col("__cb")}
        )
        tot = tot.select(F.col("__ra").alias("__na"), F.col("__rb").alias("__nb"))
        staged = ranked.crossJoin(F.broadcast(tot))
    cross = F.abs(F.col("__ra") * F.col("__nb") - F.col("__rb") * F.col("__na"))
    agg = staged.groupBy(*keys).agg(
        F.max("__na").cast("long").alias("n_a"),
        F.max("__nb").cast("long").alias("n_b"),
        F.max(cross).alias("__m"),
    )
    d = F.col("__m").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    p = F.least(
        F.lit(1.0),
        2.0
        * F.exp(
            -2.0
            * d
            * d
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
            / (F.col("n_a") + F.col("n_b")).cast("double")
        ),
    )
    return agg.select(
        *keys,
        "n_a",
        "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(d, fn.NDIGITS)).alias("d_stat"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(p, fn.NDIGITS)).alias("p_approx"),
    )


def twap(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    scale: int = 1_000_000,
    tie_break: "str | None" = None,
) -> DataFrame:
    """Time-weighted average per key — the piecewise-constant integral
    of an observed level over its holding durations, divided by the
    observed span (the TWAP of finance, the duty-cycle mean of
    monitoring: a sensor that read 9 for an hour and 1 for a second
    averages ~9, not 5).  Each observation holds until the next one;
    the final observation contributes no duration (nothing is known
    past it), so single-observation keys yield NULL.

    Exactness: timestamps must already be integers (epoch micros — see
    ``session.event_ts_us``); values quantize to fixed point, so every
    duration-weighted product folds as an exact decimal and only the
    final division is float (rounded ``fn.NDIGITS``).  Equal timestamps
    within a key make the lead() pairing order-dependent (the tied
    readings swap holding durations) — pass ``tie_break`` (a unique
    column) to pin a total order; tied readings then hold 0 duration
    except the last, deterministically.

    Scale shape: one (key, ts) window partitioning for the lead()
    duration, one map-side-combined aggregate.
    """
    if scale < 1:
        raise ValueError(f"twap: scale must be >= 1, got {scale}")
    missing = [c for c in (key_col, ts_col, value_col) if c not in df.columns]
    if missing:
        raise ValueError(f"twap: column(s) not in df: {missing}")
    dec = "decimal(38,0)"
    order = [F.col(ts_col)] + ([F.col(tie_break)] if tie_break else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast(dec)
    base = df.where(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
    staged = base.select(
        F.col(key_col),
        F.col(ts_col).cast("long").alias("__t"),
        v.alias("__v"),
        (F.lead(F.col(ts_col).cast("long")).over(w) - F.col(ts_col).cast("long")).alias("__dur"),
    )
    agg = staged.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("__t") - F.min("__t")).alias("span"),
        F.coalesce(
            F.sum((F.col("__v") * F.col("__dur").cast(dec)).cast(dec)), F.lit(0).cast(dec)
        ).alias("__wsum"),
    )
    return agg.select(
        key_col,
        "n",
        "span",
        F.round(
            F.when(
                F.col("span") > 0,
                F.col("__wsum").cast("double") / F.col("span").cast("double") / scale,
            ),
            fn.NDIGITS,
        ).alias("twap"),
    )


def rfm(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    n_tiles: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """RFM customer segmentation — Recency (latest activity), Frequency
    (event count), Monetary (fixed-point amount sum) per key, each
    scored 1..``n_tiles`` by ntile so 5/5/5 is the most recent, most
    frequent, highest-spending segment.  The classic churn/value
    screen, and the feature triple behind most lifecycle models.

    Ties order deterministically by the key, so scores are
    engine-exact; monetary sums are fixed-point decimals.  Scale
    shape: one map-side-combined aggregate to |keys| rows, then each
    score axis gets a DISTRIBUTED global rank from
    :func:`~backend_spark.scale.prefix_sums` (a bare
    ``ntile().over(Window.orderBy(...))`` would funnel all |keys| rows
    through one task), and the ntile bucket is recovered from (rank, N)
    with the standard integer arithmetic (first ``N mod n`` buckets one
    row larger) — bit-exact with ``ntile`` in any engine.
    """
    if n_tiles < 2:
        raise ValueError(f"rfm: n_tiles must be >= 2, got {n_tiles}")
    missing = [c for c in (key_col, ts_col, amount_col) if c not in df.columns]
    if missing:
        raise ValueError(f"rfm: column(s) not in df: {missing}")
    dec = "decimal(38,0)"
    amt = F.floor(F.col(amount_col) * scale + F.lit(0.5)).cast(dec)
    agg = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.max(F.col(ts_col).cast("long")).alias("recency"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.coalesce(F.sum(amt), F.lit(0).cast(dec)).alias("__m"),
        )
    )
    ranked = assign_row_ids(agg, ["recency", key_col], "__rr")
    ranked = assign_row_ids(ranked, ["frequency", key_col], "__rf")
    ranked, tot = prefix_sums(ranked, ["__m", key_col], {"__rm": F.lit(1).cast("long")})
    tot = tot.select(F.col("__rm").alias("__N"))

    n = int(n_tiles)
    q = f"(__N div {n})"          # base bucket size
    r = f"(__N % {n})"            # number of buckets one row larger
    cut = f"({r} * ({q} + 1))"    # last rank inside the larger buckets

    def tile(rn: str):
        return F.expr(
            f"CAST(CASE WHEN {rn} <= {cut} "
            f"THEN ({rn} + {q}) div ({q} + 1) "
            f"ELSE {r} + (({rn} - {cut} + {q} - 1) div {q}) END AS INT)"
        )

    return ranked.crossJoin(F.broadcast(tot)).select(
        key_col,
        "recency",
        "frequency",
        F.round(F.col("__m").cast("double") / scale, fn.NDIGITS).alias("monetary"),
        tile("__rr").alias("r_score"),
        tile("__rf").alias("f_score"),
        tile("__rm").alias("m_score"),
    )


def bucket_quantiles(
    df: DataFrame,
    by: "list[str] | str",
    value_col: str,
    percentiles: "list[int]" = (50, 95, 99),
    prefix: str = "p",
) -> DataFrame:
    """Exact per-group percentile bands — the p50/p95/p99 latency
    readout of every service dashboard, computed as the LOWER
    (rank-based) quantile: value at 1-based rank ``ceil(p*n/100)`` in
    ascending order.  No interpolation, so the result is an actual
    observed value and the rank arithmetic is pure integer —
    engine-exact for any type with a total order (compare Spark's
    ``percentile_approx``, which trades exactness for a sketch, and
    ``F.percentile``, whose interpolation differs across engines).

    One exchange on the group key (rank window + aggregate share it);
    NULL values drop.  Output: by-cols + n + one column per requested
    percentile (``p50``, ``p95``, ...).
    """
    keys = [by] if isinstance(by, str) else list(by)
    ps = list(percentiles)
    if not ps or any(not (1 <= int(p) <= 100) for p in ps):
        raise ValueError(f"bucket_quantiles: percentiles must be in 1..100, got {ps}")
    missing = [c for c in [*keys, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"bucket_quantiles: column(s) not in df: {missing}")
    base = df.where(F.col(value_col).isNotNull())
    w = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    wn = Window.partitionBy(*keys)
    staged = base.select(
        *keys,
        F.col(value_col).alias("__v"),
        F.row_number().over(w).cast("long").alias("__rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("__n"),
    )
    aggs = [F.max("__n").alias("n")]
    for p in ps:
        # ceil(p*n/100) in pure integer arithmetic: (p*n + 99) div 100
        rank = F.expr(f"CAST(({int(p)} * __n + 99) div 100 AS BIGINT)")
        aggs.append(F.min(F.when(F.col("__rn") == rank, F.col("__v"))).alias(f"{prefix}{int(p)}"))
    return staged.groupBy(*keys).agg(*aggs)


def merge_intervals(
    df: DataFrame,
    key_col: str,
    lo_col: str,
    hi_col: str,
    max_gap: int = 0,
) -> DataFrame:
    """Coalesce each key's half-open intervals ``[lo, hi)`` into maximal
    non-overlapping spans, bridging gaps up to ``max_gap`` — the
    interval union behind availability windows, on-call coverage,
    contiguous-visit stitching, and validity-range cleanup before an
    :func:`~backend_spark.quality.scd2_lookup`-style join.  The
    continuous-time sibling of ``sessionize`` (which merges POINT
    events by gap; this merges SPANS, where containment and overlap
    must collapse too).

    Gaps-and-islands on intervals: order by (lo, hi), a span breaks
    where ``lo > running_max(hi so far) + max_gap`` — the running max
    handles contained intervals (a long span swallowing later short
    ones).  One (key, lo, hi) window partitioning shared by the
    running max, the break flags, and the island ids; then ONE
    aggregate.  Rows with NULL or inverted bounds drop.  Output: key,
    merged (lo, hi), n_merged source intervals.
    """
    if max_gap < 0:
        raise ValueError(f"merge_intervals: max_gap must be >= 0, got {max_gap}")
    missing = [c for c in (key_col, lo_col, hi_col) if c not in df.columns]
    if missing:
        raise ValueError(f"merge_intervals: column(s) not in df: {missing}")
    base = df.where(
        F.col(lo_col).isNotNull()
        & F.col(hi_col).isNotNull()
        & (F.col(lo_col) < F.col(hi_col))
    ).select(
        F.col(key_col),
        F.col(lo_col).cast("long").alias("__lo"),
        F.col(hi_col).cast("long").alias("__hi"),
    )
    w = Window.partitionBy(key_col).orderBy("__lo", "__hi")
    prev_max = F.max("__hi").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "__new",
        F.when(prev_max.isNull() | (F.col("__lo") > prev_max + max_gap), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(key_col, "__island")
        .agg(
            F.min("__lo").alias(lo_col),
            F.max("__hi").alias(hi_col),
            F.count(F.lit(1)).cast("long").alias("n_merged"),
        )
        .drop("__island")
    )


def gap_report(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_gap: int,
    top_k_per_key: "int | None" = None,
) -> DataFrame:
    """Missing-data gaps per series: every pair of consecutive
    observations (per key, timestamps as epoch-micros integers) whose
    spacing exceeds ``min_gap`` — the "where did my feed go silent"
    report that complements :func:`~backend_spark.quality.freshness`
    (which only sees the newest edge) and precedes
    :func:`resample_gapfill` (which repairs what this one finds).

    One (key, ts) window partitioning for the lead() spacing, an
    optional per-key top-k window on the same exchange (largest gaps
    first, ties by start time).  Output: key, gap_start, gap_end,
    gap_us[, rank].
    """
    if min_gap < 1:
        raise ValueError(f"gap_report: min_gap must be >= 1, got {min_gap}")
    missing = [c for c in (key_col, ts_col) if c not in df.columns]
    if missing:
        raise ValueError(f"gap_report: column(s) not in df: {missing}")
    w = Window.partitionBy(key_col).orderBy(ts_col)
    base = (
        df.where(F.col(ts_col).isNotNull())
        .select(
            F.col(key_col),
            F.col(ts_col).cast("long").alias("gap_start"),
            F.lead(F.col(ts_col).cast("long")).over(
                Window.partitionBy(key_col).orderBy(F.col(ts_col).cast("long"))
            ).alias("gap_end"),
        )
        .where(F.col("gap_end").isNotNull())
        .withColumn("gap_us", F.col("gap_end") - F.col("gap_start"))
        .where(F.col("gap_us") > min_gap)
    )
    if top_k_per_key is None:
        return base
    rw = Window.partitionBy(key_col).orderBy(
        F.col("gap_us").desc(), F.col("gap_start").asc()
    )
    return base.withColumn("rank", F.row_number().over(rw)).where(
        F.col("rank") <= top_k_per_key
    )


def pop_change(
    df: DataFrame,
    key_cols: "list[str] | str",
    period_col: str,
    value_col: str,
    agg: str = "sum",
    scale: int = 1_000_000,
) -> DataFrame:
    """Period-over-period change — the BI staple behind every "vs last
    month" tile: aggregate ``value_col`` per (key, period), then report
    each period's value next to the PREVIOUS period's, the absolute
    change, and the percent change (NULL for the first period and for
    a zero base).  Period bucketing (month truncation, week floor) is
    the caller's projection, so any calendar convention works.

    ``agg``: 'sum' (fixed-point decimal — engine-exact) or 'count'.
    "Previous" means the previous period THAT HAS DATA — feed
    :func:`resample_gapfill` output first when silent periods must
    count as zero.

    Scale shape: one map-side-combined aggregate to |keys × periods|
    rows, then one lag window over THAT table — the fact table never
    sorts.
    """
    if agg not in ("sum", "count"):
        raise ValueError(f"pop_change: agg must be sum or count, got {agg!r}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    missing = [c for c in [*keys, period_col, value_col] if c not in df.columns]
    if missing:
        raise ValueError(f"pop_change: column(s) not in df: {missing}")
    dec = "decimal(38,0)"
    if agg == "sum":
        v = F.floor(F.col(value_col) * scale + F.lit(0.5)).cast(dec)
        metric = (
            F.coalesce(F.sum(v), F.lit(0).cast(dec)).cast("double") / scale
        )
    else:
        metric = F.count(F.col(value_col)).cast("double")
    per = df.groupBy(*keys, period_col).agg(F.round(metric, fn.NDIGITS).alias("value"))
    w = Window.partitionBy(*keys).orderBy(period_col)
    prev = F.lag("value").over(w)
    return per.select(
        *keys,
        period_col,
        "value",
        F.round(prev, fn.NDIGITS).alias("prev_value"),
        F.round(F.col("value") - prev, fn.NDIGITS).alias("change"),
        F.round(
            F.when(prev != 0, (F.col("value") - prev) / prev), fn.NDIGITS
        ).alias("pct_change"),
    )


def session_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_us: int,
) -> DataFrame:
    """Per-session engagement metrics — the table sessionization exists
    to feed: one row per (key, session) with event depth, start/end,
    duration, and the bounce flag (single-event session).  The batch
    gaps-and-islands sibling of ``streaming.sessionize``'s
    session_window aggregate, on integer epoch-micros timestamps so
    every boundary decision is exact.

    A session breaks where the spacing to the previous observation
    exceeds ``gap_us`` (strictly greater, matching session_window's
    gap-extended overlap rule).  Timestamp ties are harmless: tied
    rows see a zero spacing whatever their order, so flags, session
    ids, and the per-session aggregates are permutation-stable.

    Scale shape: ONE (key, ts) exchange shared by the lag, the running
    session counter, and the final aggregate.
    """
    if gap_us < 1:
        raise ValueError(f"session_stats: gap_us must be >= 1, got {gap_us}")
    missing = [c for c in (key_col, ts_col) if c not in df.columns]
    if missing:
        raise ValueError(f"session_stats: column(s) not in df: {missing}")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).cast("long"))
    t = F.col(ts_col).cast("long")
    prev = F.lag(t).over(w)
    base = df.where(F.col(ts_col).isNotNull()).select(
        F.col(key_col),
        t.alias("__t"),
        F.when(prev.isNull() | (t - prev > gap_us), 1).otherwise(0).alias("__new"),
    )
    ids = base.withColumn(
        "session",
        F.sum("__new").over(
            Window.partitionBy(key_col)
            .orderBy("__t")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    return ids.groupBy(key_col, "session").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("__t").alias("session_start"),
        F.max("__t").alias("session_end"),
        (F.max("__t") - F.min("__t")).alias("duration_us"),
        (F.count(F.lit(1)) == 1).alias("bounce"),
    )
