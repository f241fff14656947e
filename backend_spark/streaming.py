"""Structured Streaming extensions (SURVEY.md §2.9 / §7 step 10).

The reference is purely batch — its only "streaming" is incremental
append writes (code/recipes.py:722-724).  These helpers give recipes a
streaming input path with the canonical Spark constructs: file-source
readStream, watermarked tumbling/sliding window aggregates, and
stateful sessionization.  The same recipe step functions (pure
DataFrame -> DataFrame Column transformations) apply unchanged to a
streaming frame — that is the point of building on the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_spark import functions as fn


def read_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (each new file is a micro-batch).  Schema is
    required by Spark for file streams — pass one or point at a
    directory with existing files to infer from."""
    reader = spark.readStream.format(fmt)
    if schema is None:
        schema = spark.read.format(fmt).load(path).schema
    reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    group_by: list[str] | None = None,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregate — the streaming
    equivalent of ``groupby agg`` (late rows beyond ``watermark`` are
    dropped; state is bounded, which is what makes this run forever at
    100 TB/day ingest)."""
    aggs = aggs or {"*": "count"}
    agg_map = {"count": F.count, "sum": F.sum, "mean": F.avg, "max": F.max, "min": F.min}
    exprs = []
    for col, fname in aggs.items():
        target = F.lit(1) if col == "*" else F.col(col)
        exprs.append(agg_map[fname](target).alias(f"{col if col != '*' else 'rows'}_{fname}"))
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(w.alias("window"), *(group_by or []))
        .agg(*exprs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(group_by or []),
            *[c for c in [f"{col if col != '*' else 'rows'}_{f}" for col, f in aggs.items()]],
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows (gap-based) per key — `F.session_window` keeps
    state per open session only, the scalable construct for user
    sessionization."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("session"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication: keep the first event per key within the
    watermark horizon (``dropDuplicatesWithinWatermark`` — state per
    live key only, evicted as the watermark passes, so memory is
    bounded no matter how long the stream runs).  The streaming
    counterpart of ``llm.dedup_exact`` for ingest pipelines."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def join_streams(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    range_cond: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with watermarks on both sides plus a
    required event-time range bound (Spark needs both to know when
    buffered state can be evicted).  ``range_cond`` defaults to
    "right within [left, left + 1 hour]"."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for c in on:
        eq = lw[c] == rw[c]
        cond = eq if cond is None else cond & eq
    rng = (
        F.expr(range_cond)
        if range_cond
        else (rw[right_ts] >= lw[left_ts]) & (rw[right_ts] <= lw[left_ts] + F.expr("INTERVAL 1 HOUR"))
    )
    joined = lw.join(rw, cond & rng, how)
    # drop the duplicated equi-key columns from the right side
    return joined.drop(*[rw[c] for c in on])


def _running_count(
    df: DataFrame, keys: dict[str, str], batch_col: str | None, total_col: str
) -> DataFrame:
    """Per-key running event count kept in the state store across
    micro-batches (``applyInPandasWithState``; state = one long per
    active key).  ``keys`` maps each grouping column to its SQL type.
    Emits one row per key per batch: the keys, the batch's count as
    ``batch_col`` (omitted when None) and the all-time ``total_col``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _count(key, pdfs, state):
        import pandas as pd

        n = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        row = dict(zip(keys, key))
        if batch_col is not None:
            row[batch_col] = n
        row[total_col] = total
        yield pd.DataFrame({c: [v] for c, v in row.items()})

    counts = "".join(f", {c} long" for c in (batch_col, total_col) if c is not None)
    return df.groupBy(*keys).applyInPandasWithState(
        _count,
        outputStructType=", ".join(f"{c} {t}" for c, t in keys.items()) + counts,
        stateStructType="total long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_running_count(
    df: DataFrame,
    key_col: str,
    key_type: str = "string",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (the
    extension point SURVEY.md §2.9 names for operators Spark's windowed
    aggs can't express): a per-key running total that survives across
    micro-batches through the state store.  Emits one row per key per
    batch with the batch's count and the all-time total.

    The same pattern (state = arbitrary tuple, arrow-batched updates)
    carries any reference-style accumulator — dedup-seen sets, session
    carts, rate counters — with state bounded per active key, which is
    what keeps it running at 100 TB/day.
    """
    return _running_count(df, {key_col: key_type}, "batch_events", "total_events")


def topk_stream(
    df: DataFrame,
    group_col: str,
    item_col: str,
    group_type: str = "string",
    item_type: str = "long",
) -> DataFrame:
    """Streaming heavy-hitter counts: exact running occurrence totals
    per (group, item) across micro-batches — the state behind a live
    "top sources / top users / hottest keys per category" board, and
    the skew early-warning a 100 TB ingest wants *while* loading, not
    after the fact.  Each batch appends the key's updated all-time
    total; the
    current top-k per group is one windowed rank over the LATEST total
    per key (see the ``topk_stream`` driver query for the canonical
    finisher), so ranking stays a cheap batch epilogue instead of
    cross-key streaming state.

    State is ONE integer per active (group, item) — the exact-count
    regime.  When the item domain is unbounded (URLs, raw strings),
    cap it upstream (hash-bucket the tail or pre-filter) or accept the
    state growth; a lossy Space-Saving sketch trades that memory for
    ±εN error and loses the cross-engine exactness this kernel exists
    for.
    """
    return _running_count(df, {group_col: group_type, item_col: item_type}, None, "total")


def pack_stream(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int = 512,
    shards: int = 8,
    salt: str = "pack",
) -> DataFrame:
    """Streaming sequence packing — the stateful counterpart of
    :func:`backend_spark.llm.pack_sequences` for a continuously
    arriving corpus: per-shard state is one running token total, and
    each micro-batch's documents are appended to their shard's stream
    at the offset where the previous batch left off (same shard
    hashing, same ``bin_id`` layout, so a batch-packed corpus and a
    stream-packed one address chunks identically).

    Within a micro-batch, a shard's documents are ordered by id (the
    batch kernel's deterministic order); across micro-batches the order
    is arrival order — the defining difference of streaming ingestion.
    Draining everything in ONE batch therefore reproduces the batch
    kernel bit-for-bit, which is this operator's equivalence oracle.
    State is O(1) per shard (a single long), the cheapest possible
    stateful operator at 100 TB/day.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    shard = (
        fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))) % shards
    )
    base = df.select(
        F.col(id_col),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        shard.alias("shard"),
    )

    def _pack(key, pdfs, state):
        import pandas as pd

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(id_col)
        total = state.get[0] if state.exists else 0
        cum = pdf["n_tokens"].cumsum()
        pdf = pdf.assign(start_offset=total + cum - pdf["n_tokens"])
        state.update((total + int(pdf["n_tokens"].sum()),))
        pdf["bin_id"] = pdf["shard"] * 2**33 + pdf["start_offset"] // budget
        yield pdf[[id_col, "n_tokens", "shard", "start_offset", "bin_id"]]

    return base.groupBy("shard").applyInPandasWithState(
        _pack,
        outputStructType=(
            f"{id_col} long, n_tokens long, shard long, start_offset long, bin_id long"
        ),
        stateStructType="total long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def locf_stream(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
    key_type: str = "long",
    order_type: str = "long",
    value_type: str = "double",
) -> DataFrame:
    """Streaming LOCF (last observation carried forward) — the stateful
    counterpart of :func:`backend_spark.features.fill_forward` for a
    continuously arriving sparse metric stream: per-key state is ONE
    value (the latest non-null observation), each micro-batch sorts its
    own rows, forward-fills within the batch, seeds from state, and
    leaves the state at the batch's final observation.

    Within a micro-batch rows order by (order, tiebreak) — the batch
    kernel's deterministic order — so draining everything in ONE
    availableNow batch reproduces batch ``fill_forward`` bit-for-bit,
    which is this operator's equivalence oracle.  State is O(1) per
    active key (a single value — NUMERIC only: the state store holds a
    double, so fill string columns with batch ``fill_forward`` or a
    dictionary-encoded id), the cheapest stateful shape at 100 TB/day.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    sort_cols = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    out_schema = ", ".join(
        [f"{key_col} {key_type}", f"{order_col} {order_type}"]
        + ([f"{tiebreak_col} {order_type}"] if tiebreak_col else [])
        + [f"{value_col} {value_type}"]
    )

    def _fill(key, pdfs, state):
        import pandas as pd

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(sort_cols)
        filled = pdf[value_col].ffill()
        if state.exists:
            filled = filled.fillna(state.get[0])
        tail = filled.iloc[-1] if len(filled) else None
        if tail is not None and pd.notna(tail):
            state.update((float(tail),))
        yield pdf.assign(**{value_col: filled})[[key_col, *sort_cols, value_col]]

    return df.groupBy(key_col).applyInPandasWithState(
        _fill,
        outputStructType=out_schema,
        stateStructType="last double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def enrich_stream(
    stream_df: DataFrame,
    static_df: DataFrame,
    on: list[str] | str,
    how: str = "left",
    broadcast_static: bool = True,
) -> DataFrame:
    """Stream-static join: enrich (or gate) an event stream against a
    batch dimension table — lookup enrichment, blocklist filtering
    (``how='left_anti'``), benchmark decontamination in flight.  The
    static side is re-read each micro-batch (so a refreshed dimension
    is picked up without restarting the query) and, by default,
    broadcast: every batch is then a map-side hash join with NO state
    store and no watermark bookkeeping — this is the cheap join class
    in Structured Streaming, unlike :func:`join_streams`, and the
    right tool whenever one side is bounded.  Only the stream side
    may be streaming; Spark enforces the rest of the semantics.
    """
    s = F.broadcast(static_df) if broadcast_static else static_df
    return stream_df.join(s, on, how)


def write_stream_upsert(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str] | str,
    ts_col: str,
    checkpoint: str,
    n_buckets: int = 32,
    tiebreak_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Continuous CDC upsert sink: maintain a keyed latest-state parquet
    table from an append-only event stream — the streaming counterpart
    of :func:`~backend_spark.operators.groupby.compact_latest` (which
    does the same once, in batch).

    Plain parquet has no MERGE, so each micro-batch uses the only
    scale-correct vanilla mechanism: the state is hash-bucketed on the
    key into ``n_buckets`` partition directories, and a batch rewrites
    ONLY the buckets it touches (dynamic partition overwrite) — work
    per batch is O(touched buckets' state + batch), never O(total
    state).  Size ``n_buckets`` so one bucket ≈ one task's worth, the
    ``write_bucketed`` rule.  On a lakehouse table format this whole
    function collapses to ``MERGE INTO``; the batch/foreachBatch split
    and the idempotent per-bucket overwrite (exactly-once via the
    checkpoint's batch id replay + full-bucket rewrite) are what the
    pattern teaches.

    Returns the StreamingQuery handle.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    from backend_spark.operators.groupby import compact_latest

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")
        staged = batch_df.withColumn("__bucket", bucket)
        touched = [r["__bucket"] for r in staged.select("__bucket").distinct().collect()]
        if not touched:
            return
        # only a missing-state path means "first batch" — any OTHER read
        # failure (transient storage error) must abort the batch, else the
        # overwrite below would rewrite touched buckets from the batch
        # alone and silently destroy their prior state
        from pyspark.errors import AnalysisException

        try:
            state = spark.read.parquet(path).where(F.col("__bucket").isin(touched))
            merged = state.unionByName(staged)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            merged = staged
        out = compact_latest(
            merged, [*keys, "__bucket"], ts_col, tiebreak_col=tiebreak_col
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(path)
        )

    writer = (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if trigger_available_now:
        q.awaitTermination()
    return q


def cdc_stream(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str] | str,
    seq_col: str,
    op_col: str,
    checkpoint: str,
    n_buckets: int = 32,
    trigger_available_now: bool = True,
):
    """Streaming CDC apply with delete tombstones — the continuous
    counterpart of :func:`~backend_spark.scale.cdc_apply` (same
    latest-change-wins contract: max ``seq``, ties by ``op``
    descending so 'U' > 'I' > 'D').

    Delegates the state maintenance to :func:`write_stream_upsert`
    (hash-bucketed parquet state, per-batch touched-bucket rewrite).
    Delete rows are NOT physically dropped from state — they persist
    as tombstones so a stale update arriving in a LATER micro-batch
    (out-of-order feeds are the normal case) still loses to the
    delete instead of resurrecting the key.  Readers filter them:
    :func:`read_cdc_state`.  Because each batch re-compacts
    state ∪ batch on (seq, op), the final state is independent of how
    the changelog was sliced into micro-batches — the batch-
    equivalence property the stream_cdc driver query pins against the
    batch operator's oracle.
    """
    return write_stream_upsert(
        stream_df,
        path,
        key_cols,
        ts_col=seq_col,
        checkpoint=checkpoint,
        n_buckets=n_buckets,
        tiebreak_col=op_col,
        trigger_available_now=trigger_available_now,
    )


def read_cdc_state(
    spark,
    path: str,
    op_col: str = "op",
    delete_op: str = "D",
    meta_cols: tuple = ("__bucket",),
) -> DataFrame:
    """Live view over a :func:`cdc_stream` state table: tombstones
    filtered, bucket/meta columns dropped.  Keep ``op_col``/``seq_col``
    available to callers who audit the feed; drop them at the caller's
    select."""
    df = spark.read.parquet(path)
    return df.where(F.col(op_col) != delete_op).drop(*[c for c in meta_cols if c in df.columns])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append", checkpoint: str | None = None):
    """Drain a stream into an in-memory table with availableNow (test
    harness; production sinks are parquet/kafka via writeStream)."""
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def anomaly_stream(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    k: int = 3,
    scale: int = 100,
    tiebreak_col: str | None = None,
    key_type: str = "long",
    order_type: str = "long",
) -> DataFrame:
    """Streaming anomaly gate: flag a value whose deviation from the
    running per-key mean exceeds ``k`` running standard deviations —
    judged strictly against the PRIOR observations (an arriving row
    never judges itself), so the flag is causally valid for alerting.

    All state arithmetic is EXACT integers: values are quantized to
    ``round(value * scale)`` (half-up via floor(x+0.5) — identical in
    IEEE doubles on every engine) and the per-key state is the triple
    (n, Σv, Σv²) kept as arbitrary-precision ints (stringified for the
    state store — Σv² overflows int64 near ~1e5 rows of 5-digit
    values).  The flag is the cross-multiplied comparison
    ``(v·n − Σv)² > k²·(n·Σv² − (Σv)²)`` — mean/variance never
    materialize as floats, so 32 threads, 1000 executors, and the
    DuckDB oracle agree bit-for-bit.  Rows with n_prior < 2 are never
    flagged (one prior point has zero variance; everything would
    flag).

    Micro-batch rows order by (order, tiebreak) like
    :func:`locf_stream`; draining the bounded log in ONE availableNow
    batch reproduces the batch windowed form (cumulative sums over
    ROWS UNBOUNDED PRECEDING .. 1 PRECEDING) — the equivalence oracle.

    NULL values are never judged and never enter the running stats,
    with SQL three-valued semantics so the batch form
    (:func:`backend_spark.features.rolling_anomaly`) stays bit-equal:
    flag = FALSE while n_prior < 2 (the AND short-circuits), NULL
    afterwards; n_prior counts non-null priors only.
    The per-row Python loop is the stateful boundary (same contract as
    the other applyInPandasWithState kernels): O(batch) per key with
    O(1) carried state.

    Output: (key, order[, tiebreak], value, n_prior, is_anomaly).
    """
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    if k < 1 or scale < 1:
        raise ValueError(f"anomaly_stream: k and scale must be >= 1, got k={k} scale={scale}")
    sort_cols = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    out_schema = ", ".join(
        [f"{key_col} {key_type}", f"{order_col} {order_type}"]
        + ([f"{tiebreak_col} {order_type}"] if tiebreak_col else [])
        + [f"{value_col} double", "n_prior long", "is_anomaly boolean"]
    )
    k2 = k * k

    def _gate(key, pdfs, state):
        import pandas as pd

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(sort_cols)
        if state.exists:
            n, sx, sx2 = (int(x) for x in state.get)
        else:
            n, sx, sx2 = 0, 0, 0
        flags, priors = [], []
        for raw in pdf[value_col]:
            if raw is None or (isinstance(raw, float) and raw != raw):
                # never judged (NULL unless the n<2 AND short-circuits
                # to FALSE), never enters the stats
                flags.append(False if n < 2 else None)
                priors.append(n)
                continue
            v = int(math.floor(raw * scale + 0.5))
            flags.append(bool(n >= 2 and (v * n - sx) ** 2 > k2 * (n * sx2 - sx * sx)))
            priors.append(n)
            n, sx, sx2 = n + 1, sx + v, sx2 + v * v
        state.update((str(n), str(sx), str(sx2)))
        yield pdf.assign(n_prior=priors, is_anomaly=flags)[
            [key_col, *sort_cols, value_col, "n_prior", "is_anomaly"]
        ]

    return df.groupBy(key_col).applyInPandasWithState(
        _gate,
        outputStructType=out_schema,
        stateStructType="n string, sx string, sx2 string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_stream(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    target: float,
    k: float = 0.0,
    h: float = 5.0,
    scale: int = 1_000_000,
    tiebreak_col: str | None = None,
    key_type: str = "long",
    order_type: str = "long",
) -> DataFrame:
    """Streaming twin of :func:`backend_spark.features.cusum` — the
    two-sided CUSUM drift detector over a live stream, carrying the
    pair (S_hi, S_lo) per key across micro-batches so a slow level
    shift alarms even when every individual batch looks normal.

    Exact-integer contract, bit-equal to the batch form: deviations
    quantize to ``round(d · scale)`` with Spark's HALF-UP semantics
    (``sign(x) · floor(|x| + 0.5)`` — NOT Python's banker's round,
    which disagrees on negative .5 boundaries), and the recursion
    ``S ← max(0, S + q)`` runs in arbitrary-precision ints stringified
    into the state store.  Draining a bounded log in ONE availableNow
    batch reproduces the batch closed form (cum − running-min) row for
    row — the equivalence oracle, same pattern as
    :func:`anomaly_stream`.

    NULL values do not move the state and report the CARRIED statistic
    (the drift level still stands while a measurement is missing) —
    exactly what the batch window form yields, since ``sum() OVER``
    skips NULL deviations.  Output: (key, order[, tiebreak], value,
    cusum_hi, cusum_lo, cusum_alarm).
    """
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout

    if scale < 1:
        raise ValueError(f"cusum_stream: scale must be >= 1, got {scale}")
    if k < 0 or h <= 0:
        raise ValueError(f"cusum_stream: need k >= 0 and h > 0, got k={k} h={h}")
    sort_cols = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    out_schema = ", ".join(
        [f"{key_col} {key_type}", f"{order_col} {order_type}"]
        + ([f"{tiebreak_col} {order_type}"] if tiebreak_col else [])
        + [f"{value_col} double", "cusum_hi double", "cusum_lo double", "cusum_alarm int"]
    )
    tgt, slack = float(target), float(k)
    h_scaled = int(round(float(h) * scale))

    def _half_up(x: float) -> int:
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    def _drift(key, pdfs, state):
        import pandas as pd

        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(sort_cols)
        if state.exists:
            s_hi, s_lo = (int(x) for x in state.get)
        else:
            s_hi, s_lo = 0, 0
        his, los, alarms = [], [], []
        for raw in pdf[value_col]:
            if raw is None or (isinstance(raw, float) and raw != raw):
                his.append(round(s_hi / scale, fn.NDIGITS))
                los.append(round(s_lo / scale, fn.NDIGITS))
                alarms.append(int(s_hi > h_scaled or s_lo > h_scaled))
                continue
            s_hi = max(0, s_hi + _half_up((raw - tgt - slack) * scale))
            s_lo = max(0, s_lo + _half_up((tgt - raw - slack) * scale))
            his.append(round(s_hi / scale, fn.NDIGITS))
            los.append(round(s_lo / scale, fn.NDIGITS))
            alarms.append(int(s_hi > h_scaled or s_lo > h_scaled))
        state.update((str(s_hi), str(s_lo)))
        yield pdf.assign(cusum_hi=his, cusum_lo=los, cusum_alarm=alarms)[
            [key_col, *sort_cols, value_col, "cusum_hi", "cusum_lo", "cusum_alarm"]
        ]

    return df.groupBy(key_col).applyInPandasWithState(
        _drift,
        outputStructType=out_schema,
        stateStructType="s_hi string, s_lo string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
