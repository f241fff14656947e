"""Scale utilities: skew handling and shuffle-free co-located joins.

AQE's skew-join splitting (enabled by the session factory) covers sort-
merge joins at runtime; these helpers cover the places AQE can't:
aggregations over power-law keys, broadcast-ineligible joins where one
hot key floods a task, and repeated big-big joins on a stable key where
bucketed storage removes the shuffle entirely.
"""

from __future__ import annotations

import functools
import logging
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_LOG = logging.getLogger(__name__)

_AGG = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}

STAGE_MODE_CONF = "spark.backend_spark.stage.mode"
STAGE_DIR_CONF = "spark.backend_spark.stage.dir"
_STAGE_MODES = ("local", "reliable", "persist")


def stage(df: DataFrame, eager: bool = False, pin: bool = False) -> DataFrame:
    """Cut lineage / pin an intermediate result, with the storage
    strategy selected at runtime by the session conf
    ``spark.backend_spark.stage.mode`` — the single funnel for every
    lineage cut in the engine (use ``df.transform(stage, eager=...)``
    in operator code; raw ``DataFrame.localCheckpoint`` is reserved to
    this helper).

    ``pin=True`` marks a CORRECTNESS pin: the cut freezes a
    nondeterministic upstream (sampled ``repartitionByRange``
    boundaries) that two downstream reads must see identically
    (``assign_row_ids``, ``auc_score``, ``ks_test``,
    ``compaction_plan``).  ``persist`` mode keeps lineage, so a lost
    block would be *recomputed* — silently re-rolling the boundaries
    and corrupting the result.  A pinned cut therefore refuses plain
    ``persist``: it upgrades to ``reliable`` when a checkpoint
    directory is configured, else to ``local`` (logged either way).

    Modes (see SCALING.md "Lineage cuts and fault tolerance"):

    * ``local`` (default) — ``localCheckpoint``: blocks live in
      executor storage.  Fastest (no DFS round-trip), and the pinned
      blocks are never recomputed, so nondeterministic upstreams
      (sampled range boundaries, ``F.rand``) stay frozen.  NOT
      fault-tolerant: checkpointed partitions are non-replayable, so
      one lost executor aborts the query.  Right for ``local[*]`` and
      on-demand fleets; wrong for spot instances at 100 TB.
    * ``reliable`` — ``DataFrame.checkpoint()`` to the cluster
      checkpoint directory (``sc.setCheckpointDir`` or the
      ``spark.backend_spark.stage.dir`` conf, e.g. an HDFS/S3 path).
      Survives any executor loss and still freezes nondeterminism;
      costs one DFS write+read per cut.  The right mode for long jobs
      on preemptible fleets.
    * ``persist`` — ``persist(DISK_ONLY)`` + LOGICAL-PLAN TRUNCATION:
      the persisted frame is re-wrapped as a ``LogicalRDD`` over its
      own physical RDD (the same re-rooting ``Dataset.checkpoint``
      performs, minus the RDD checkpoint), so iterative loops keep a
      bounded analyzed plan — without the truncation, pagerank's
      power iteration grew its plan until Catalyst hung (measured,
      round 13) — while RDD-level lineage survives: lost blocks are
      recomputed instead of failing the job.  Remaining caveat:
      recomputation re-rolls nondeterministic expressions — which is
      why correctness pins (``pin=True``) refuse this mode and
      upgrade themselves.  Executor-disk growth across loop
      iterations is bounded by :class:`LoopCuts` (every iterative
      loop in the engine cuts through one); one-shot cuts live until
      session end or ``clearCache``.

    ``eager`` forces materialization now (``local``/``reliable``
    honor it natively; ``persist`` is always lazy — the first action
    materializes, which every loop here performs via its convergence
    read).
    """
    spark = df.sparkSession
    mode = spark.conf.get(STAGE_MODE_CONF, "local")
    if mode == "persist" and pin:
        sc = spark.sparkContext
        has_ckdir = sc.getCheckpointDir() is not None or bool(
            spark.conf.get(STAGE_DIR_CONF, None)
        )
        upgraded = "reliable" if has_ckdir else "local"
        _LOG.warning(
            "%s=persist is unsafe for a correctness pin (recomputation "
            "re-rolls sampled range boundaries); upgrading this cut to "
            "%r",
            STAGE_MODE_CONF,
            upgraded,
        )
        mode = upgraded
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = spark.conf.get(STAGE_DIR_CONF, None)
            if not ckdir:
                raise ValueError(
                    f"{STAGE_MODE_CONF}=reliable requires a checkpoint "
                    f"directory: call sc.setCheckpointDir(...) or set "
                    f"{STAGE_DIR_CONF} to a cluster-visible path"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    if mode == "persist":
        cached = df.persist(StorageLevel.DISK_ONLY)
        # re-root the plan on the persisted frame's physical RDD:
        # bounded plans for loops, recomputable lineage for block loss.
        # Preferred path (round-15): the same LogicalRDD.fromDataset
        # re-root Dataset.checkpoint uses.  Investigating the round-13
        # advisor's "persist-mode re-root loses outputPartitioning"
        # caveat showed the REAL cost was lost STATS, not partitioning:
        # under AQE every checkpoint variant's plan root reports
        # UnknownPartitioning (AdaptiveSparkPlanExec cannot promise a
        # layout statically — measured, local mode included), but
        # internalCreateDataFrame also drops sizeInBytes to
        # Long.MaxValue, so every downstream join against ANY staged
        # cut was forced to sort-merge (both sides shuffled) no matter
        # how small the cut — in a loop that joins a shrinking staged
        # frontier to a big table, that is a full-data shuffle per
        # iteration.  fromDataset carries the origin stats (measured:
        # 4.68 MB vs Long.Max on sf0.01 lineitem; keyed agg+self-join
        # on a cut, 2 exchanges -> 1, now at parity with local mode —
        # tools/persist_partitioning_probe.py, SCALING.md).
        # fromDataset/ofRows are private[sql] (public in bytecode);
        # fall back to internalCreateDataFrame (no stats, still
        # correct) if the JVM surface moves.
        # Caveat (round-13 advisor, unchanged by this): stage() must be
        # called on a freshly built frame — if the Dataset's
        # executedPlan was already forced (an explain/action on the
        # SAME object), the lazy withCachedData substitution never sees
        # the new cache entry and the re-rooted RDD bypasses the
        # DISK_ONLY cache, recomputing full lineage per action.  Every
        # in-engine call site builds the frame immediately before the
        # cut (df.transform(stage) idiom).
        jdf = cached._jdf
        jrdd = jdf.queryExecution().toRdd()
        try:
            jvm = spark._jvm
            lrdd_mod = getattr(
                jvm.org.apache.spark.sql.execution, "LogicalRDD$"
            ).__getattr__("MODULE$")
            ds_mod = getattr(
                jvm.org.apache.spark.sql.classic, "Dataset$"
            ).__getattr__("MODULE$")
            jnew = ds_mod.ofRows(
                spark._jsparkSession, lrdd_mod.fromDataset(jrdd, jdf, False)
            )
        except Exception:  # pragma: no cover - depends on Spark internals
            _LOG.warning(
                "LogicalRDD.fromDataset re-root unavailable; falling back "
                "to internalCreateDataFrame (staged frame loses its STATS "
                "— sizeInBytes reads as Long.Max, so downstream joins "
                "against the cut lose broadcast eligibility and plan as "
                "sort-merge; results stay correct)",
                exc_info=True,
            )
            jnew = spark._jsparkSession.internalCreateDataFrame(
                jrdd, jdf.schema(), False
            )
        out = DataFrame(jnew, cached.sparkSession)
        # handle for LoopCuts: the persisted frame this cut reads through
        out._sg_persist_handle = cached
        return out
    raise ValueError(
        f"unknown {STAGE_MODE_CONF} {mode!r}; expected one of {_STAGE_MODES}"
    )


class LoopCuts:
    """Bounds persist-mode executor-disk growth in iterative loops
    (round-14; closes the "loop cuts are never unpersisted" caveat
    above): a per-loop tracker whose :meth:`cut` stages a frame and, in
    persist mode, unpersists the cut ``keep`` iterations back —
    non-blocking, after the newer cut exists, so the loop's convergence
    read and any downstream consumer always see the latest ``keep``
    iterations cached.  Unpersisting an older cut is safe by
    construction in this mode: persist keeps RDD lineage, so a late
    reader of a superseded frame recomputes instead of failing (the
    same recompute contract persist mode already accepts for lost
    blocks).  In ``local``/``reliable`` modes this is a pass-through —
    those cuts have no cache entry to bound.

    Usage (one tracker per loop, NOT shared across loops — two
    interleaved loops would evict each other's working set)::

        cuts = LoopCuts()
        for _ in range(max_iter):
            frame = cuts.cut(frame, eager=True)
            ...
    """

    def __init__(self, keep: int = 2):
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")
        self.keep = keep
        self._handles: list[DataFrame] = []

    def cut(self, df: DataFrame, eager: bool = False, pin: bool = False) -> DataFrame:
        out = stage(df, eager=eager, pin=pin)
        handle = getattr(out, "_sg_persist_handle", None)
        if handle is not None:
            # harvest-and-clear: the tracker takes sole ownership of the
            # handle.  (stage() mints a fresh frame + fresh handle per
            # call, so two cut() calls can never see the same handle —
            # the round-14 advice's double-enqueue race cannot occur on
            # this path; the delete's actual effect is that a frame
            # returned by cut() no longer exposes a handle some later
            # code could unpersist out from under the tracker's
            # bookkeeping.  Direct stage() callers keep the attribute
            # for introspection.)
            del out._sg_persist_handle
            self._handles.append(handle)
            while len(self._handles) > self.keep:
                evicted = self._handles.pop(0)
                _LOG.debug("LoopCuts: unpersisting cut %s", evicted)
                evicted.unpersist(blocking=False)
        return out


def spread_scan(df: DataFrame, by: "str | None" = None) -> DataFrame:
    """Raise the parallelism of a compute-heavy pipeline whose INPUT
    LAYOUT under-splits (guide: input skew / small-file layout, §2.5,
    §6).  Parquet can only split at row-group boundaries, so a table
    written as one fat row group is read by ONE task no matter how many
    cores the cluster has — and every per-row expression downstream of
    that scan (md5 shingle chains, regex scans, decimal moment sums)
    runs serially.

    When :func:`undersplit` says so, this round-robins (or
    hash-partitions, when ``by`` is given) the frame to
    ``defaultParallelism`` partitions; otherwise it returns ``df``
    itself, so on a well-laid-out 100 TB input (thousands of splits) it
    is a provable no-op and callers can tell by identity whether it
    fired.  The repartition ships each row once; callers should project
    to the needed columns first so the exchange carries only what the
    downstream compute reads.  Same SCAN-or-STAGED caveat as
    :func:`undersplit`.

    Content-neutral: repartitioning never changes row multiset, and
    every result in this engine is partition-order-independent by the
    hash-exactness design (integer/decimal folds, keyed windows).  Do
    NOT insert it upstream of ``spark_partition_id``-dependent logic
    (``assign_row_ids``/global ``ks_test`` manage their own layout).
    """
    if not undersplit(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, F.col(by)) if by else df.repartition(target)


def undersplit(df: DataFrame) -> bool:
    """True when ``df``'s physical partitioning sits below
    ``defaultParallelism`` — the one partition probe behind
    :func:`spread_scan`, exposed for operators that must pin DOWNSTREAM
    shuffle parallelism (not just the scan's).  AQE coalesces
    post-shuffle partitions by BYTE size, which starves compute-dense
    stages whose cost per byte is high (prefix joins, array-intersect
    verifies) whenever the whole pipeline's data is physically tiny; on
    a well-split 100 TB layout this returns False and callers leave AQE
    fully in charge.

    Call it on SCAN or STAGED (checkpointed) frames only: the probe
    materializes the physical plan, and under AQE a frame with a pending
    Exchange would execute its upstream stages right there.
    """
    spark = df.sparkSession
    try:
        return df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - planning failure => assume well-split
        return False


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregate for skewed group keys: phase 1 aggregates on
    (key, random salt) — spreading a hot key over ``salt`` reducers —
    phase 2 merges the partials on the key alone.  Supports the
    decomposable aggregates (sum/count/min/max); mean = sum/count by
    the caller.  For uniform keys the plain ``op_groupby`` map-side
    combine is already optimal — use this only when one key dominates.
    """
    for fname in aggs.values():
        if fname not in ("sum", "count", "min", "max"):
            raise ValueError(f"{fname} is not decomposable for salting")
    salted = df.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[
            (F.count(F.lit(1)) if fname == "count" else _AGG[fname](col)).alias(f"{col}_{fname}")
            for col, fname in aggs.items()
        ]
    )
    phase2 = phase1.groupBy(*keys).agg(
        *[
            _AGG[fname](f"{col}_{fname}").alias(f"{col}_{fname}")
            for col, fname in aggs.items()
        ]
    )
    return phase2


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skewed equi-join without broadcast: salt the big side's key with
    a random suffix, replicate the small side ``salt`` times (one row
    per salt value), join on (key, salt).  The hot key's rows spread
    over ``salt`` tasks instead of one.  Prefer ``F.broadcast`` when
    the small side fits in memory — this is for the middle ground.

    Only ``inner`` and ``left`` are supported: the small side is
    replicated once per salt value, so right/full-outer would emit each
    unmatched small-side row ``salt`` times (null-padded duplicates)."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}); "
            "the replicated small side would duplicate unmatched rows"
        )
    big_s = big.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
    small_s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = big_s.join(small_s, [on, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join
    key.  Two tables bucketed on the same key with the same bucket
    count join with **zero shuffle** — at 100 TB the shuffle IS the
    join cost, so any dimension joined repeatedly (referentials,
    entity tables) should live bucketed.  ``n_buckets`` should be
    sized so one bucket ≈ one task's worth of data (128-512 MB)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(spark, left_table: str, right_table: str, on: list[str], how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables.  With matching bucket specs the
    plan contains no Exchange on either side (assert with
    ``.explain()``; tests pin this)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def sort_cluster(
    df: DataFrame,
    cluster_cols: list[str] | str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Range-cluster a frame for write layout: rows are range-
    partitioned on ``cluster_cols`` (Spark's distributed sort — sampled
    boundaries, no single-partition funnel) and sorted within each
    partition.  Written as parquet, every file then covers a tight
    min/max range of the cluster key, so readers' range predicates
    prune whole files from the scan (parquet row-group statistics) —
    the poor man's Z-order, and the right layout for time-series or
    id-range access patterns at 100 TB.

    Layout only: the row set is unchanged.  Use before
    ``df.write.parquet`` the same way ``write_bucketed`` is used before
    repeated equi-joins.
    """
    cols = [cluster_cols] if isinstance(cluster_cols, str) else list(cluster_cols)
    parts = (
        df.repartitionByRange(n_partitions, *cols)
        if n_partitions
        else df.repartitionByRange(*cols)
    )
    return parts.sortWithinPartitions(*cols)


def zorder_key(cols: list, bits: int = 16):
    """Morton (Z-order) interleave of 2+ non-negative integer columns
    into one bigint: bit j of each input lands at position
    ``j * n_cols + i``.  ``bits`` per column (default 16 → 2 cols fill
    32 bits); callers quantize floats/timestamps to integer rank first.
    Pure Column bit-arithmetic — codegen'd, no UDF."""
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError("zorder_key interleaves 2-4 columns")
    if bits * n > 63:
        raise ValueError(f"{bits} bits x {n} cols overflows a signed bigint")
    out = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        col = F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
        for j in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(col, j).bitwiseAND(F.lit(1).cast("long")), j * n + i)
            )
    return out


def zorder_cluster(
    df: DataFrame,
    cluster_cols: list[str],
    n_partitions: int | None = None,
    bits: int = 16,
) -> DataFrame:
    """Multi-dimensional write clustering: range-partition + sort on the
    Morton interleave of ``cluster_cols`` (see :func:`zorder_key`), so
    parquet files cover small *hyper-rectangles* of the key space and
    row-group min/max statistics prune scans filtered on ANY of the
    clustered columns — :func:`sort_cluster` only prunes on its leading
    column.  The same layout trick Delta's OPTIMIZE ZORDER BY applies.

    Columns must already be non-negative integers (quantize floats /
    epoch-truncate timestamps first); values are masked to ``bits``
    bits, so spread a skewed domain before clustering if it exceeds
    2^bits.  Layout only — the row set is unchanged, the z key is not
    kept.
    """
    z = zorder_key(cluster_cols, bits=bits).alias("__z")
    tmp = df.withColumn("__z", z)
    parts = (
        tmp.repartitionByRange(n_partitions, "__z")
        if n_partitions
        else tmp.repartitionByRange("__z")
    )
    return parts.sortWithinPartitions("__z").drop("__z")


def assign_row_ids(
    df: DataFrame,
    order_cols: list[str] | str,
    out_col: str = "row_id",
) -> DataFrame:
    """Global dense 1-based row numbers in ``order_cols`` order WITHOUT
    the single-partition sort a bare
    ``row_number().over(Window.orderBy(...))`` forces (Spark warns and
    funnels the whole dataset through one task — the canonical
    scale-killer for global ordering).

    Strategy: range-repartition on the order key (Spark's distributed
    sort), number rows partition-locally, then shift each partition by
    the cumulative count of the partitions before it.  The offset table
    is one row per partition — its window is trivially small — and is
    broadcast back.  The partition-local stage is materialized once
    (``localCheckpoint``) so the offset computation and the final join
    see the identical range exchange (re-execution could re-sample
    boundaries).

    ``order_cols`` must be a total order (include a unique tie-break
    column): ranges may split equal keys across partition boundaries,
    which would otherwise make ids nondeterministic.
    """
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    from pyspark.sql import Window

    base = (
        df.repartitionByRange(*cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in cols])
    local = base.withColumn(
        "__local", F.row_number().over(w_local).cast("long")
    ).transform(stage, eager=False, pin=True)
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long")
    )
    return (
        local.join(F.broadcast(offs.select("__pid", "__off")), "__pid")
        .withColumn(out_col, F.col("__off") + F.col("__local"))
        .drop("__pid", "__local", "__off")
    )


def skew_report(
    df: DataFrame,
    keys: list[str] | str,
    top_k: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Pre-flight skew diagnostic for a planned groupBy/join key: the
    ``top_k`` heaviest key values with their row counts, corpus share,
    and skew ratio (count / mean group size), annotated with the global
    group-size distribution (n_keys, mean, p50, p99, max).  This is
    the measurement that decides between a plain shuffle,
    :func:`salted_agg`/:func:`salted_join`, or a broadcast — AQE fixes
    sort-merge skew at runtime, but aggregation skew and executor-OOM
    sizing have to be seen *before* launching the 100 TB job.

    Cost: one keyed count aggregate (map-side combined), then all
    statistics over the |keys|-row count table — a global single-state
    aggregate plus a top-k TakeOrdered, never a full sort of the data.
    Ties on count break by key text ascending (deterministic).
    Key values render as a single string column so heterogeneous /
    multi-column keys keep one stable schema.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    counts = df.groupBy(*key_list).agg(F.count(F.lit(1)).alias("cnt")).select(
        F.concat_ws("|", *[F.col(c).cast("string") for c in key_list]).alias("key"),
        "cnt",
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_sz"),
        F.percentile(F.col("cnt").cast("double"), F.lit(0.5)).alias("p50_sz"),
        F.percentile(F.col("cnt").cast("double"), F.lit(0.99)).alias("p99_sz"),
    )
    from pyspark.sql import Window

    # distributed top-k (TakeOrderedAndProject), then rank the k survivors —
    # a global row_number window would funnel ALL keys through one task
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "rank",
        "key",
        "cnt",
        F.round(F.col("cnt") / F.col("n_rows"), ndigits).alias("share"),
        F.round(F.col("cnt") * F.col("n_keys") / F.col("n_rows"), ndigits).alias("skew"),
        "n_keys",
        F.round(F.col("n_rows").cast("double") / F.col("n_keys"), ndigits).alias("mean_sz"),
        "p50_sz",
        "p99_sz",
        "max_sz",
    )


def hll_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
    ndigits: int = 2,
) -> DataFrame:
    """Mergeable HyperLogLog distinct-count estimate built from scratch
    on deterministic md5 hashing (Flajolet et al. 2007) — the sketch
    behind every 100 TB "distinct users per key" dashboard.  Spark's
    own ``approx_count_distinct`` is the production default; this
    exists for the two things HLL++ can't give you: (a) bit-for-bit
    cross-engine reproducibility (every register derives from
    ``md5_long``, so the *estimate itself* carries a full SQL oracle —
    the same gap that keeps ``closeness_approx`` rows-only), and (b)
    an inspectable register table you can persist and max-merge across
    corpus snapshots (sketch union = per-register max, which is also
    why the aggregate is order-independent and partial-combinable).

    Layout: m = 2^p registers; the 60-bit hash splits into bucket
    ``h mod m`` and remainder ``h div m`` (integer div — doubles lose
    bits above 2^53); rank = leading-zero count + 1 via
    ``length(bin(rem))``, integer-exact on any engine.  The harmonic
    sum folds in fixed bucket order; LinearCounting below 2.5 m.
    Standard error ≈ 1.04/√m (~6.5 % at p=8; raise p for less).

    One keyed aggregate reducing each group to ≤ m register rows, then
    a per-group fold — the data shuffles once, pre-combined map-side.
    Returns group_cols + (n_registers, distinct_est).
    """
    if not (4 <= p <= 16):
        raise ValueError(f"p must be in [4, 16], got {p}")
    keys = list(group_cols or [])
    m = 1 << p
    w = 60 - p  # md5_long yields 60 bits (15 hex chars)
    alpha_mm = (0.7213 / (1.0 + 1.079 / m)) * m * m
    from backend_spark import functions as fn

    staged = df.select(
        *keys, fn.md5_long(F.col(value_col).cast("string")).alias("__h")
    )
    rem = F.expr(f"__h div {m}")
    rank = F.when(rem == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rem))
    )
    regs = (
        staged.select(*keys, F.pmod(F.col("__h"), F.lit(m)).alias("__b"), rank.alias("__r"))
        .groupBy(*keys, "__b")
        .agg(F.max("__r").alias("__m"))
    )
    folded = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__b").alias("k"),
                        F.expr("1.0 / shiftleft(CAST(1 AS BIGINT), __m)").alias("v"),
                    )
                )
            ),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("__s"),
    )
    s_total = (F.lit(m) - F.col("n_registers")).cast("double") + F.col("__s")
    e_raw = F.lit(alpha_mm) / s_total
    v_empty = F.lit(m) - F.col("n_registers")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v_empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty),
    ).otherwise(e_raw)
    return folded.select(
        *keys, "n_registers", F.round(est, ndigits).alias("distinct_est")
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str] | str,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a CDC changelog (insert/update/delete rows) to a base
    snapshot — the MERGE INTO of every lakehouse ingestion pipeline
    (reference's closest analogue is the upsert path of the
    elasticsearch sink, code/recipes.py:1478-1520; this is the batch
    table-maintenance generalization).

    ``changes`` carries the base schema plus ``op_col`` ('I'/'U'/'D')
    and ``seq_col`` (a monotone version — commit LSN, ingest timestamp
    tick).  Per key only the LATEST change wins (max ``seq``, tie-break
    op descending 'U' > 'I' > 'D' — give changes unique seqs per key to
    never rely on it): 'D' removes the row, 'I'/'U' replace it with the
    change's payload; untouched base keys pass through unchanged.  Any
    op value other than 'D' is treated as an upsert (documented loose
    mode — validate upstream when the feed may be malformed).

    Scale shape — the property that matters at 100 TB is that the BASE
    NEVER SORTS: the per-key latest-change window runs over the
    changelog only (a day's changes are orders of magnitude smaller
    than the snapshot), and the base participates in exactly one keyed
    LEFT ANTI join against the touched-key set (AQE broadcasts it when
    the change batch is small).  Output = anti-join survivors UNION the
    latest upserts — one shuffle of the changelog, one join of the
    base, zero windows over the base.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    payload = list(base.columns)
    missing = [c for c in [*payload, op_col, seq_col] if c not in changes.columns]
    if missing:
        raise ValueError(f"cdc_apply: changes missing column(s): {missing}")
    for c in (op_col, seq_col):
        if c in payload:
            raise ValueError(f"cdc_apply: {c!r} collides with a base column")
    reserved = {f"__cdc_k{i}" for i in range(len(key_list))} & set(payload)
    if reserved:
        raise ValueError(
            f"cdc_apply: column(s) {sorted(reserved)} collide with reserved "
            "internal names"
        )
    # quote key references (`` = literal backtick) so arbitrary column
    # names — including ones containing backticks — parse correctly
    def _qcol(name: str, prefix: str = ""):
        return F.col(prefix + "`" + name.replace("`", "``") + "`")

    # latest change per key as ONE max_by aggregate (round-15): struct
    # ordering is field-by-field, so max over struct(seq, op) IS the
    # (seq desc, op desc) pick the old row_number window made — but the
    # aggregate combines map-side (each task keeps one candidate per
    # key before the exchange) and needs no partition sort (guide
    # §2.3/§2.4).  Same caveat as before: ties on (seq, op) are
    # arbitrary — give changes unique seqs per key.
    change_cols = list(changes.columns)
    latest = (
        changes.groupBy(*[_qcol(k) for k in key_list])
        .agg(
            F.max_by(
                F.struct(*[_qcol(c).alias(c) for c in change_cols]),
                F.struct(F.col(seq_col).alias("s"), F.col(op_col).alias("o")),
            ).alias("__cdc_r")
        )
        .select("__cdc_r.*")
    )
    # null-safe anti-join: the latest-change window above groups NULL
    # keys together (partitionBy treats NULL as a value), so the anti
    # must match them too — plain list-of-names equality is
    # NULL-unequal and would keep a NULL-keyed base row AND emit the
    # NULL-keyed upsert (the scd2_lookup duplicate shape).  <=> is an
    # equi-join predicate to Spark, so the hash-join plan is unchanged.
    touched = latest.select(
        *[_qcol(k).alias(f"__cdc_k{i}") for i, k in enumerate(key_list)]
    )
    # Alias both sides and resolve the condition through the aliases:
    # `changes` may share lineage with `base` (a changelog derived from
    # the snapshot), and bare base[k]/touched[...] attribute references
    # can then trip AMBIGUOUS_SELF_JOIN or mis-resolve; alias-qualified
    # names are self-join-safe while keeping the null-safe predicate.
    b = base.alias("__cdc_base")
    t = touched.alias("__cdc_touched")
    cond = functools.reduce(
        operator.and_,
        [
            _qcol(k, prefix="__cdc_base.").eqNullSafe(
                F.col(f"__cdc_touched.__cdc_k{i}")
            )
            for i, k in enumerate(key_list)
        ],
    )
    kept = b.join(t, cond, "left_anti")
    upserts = latest.where(F.col(op_col) != "D").select(
        *[_qcol(c).alias(c) for c in payload]
    )
    return kept.unionByName(upserts)


def rollup_partials(
    df: DataFrame,
    keys: list[str] | str,
    value_cols: list[str] | str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Mergeable partial-aggregate state for incremental rollup
    maintenance: per key, ``n_rows`` plus each value column's
    (non-null count, fixed-point sum, min, max).  Compute this per
    ingest batch (a day, an hour), persist it, and fold batches with
    :func:`rollup_merge` — the 100 TB rollup then updates by touching
    only aggregate rows, never re-scanning history (the same
    partial-state shape Spark's own map-side combine uses, lifted to a
    persistable table).

    Sums are fixed-point ``decimal(38,0)`` of ``round(value * scale)``
    — associative AND bit-exact under any merge order / engine (double
    sums are neither), the convention every deterministic-learner op in
    this repo uses.  One map-side-combinable groupBy; output is
    |keys| rows per batch.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    if scale < 1:
        raise ValueError(f"rollup_partials: scale must be >= 1, got {scale}")
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        v = F.floor(F.col(c) * scale + F.lit(0.5)).cast(dec)
        aggs += [
            F.count(F.col(c)).alias(f"{c}_n"),
            F.coalesce(F.sum(v), F.lit(0).cast(dec)).alias(f"{c}_sum"),
            F.min(F.col(c)).alias(f"{c}_min"),
            F.max(F.col(c)).alias(f"{c}_max"),
        ]
    return df.groupBy(*key_list).agg(*aggs)


def rollup_merge(
    partials: DataFrame,
    keys: list[str] | str,
    value_cols: list[str] | str,
    scale: int = 1_000_000,
    ndigits: int = 6,
) -> DataFrame:
    """Fold a union of :func:`rollup_partials` batches into the final
    rollup: counts and fixed-point sums add, mins/maxes extremize —
    every statistic is associative-commutative, so ANY merge tree gives
    the identical result (the invariant the tests pin by comparing a
    two-batch merge against the direct single-pass aggregate).  Emits
    per key: ``n_rows`` and each column's (n, sum, min, max, avg), sums
    and avgs descaled to doubles rounded ``ndigits``.

    Merging touches |keys| × n_batches aggregate rows only — the raw
    data is never re-read; this is incremental view maintenance, the
    difference between a nightly 100 TB re-aggregation and a
    seconds-long fold of per-batch state tables.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(f"{c}_n").cast("long").alias(f"{c}_n"),
            F.sum(f"{c}_sum").alias(f"__sum_{c}"),
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
        ]
    merged = partials.groupBy(*key_list).agg(*aggs)
    out_cols = [*key_list, "n_rows"]
    for c in cols:
        s = F.col(f"__sum_{c}").cast("double") / F.lit(float(scale))
        out_cols += [
            F.col(f"{c}_n"),
            F.round(s, ndigits).alias(f"{c}_sum"),
            F.col(f"{c}_min"),
            F.col(f"{c}_max"),
            F.round(
                F.when(F.col(f"{c}_n") > 0, s / F.col(f"{c}_n")), ndigits
            ).alias(f"{c}_avg"),
        ]
    return merged.select(*out_cols)


def shard_stats(
    df: DataFrame,
    sort_cols: list[str] | str,
    stat_cols: list[str],
    n_shards: int = 16,
) -> DataFrame:
    """Data-skipping statistics for a range-clustered layout — the
    per-shard (min, max, nulls, rows) manifest engines like
    Delta/Iceberg keep per file: rows take their position in
    ``sort_cols`` order (the :func:`assign_row_ids` distributed sort —
    never a single-partition window), split into ``n_shards`` equal
    contiguous ranges, and every listed column reports its per-shard
    envelope.  Read it two ways: as the manifest to ship beside a
    clustered export, and as a WOULD-IT-PRUNE dry run — a column whose
    min/max bands are narrow per shard is skippable under this layout,
    one that spans the domain in every shard is not (compare
    ``zorder_key`` layouts by exactly this report).

    min/max compute on the native type (lexicographic-string min of an
    int column would lie) and cast to string only for the uniform
    report schema; engine-canonical for int/string/date columns — the
    :func:`~backend_spark.quality.table_checksum` float caveat applies.

    Scale shape: the assign_row_ids range sort, a 1-row total
    broadcast, ONE map-side-combined aggregate over shard keys, and a
    bounded per-shard explode into (shard, column) rows.
    """
    if n_shards < 1:
        raise ValueError(f"shard_stats: n_shards must be >= 1, got {n_shards}")
    if not stat_cols:
        raise ValueError("shard_stats: stat_cols must be non-empty")
    missing = [c for c in stat_cols if c not in df.columns]
    if missing:
        raise ValueError(f"shard_stats: column(s) not in df: {missing}")
    sorts = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    # prune to the columns the manifest touches BEFORE the range sort —
    # assign_row_ids materializes its input (localCheckpoint), so
    # shipping unread columns through it costs real I/O (3.6 M-row
    # stress: 28.7 s full-width vs 8.9 s pruned)
    needed = list(dict.fromkeys([*sorts, *stat_cols]))
    ranked = assign_row_ids(df.select(*needed), sorts, out_col="__rid")
    total = ranked.agg(F.count(F.lit(1)).alias("__total"))
    sharded = ranked.join(F.broadcast(total)).withColumn(
        "shard",
        F.floor(
            (F.col("__rid") - 1) * F.lit(int(n_shards)) / F.col("__total")
        ).cast("long"),
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}"))
    per_shard = sharded.groupBy("shard").agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__min_{c}").cast("string").alias("min_val"),
                F.col(f"__max_{c}").cast("string").alias("max_val"),
                F.col(f"__nul_{c}").alias("n_nulls"),
            )
            for c in stat_cols
        ]
    )
    return per_shard.select(
        "shard", F.col("__n").alias("n_rows"), F.explode(rows).alias("__s")
    ).select("shard", "__s.column", "__s.min_val", "__s.max_val", "__s.n_nulls", "n_rows")


def compaction_plan(
    df: DataFrame,
    path_col: str,
    size_col: str,
    target_bytes: int,
    max_candidate_bytes: int | None = None,
) -> DataFrame:
    """Small-file compaction planner — the operational answer to the
    lakehouse small-files problem (a 100 TB table that has ingested
    streaming micro-batches for a month has millions of KB-scale
    files; scans pay per-file open cost and lose row-group pruning).
    Takes a file manifest (path, bytes), picks the candidates smaller
    than ``max_candidate_bytes`` (default: ``target_bytes`` — a file
    already at target gains nothing), and assigns each to a rewrite
    group of ≈ ``target_bytes`` by contiguous fill in (size desc,
    path) order: group id = exclusive-prefix-bytes div target.  Every
    group lands within one file's size of the target; big-first order
    keeps the tail groups dense.

    The prefix sum is computed WITHOUT a single-partition global
    window (the assign_row_ids trick generalized from counts to
    sums): range-repartition on the order key — Spark's distributed
    sort — then partition-local running totals, then the one-row-per-
    partition byte offsets broadcast back.  A million-file manifest
    plans in seconds and the plan itself never funnels.

    Returns (path, bytes, bin, bin_seq): feed each bin's paths to one
    rewrite task (``spark.read.parquet(*paths).coalesce(1)``-style or
    the table format's native compactor).
    """
    if target_bytes < 1:
        raise ValueError(f"compaction_plan: target_bytes must be >= 1, got {target_bytes}")
    cap = target_bytes if max_candidate_bytes is None else max_candidate_bytes
    missing = [c for c in (path_col, size_col) if c not in df.columns]
    if missing:
        raise ValueError(f"compaction_plan: column(s) not in df: {missing}")
    from pyspark.sql import Window

    cand = df.select(
        F.col(path_col).alias("path"), F.col(size_col).cast("long").alias("bytes")
    ).where(F.col("bytes") < cap)
    base = cand.repartitionByRange(F.col("bytes").desc(), F.col("path")).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(F.col("bytes").desc(), F.col("path"))
    local = base.withColumn(
        "__run", F.sum("bytes").over(w_local).cast("long")
    ).transform(stage, eager=False, pin=True)
    totals = local.groupBy("__pid").agg(F.sum("bytes").alias("__t"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.withColumn(
        "__off", F.coalesce(F.sum("__t").over(w_off), F.lit(0)).cast("long")
    )
    planned = (
        local.join(F.broadcast(offs.select("__pid", "__off")), "__pid")
        .withColumn("__pre", F.col("__off") + F.col("__run") - F.col("bytes"))
        .withColumn("bin", F.expr(f"__pre div CAST({int(target_bytes)} AS BIGINT)"))
    )
    w_bin = Window.partitionBy("bin").orderBy(F.col("bytes").desc(), F.col("path"))
    return planned.select(
        "path", "bytes", "bin", F.row_number().over(w_bin).alias("bin_seq")
    )


def bloom_filter_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "left_semi",
    m_bits: int = 1 << 18,
    k: int = 4,
) -> DataFrame:
    """Semi-join pushdown through a broadcast Bloom filter — the
    shuffle-volume reducer for "big fact ⋈ selective-but-unbroadcastable
    key set": the small side's join keys build a fixed ``m_bits``-bit
    Bloom bitset (≤ m_bits/32 rows, always broadcastable no matter how
    many keys), the big side pre-filters against it with ``k``
    broadcast hash joins (ZERO shuffles of the big side), and only the
    probable matches proceed to the exact join.  Bloom filters have no
    false negatives, so the final result is EXACT — false positives
    are eliminated by the exact join; their only cost is shuffle
    volume, bounded by the (1 − e^{−kN/m})^k rate.

    This is what Spark's runtime row-level filtering (DPP/Bloom
    pushdown) does when the optimizer chooses to; this operator makes
    the plan explicit, deterministic, and available on any join the
    optimizer declines.  The hash is ``xxhash64(key_str, seed_i)`` —
    bit positions never reach any result (no false negatives means the
    output equals the plain exact join regardless of hash), so the
    cheap JVM-native hash is used instead of the md5 convention
    (round 15: the 4-md5 probe chain alone cost more than the rest of
    the query at sf0.1).

    ``how``: 'left_semi' (big rows with a match) or 'inner' (full
    join result, small's columns retained).
    """
    if how not in ("left_semi", "inner"):
        raise ValueError(f"bloom_filter_join supports left_semi/inner, got {how!r}")
    if m_bits <= 0 or k <= 0:
        raise ValueError(f"m_bits and k must be positive, got {m_bits}, {k}")

    keys = small.select(F.col(on).cast("string").alias("__kv")).where(
        F.col("__kv").isNotNull()
    ).distinct()
    # hash (key, i) as two columns — build and probe must agree on the
    # exact argument types (string, int)
    pos = keys.select(
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"), "__kv"
    ).select(
        F.pmod(
            F.xxhash64(F.col("__kv"), F.col("__i").cast("int")), F.lit(m_bits)
        ).alias("__pos")
    )
    bits = (
        pos.select(
            F.floor(F.col("__pos") / F.lit(32)).cast("long").alias("__w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 32 AS INT))").alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__mask"))
    )
    def _probe_pos(i: int) -> Column:
        return F.pmod(
            F.xxhash64(F.col(on).cast("string"), F.lit(i).cast("int")),
            F.lit(m_bits),
        )

    m_words = (m_bits + 31) // 32
    if m_words <= (1 << 17):
        # the bitset is bounded driver state (m_words longs — ~64 KB at
        # the 2^18-bit default, independent of key count), so collect it
        # once and probe with a pure per-row expression: k hashes + k
        # array lookups, ZERO joins before the exact join (round 15; the
        # guide's manual-Bloom build, the kmeans literal-centroid
        # pattern).  The array literal is built through ONE parsed SQL
        # expression — F.lit(list) costs a py4j round-trip per element.
        # Words the build side never set read 0 -> bit test fails,
        # exactly like the old left-join's null-mask path.
        words = [0] * m_words
        for r in bits.collect():
            words[int(r["__w"])] = int(r["__mask"])
        warr = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")
        cond = F.lit(True)
        for i in range(k):
            p = _probe_pos(i)
            mask = F.element_at(warr, (F.floor(p / F.lit(32)) + 1).cast("int"))
            bit = F.call_function(
                "shiftleft", F.lit(1).cast("long"), (p % 32).cast("int")
            )
            cond = cond & (mask.bitwiseAND(bit) != 0)
        return big.where(cond).join(small, on, how)
    survivors = big
    cond = F.lit(True)
    for i in range(k):
        p = _probe_pos(i)
        w = F.floor(p / F.lit(32)).cast("long")
        survivors = survivors.withColumn(f"__w{i}", w).withColumn(f"__b{i}", p % 32)
        survivors = survivors.join(
            F.broadcast(bits.select(F.col("__w").alias(f"__w{i}"), F.col("__mask").alias(f"__mask{i}"))),
            f"__w{i}",
            "left",
        )
        cond = cond & F.col(f"__mask{i}").isNotNull() & (
            F.expr(f"(__mask{i} div shiftleft(CAST(1 AS BIGINT), CAST(__b{i} AS INT))) % 2") == 1
        )
    survivors = survivors.where(cond).select(*big.columns)
    return survivors.join(small, on, how)
