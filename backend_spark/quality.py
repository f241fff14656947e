"""Data-quality validation — Deequ-style declarative checks evaluated
in a single scan (the reference has no equivalent; this is part of the
"what a 100 TB pipeline needs" extension surface, like `profile`).

A rule list compiles to ONE aggregate over the table: every row-level
rule becomes a conditional count inside the same `agg()` (violations =
rows failing the predicate), so N rules cost one pass, not N scans.
`unique` rules need a distinct aggregate; Spark plans multiple
count-distincts with Expand in the same single scan, which is the
right trade until rule lists get pathological.

Rules (dicts, validated eagerly):

* ``{"col", "check": "not_null"}``            — null/NaN-free
* ``{"col", "check": "unique"}``              — no duplicate values
* ``{"col", "check": "min", "value": v}``     — col >= v (violation: < v)
* ``{"col", "check": "max", "value": v}``     — col <= v
* ``{"col", "check": "in_set", "values": [..]}`` — membership
* ``{"col", "check": "regex", "pattern": p}`` — pattern compliance
  (search semantics, like ``rlike``; anchor with ``^...$`` for a
  full match)

Output: one row per rule — (rule_id, col, check, violations, n_rows,
passed) — ordered by rule_id, so the result is a machine-checkable
quality report (and hash-stable for the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from backend_spark import functions as fn

_CHECKS = ("not_null", "unique", "min", "max", "in_set", "regex")


def _violation_pred(df: DataFrame, rule: dict) -> Column:
    """Boolean Column: True where the row VIOLATES the rule."""
    c = F.col(rule["col"])
    check = rule["check"]
    if check == "not_null":
        pred = c.isNull()
        if dict(df.dtypes).get(rule["col"]) in ("float", "double"):
            pred = pred | F.isnan(c)
        return pred
    if check == "min":
        return c.isNull() | (c < F.lit(rule["value"]))
    if check == "max":
        return c.isNull() | (c > F.lit(rule["value"]))
    if check == "in_set":
        # NULL is NOT a violation here: ~isin(NULL) yields NULL, which the
        # counting F.sum skips.  Deliberate asymmetry with min/max/regex
        # (which count NULL as violating) — in_set checks domain membership
        # of present values only; pair with a not_null rule to also reject
        # missing values.
        return ~c.isin(list(rule["values"]))
    if check == "regex":
        return c.isNull() | ~c.rlike(rule["pattern"])
    raise AssertionError(check)


def dq_check(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Evaluate ``rules`` against ``df`` in one aggregate pass; returns
    the per-rule report described in the module docstring.

    Scale posture: a global aggregate reduces to ONE row regardless of
    table size (map-side partials, no keyed shuffle); `unique` adds a
    distinct-expand over the checked column only.  The report pivot is
    driver-side arithmetic on that single row — nothing collects but
    the measure vector.
    """
    for i, r in enumerate(rules):
        if r.get("check") not in _CHECKS:
            raise ValueError(f"rule {i}: unknown check {r.get('check')!r} (use {_CHECKS})")
        if r["col"] not in df.columns:
            raise ValueError(f"rule {i}: column {r['col']!r} not in {df.columns}")

    measures: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for i, r in enumerate(rules):
        if r["check"] == "unique":
            # violations = excess duplicate rows: Σ (group_size - 1)
            # over duplicated values = count - distinct-values (null
            # counts as one value, like Deequ's uniqueness)
            measures.append(
                (F.count(F.lit(1)) - F.count_distinct(F.col(r["col"]))
                 - F.coalesce(F.max(F.col(r["col"]).isNull().cast("long")), F.lit(0))
                 ).alias(f"__m{i}")
            )
        else:
            # coalesce: SUM over zero counted rows is NULL, and in_set's
            # predicate is NULL on NULL values — an all-NULL column (or an
            # empty table) must report 0 violations / passed=TRUE, not NULL
            measures.append(
                F.coalesce(
                    F.sum(_violation_pred(df, r).cast("long")), F.lit(0)
                ).alias(f"__m{i}")
            )
    one = df.agg(*measures)

    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("rule_id"),
                F.lit(r["col"]).alias("col"),
                F.lit(r["check"]).alias("check"),
                F.col(f"__m{i}").cast("long").alias("violations"),
            )
            for i, r in enumerate(rules)
        ]
    )
    return (
        one.select(F.explode(rows).alias("__r"), F.col("__n"))
        .select(
            F.col("__r.rule_id").alias("rule_id"),
            F.col("__r.col").alias("col"),
            F.col("__r.check").alias("check"),
            F.col("__r.violations").alias("violations"),
            F.col("__n").cast("long").alias("n_rows"),
            (F.col("__r.violations") == 0).alias("passed"),
        )
    )


def k_anonymity(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l_div: int | None = None,
) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifier columns
    (Sweeney 2002; Machanavajjhala et al. 2007): one row per QI
    equivalence class with its size and, when ``sensitive_col`` is
    given, its count of distinct sensitive values — flagging classes
    smaller than ``k`` (re-identifiable) and, optionally, classes with
    fewer than ``l_div`` distinct sensitive values (attribute
    disclosure even when k holds).  The release-gate complement to
    :func:`~backend_spark.llm.pii_scan`: pii_scan finds direct
    identifiers in text, this measures linkage risk in the structured
    columns that remain after they're stripped.

    ONE keyed aggregate on the QI tuple (map-side combined;
    count_distinct of the sensitive column lowers to Spark's Expand —
    linear, 2× the rows of the class).  Returns qi_cols + (class_size,
    n_sensitive?, violates_k[, violates_l]).  Aggregate-only output —
    no individual row leaves the function.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(F.col(sensitive_col)).alias("n_sensitive"))
    out = df.groupBy(*qi_cols).agg(*aggs)
    out = out.withColumn("violates_k", F.col("class_size") < k)
    if sensitive_col is not None and l_div is not None:
        out = out.withColumn("violates_l", F.col("n_sensitive") < l_div)
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed diff of two dataset snapshots: one row per key that was
    ``added``, ``removed`` or ``changed`` (unchanged keys are absent) —
    the promotion audit an incremental pipeline runs before swapping a
    corpus snapshot (pairs with :func:`~backend_spark.llm.dedup_incremental`
    ingest and ``compact_latest`` state).

    One full-outer equi-join on the key; change detection is a
    null-safe struct comparison of ``compare_cols`` (default: all
    shared non-key columns) — no hashing, no second shuffle, exact on
    any type.  Returns key_cols + status.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns) and c not in keys]
        compare_cols = shared
    o = old.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("__old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("__new"),
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(*keys, "status")
    )


def scd2_build(
    df: DataFrame,
    key_cols: list[str] | str,
    attr_cols: list[str] | str,
    ts_col: str,
) -> DataFrame:
    """Collapse a keyed change/observation stream into slowly-changing-
    dimension type-2 history: one row per maximal run of consecutive
    identical ``attr_cols`` values per key, with ``valid_from`` (first
    observation of the run), ``valid_to`` (start of the next run, NULL
    while current) and ``is_current`` — the standard warehouse shape a
    CDC feed compiles to (complements :func:`snapshot_diff`, which
    diffs two snapshots; this builds the full validity timeline).

    Run detection is the gaps-and-islands window pattern: a null-safe
    struct comparison against ``lag()`` marks change points, a running
    sum numbers the runs, one aggregate per (key, run) takes the run's
    first timestamp, and ``lead()`` closes each interval half-open
    ``[valid_from, valid_to)``.  Scale shape: everything partitions by
    the key — ONE shuffle+sort, reused by both window passes and the
    aggregate (same partitioning expression), no self-join, no
    per-key collect.  Ties on ``ts_col`` within a key are broken by the
    attr struct so run numbering is deterministic; rows with a null
    timestamp are dropped (an observation without a time cannot be
    placed on the timeline).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    attrs = [attr_cols] if isinstance(attr_cols, str) else list(attr_cols)
    a = F.struct(*[F.col(c) for c in attrs])
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(), a.asc())
    chg = F.when(~a.eqNullSafe(F.lag(a).over(w)), 1).otherwise(0)
    runs = (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("__chg", chg)
        .withColumn(
            "__run",
            F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = runs.groupBy(*keys, *attrs, F.col("__run")).agg(
        F.min(ts_col).alias("valid_from")
    )
    # attr tiebreak: two runs CAN share valid_from (same-timestamp rows
    # with different attrs) — without it lead() is nondeterministic
    wk = Window.partitionBy(*keys).orderBy(F.col("valid_from").asc(), a.asc())
    return spans.select(
        *keys,
        *attrs,
        "valid_from",
        F.lead("valid_from").over(wk).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def cidr_filter(
    df: DataFrame,
    ip_col: str,
    cidrs: DataFrame,
    cidr_col: str = "cidr",
) -> DataFrame:
    """Match rows whose IPv4 address falls in any blocklist CIDR — the
    network-range analogue of ``blocklist`` (crawler curation drops or
    tags traffic from known-bad ranges; PII governance flags internal
    addresses, RFC 1918 etc).  Returns the input rows joined with the
    matching ``cidr`` string (one output row per match; rows matching
    nothing are dropped — anti-join against this result to keep them).

    Scale shape: addresses and CIDR ranges are exact BIGINTs
    (functions.ipv4_long / cidr_range); the match is range_join's
    binned hash equi-join on 2^16-wide address bins — never a
    nested-loop over ip × cidr, which is what a naive
    ``ip BETWEEN lo AND hi`` theta-join plans at scale.  A /8 block
    explodes into 256 bins; typical blocklists (/16../24) take 1-2.
    Malformed addresses/CIDRs are NULL and never match.
    """
    from backend_spark.operators.joins import range_join

    pts = df.withColumn("__ip", fn.ipv4_long(F.col(ip_col))).where(
        F.col("__ip").isNotNull()
    )
    rng = (
        cidrs.withColumn("__r", fn.cidr_range(F.col(cidr_col)))
        .where(F.col("__r").isNotNull())
        .select(cidr_col, F.col("__r.lo").alias("__lo"), F.col("__r.hi").alias("__hi"))
    )
    out = range_join(pts, rng, "__ip", "__lo", "__hi", bin_width=65536)
    return out.drop("__ip", "__lo", "__hi")


def table_checksum(
    df: DataFrame,
    cols: list[str] | None = None,
    n_buckets: int = 256,
) -> DataFrame:
    """Bucketed content checksums for cross-system table validation —
    the "did the migration/export copy every row byte-for-byte"
    primitive behind the reference's dataset import/export flows
    (code/models.py dataset round-trips): run the same checksum on both
    systems and diff ``n_buckets`` summary rows instead of 100 TB.

    Each row folds to a 60-bit md5 of its engine-canonical column
    strings (``\\x1f``-joined, NULLs as a ``\\x00null`` sentinel that no
    real string collides with) and lands in ``pmod(hash, n_buckets)``;
    per bucket the report carries row count, XOR of hashes and a
    modular hash sum — three order-independent, mergeable reductions,
    so the whole check is ONE map-side-combined aggregate over
    ``n_buckets`` result rows (xor alone cancels on duplicated row
    pairs; the count and mod-sum catch those).  A mismatched bucket
    localizes the diff to ``rows/n_buckets`` candidates for a detail
    pass.

    Canonical-string caveat: string/integer/date/timestamp columns cast
    identically on conforming engines; raw FLOAT/DOUBLE columns do NOT
    (scientific-notation thresholds differ) — pre-round or format them
    explicitly before checksumming.
    """
    use = list(cols) if cols is not None else list(df.columns)
    missing = [c for c in use if c not in df.columns]
    if missing:
        raise ValueError(f"table_checksum: column(s) not in df: {missing}")
    if not use:
        raise ValueError("table_checksum: need at least one column")
    if n_buckets < 1:
        raise ValueError(f"table_checksum: n_buckets must be >= 1, got {n_buckets}")
    canon = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in use
    ]
    h = fn.md5_long(F.concat_ws("\x1f", *canon))
    return (
        df.select(
            F.pmod(h, F.lit(n_buckets)).cast("long").alias("bucket"),
            h.alias("__h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("__h").alias("xor_sig"),
            F.sum(F.col("__h") % F.lit(1_000_000_007)).alias("sum_sig"),
        )
    )


def ab_test(
    df: DataFrame,
    arm_col: str,
    conv_col: str,
    control: str,
    z_crit: float = 1.96,
) -> DataFrame:
    """Two-proportion z-test of every treatment arm against the named
    control — the go/no-go readout of an experiment exposure log
    (arm assignment column + 0/1 conversion column).  Per treatment
    arm: counts, rates, absolute lift, the pooled-variance z statistic

        z = (p_t - p_c) / sqrt(p_pool (1 - p_pool) (1/n_t + 1/n_c))

    and ``significant`` = |z| >= ``z_crit`` (1.96 ~ two-sided 5%).

    The statistics are closed-form over exact integer counts, so the
    whole test is ONE map-side-combined aggregate on the arm column
    (|arms| rows) + a broadcast of the 1-row control — nothing about
    the corpus shuffles twice, and the same plan serves 10^2 or 10^12
    exposures.  Rows with NULL arm or conversion drop; conversions
    must be 0/1 (values outside that make p-hat meaningless — dq_check
    upstream).  Arms with n=0 can't occur (group keys come from data);
    z is NULL when the pooled variance is 0 (both rates 0 or both 1).
    A ``control`` value that matches no arm yields an EMPTY result, not
    an error — the plan stays action-free by design, so validate the
    arm name upstream when it comes from user input.
    """
    missing = [c for c in (arm_col, conv_col) if c not in df.columns]
    if missing:
        raise ValueError(f"ab_test: column(s) not in df: {missing}")
    per = (
        df.where(F.col(arm_col).isNotNull() & F.col(conv_col).isNotNull())
        .groupBy(F.col(arm_col).alias("arm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(conv_col).cast("long")).alias("conv"),
        )
    )
    ctrl = per.where(F.col("arm") == control).select(
        F.col("n").alias("control_n"), F.col("conv").alias("control_conv")
    )
    t = per.where(F.col("arm") != control).crossJoin(F.broadcast(ctrl))
    p_t = F.col("conv").cast("double") / F.col("n").cast("double")
    p_c = F.col("control_conv").cast("double") / F.col("control_n").cast("double")
    p_pool = (F.col("conv") + F.col("control_conv")).cast("double") / (
        F.col("n") + F.col("control_n")
    ).cast("double")
    var = p_pool * (1.0 - p_pool) * (
        1.0 / F.col("n").cast("double") + 1.0 / F.col("control_n").cast("double")
    )
    z = F.when(var > 0, (p_t - p_c) / F.sqrt(var))
    return t.select(
        "arm",
        "n",
        "conv",
        F.round(p_t, fn.NDIGITS).alias("rate"),
        "control_n",
        "control_conv",
        F.round(p_c, fn.NDIGITS).alias("control_rate"),
        F.round(p_t - p_c, fn.NDIGITS).alias("lift"),
        F.round(z, fn.NDIGITS).alias("z"),
        F.when(z.isNotNull(), F.abs(z) >= z_crit).alias("significant"),
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: list[str] | str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    prefix: str = "dim_",
    how: str = "left",
) -> DataFrame:
    """Point-in-time dimension lookup against an SCD2 history — the
    consumption half of :func:`scd2_build`: each fact row retrieves the
    dimension version whose half-open validity ``[valid_from,
    valid_to)`` contains the fact's ``ts_col`` (NULL ``valid_to`` =
    still current).  This is the join every "what did the customer's
    segment look like WHEN the order happened" question compiles to.

    Scale shape: ONE hash equi-join on the natural key with the
    validity window as the join's residual condition — SCD2 versions
    per key are few and non-overlapping BY CONSTRUCTION (scd2_build
    emits gapless half-open runs), so each fact matches AT MOST one
    version and the left-outer join never fans out; no binning
    machinery needed (compare :func:`~backend_spark.operators
    .joins.range_join`, which exists for arbitrary overlapping
    intervals).  Because the validity predicate lives IN the join
    condition (not a post-filter + anti-join), ``how='left'`` needs no
    second pass over the facts and is NULL-safe: fact rows containing
    NULL payload columns are kept exactly once (a payload-column
    anti-join would use NULL-unequal SQL semantics and duplicate
    them).  Dimension columns come back ``prefix``-renamed;
    ``how='left'`` keeps facts whose timestamp predates the first
    version (NULL dimension columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"scd2_lookup supports inner/left, got {how!r}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    missing = [c for c in [*keys, valid_from, valid_to] if c not in dim.columns]
    if missing:
        raise ValueError(f"scd2_lookup: dim missing column(s): {missing}")
    attrs = [c for c in dim.columns if c not in keys]
    prefixed = {f"{prefix}{c}" for c in attrs}
    clash = prefixed & set(facts.columns)
    if clash:
        raise ValueError(
            f"scd2_lookup: prefixed dim column(s) collide with facts: "
            f"{sorted(clash)} — pick a different prefix"
        )
    kcols = [f"__scd2_k{i}" for i in range(len(keys))]
    reserved = set(kcols) & (set(facts.columns) | prefixed)
    if reserved:
        raise ValueError(
            f"scd2_lookup: column(s) {sorted(reserved)} collide with "
            "reserved internal names"
        )
    d = dim.select(
        *[F.col(k).alias(a) for k, a in zip(keys, kcols)],
        *[F.col(c).alias(f"{prefix}{c}") for c in attrs],
    )
    ts = F.col(ts_col)
    valid = (ts >= F.col(f"{prefix}{valid_from}")) & (
        F.col(f"{prefix}{valid_to}").isNull() | (ts < F.col(f"{prefix}{valid_to}"))
    )
    cond = valid
    for k, a in zip(keys, kcols):
        cond = (facts[k] == d[a]) & cond
    return facts.join(d, cond, how).drop(*kcols)


def disparate_impact(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    reference: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Disparate-impact audit — per-group positive-outcome rates and
    their ratio to a named reference group, flagged by the four-fifths
    rule (ratio < 0.8 = adverse impact, the EEOC screening convention):
    the fairness readout run over any scored/selected population
    (loan approvals, resume screens, content promotion) before a model
    ships.  The ``ab_test`` sibling with a regulatory threshold
    instead of a significance test.

    One map-side-combined aggregate on the group column + a 1-row
    reference broadcast; rows with NULL group or outcome drop; ratio
    is NULL when the reference rate is 0.  Output: (group, n,
    positives, rate, ref_rate, di_ratio, adverse).
    """
    missing = [c for c in (group_col, outcome_col) if c not in df.columns]
    if missing:
        raise ValueError(f"disparate_impact: column(s) not in df: {missing}")
    per = (
        df.where(F.col(group_col).isNotNull() & F.col(outcome_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(outcome_col).cast("long")).alias("positives"),
        )
    )
    ref = per.where(F.col("group") == reference).select(
        (F.col("positives").cast("double") / F.col("n").cast("double")).alias("__ref")
    )
    rate = F.col("positives").cast("double") / F.col("n").cast("double")
    ratio = F.when(F.col("__ref") > 0, rate / F.col("__ref"))
    return (
        per.where(F.col("group") != reference)
        .crossJoin(F.broadcast(ref))
        .select(
            "group",
            "n",
            "positives",
            F.round(rate, fn.NDIGITS).alias("rate"),
            F.round(F.col("__ref"), fn.NDIGITS).alias("ref_rate"),
            F.round(ratio, fn.NDIGITS).alias("di_ratio"),
            F.when(ratio.isNotNull(), ratio < threshold).alias("adverse"),
        )
    )


def freshness(
    df: DataFrame,
    source_col: str,
    ts_col: str,
    max_lag_us: "int | None" = None,
) -> DataFrame:
    """Per-source data-freshness report: row count, latest timestamp,
    and lag behind the freshest source (epoch-micros integers in,
    integers out) — the first thing an ingestion dashboard shows and
    the check that catches a silently-dead feed before anything
    downstream does.  ``max_lag_us`` adds a ``stale`` flag.

    One map-side-combined aggregate to |sources| rows + a 1-row global
    max broadcast.  Rows with NULL timestamp drop (they carry no
    freshness evidence but WOULD poison max()).
    """
    missing = [c for c in (source_col, ts_col) if c not in df.columns]
    if missing:
        raise ValueError(f"freshness: column(s) not in df: {missing}")
    per = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col(ts_col).cast("long")).alias("latest"),
        )
    )
    top = per.agg(F.max("latest").alias("__top"))
    out = per.crossJoin(F.broadcast(top)).select(
        "source", "n", "latest", (F.col("__top") - F.col("latest")).alias("lag_us")
    )
    if max_lag_us is not None:
        out = out.withColumn("stale", F.col("lag_us") > max_lag_us)
    return out


def ri_check(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: "str | None" = None,
    top_k: int = 5,
) -> DataFrame:
    """Referential-integrity audit (the dbt ``relationships`` test at
    scale): how many fact rows point at a dimension key that does not
    exist, and WHICH missing keys hurt most.  Run before a join goes
    to production — a 2% orphan rate silently becomes a 2% row drop in
    every downstream inner join.

    One summary row (kind='summary', key=NULL) with n_facts,
    n_orphans, orphan_rate; then the ``top_k`` heaviest orphan keys
    (kind='orphan', ties by key text) with their row counts.  NULL
    fact keys count as orphans of kind 'null' (they can never join) —
    reported separately because the fix differs (upstream bug vs
    missing dimension row).

    Scale shape: one left-anti join of the fact keys against the
    distinct dimension keys (AQE broadcasts the dim side when small),
    one map-side-combined count per orphan key, TakeOrdered for the
    top-k — the fact table never sorts.
    """
    dkey = dim_key or fact_key
    if fact_key not in facts.columns:
        raise ValueError(f"ri_check: column {fact_key!r} not in facts")
    if dkey not in dim.columns:
        raise ValueError(f"ri_check: column {dkey!r} not in dim")
    fk = facts.select(F.col(fact_key).alias("__k"))
    dk = dim.select(F.col(dkey).alias("__k")).where(F.col("__k").isNotNull()).distinct()
    n_facts = fk.count()
    nulls = fk.where(F.col("__k").isNull()).count()
    orphans = (
        fk.where(F.col("__k").isNotNull())
        .join(dk, "__k", "left_anti")
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spark = facts.sparkSession
    top = (
        orphans.orderBy(F.col("cnt").desc(), F.col("__k").cast("string").asc())
        .limit(top_k)
        .select(
            F.lit("orphan").alias("kind"),
            F.col("__k").cast("string").alias("key"),
            F.col("cnt").cast("long").alias("n"),
            F.lit(None).cast("double").alias("orphan_rate"),
        )
    )
    n_orphans = orphans.agg(F.coalesce(F.sum("cnt"), F.lit(0))).collect()[0][0]
    rate = round((n_orphans + nulls) / n_facts, fn.NDIGITS) if n_facts else None
    summary = spark.createDataFrame(
        [("summary", None, int(n_facts), rate), ("null", None, int(nulls), None)],
        "kind string, key string, n long, orphan_rate double",
    )
    return summary.unionByName(top)


def sync_plan(
    old: DataFrame,
    new: DataFrame,
    cols: "list[str] | None" = None,
    n_buckets: int = 256,
) -> DataFrame:
    """Incremental-sync planner on top of :func:`table_checksum`: diff
    the two sides' bucket checksums and emit ONE row per bucket that
    needs work — ``action`` = 'copy' (bucket only on the new side),
    'delete' (only on the old), or 'resync' (present on both but
    content differs).  Buckets that match are omitted: at 100 TB the
    point is that an incremental migration re-ships ``changed_buckets
    / n_buckets`` of the data instead of all of it, and this report IS
    the work list (filter each side by ``pmod(md5_long(row),
    n_buckets) = bucket`` to materialize a bucket's rows).

    Cost: two one-aggregate checksums + a full-outer join of two
    ``n_buckets``-row tables.  The float canonicalization caveat of
    table_checksum applies unchanged.
    """
    oc = table_checksum(old, cols, n_buckets=n_buckets).select(
        "bucket",
        F.col("n_rows").alias("old_rows"),
        F.col("xor_sig").alias("__ox"),
        F.col("sum_sig").alias("__os"),
    )
    nc = table_checksum(new, cols, n_buckets=n_buckets).select(
        "bucket",
        F.col("n_rows").alias("new_rows"),
        F.col("xor_sig").alias("__nx"),
        F.col("sum_sig").alias("__ns"),
    )
    j = oc.join(nc, "bucket", "full_outer")
    same = (
        F.col("old_rows").eqNullSafe(F.col("new_rows"))
        & F.col("__ox").eqNullSafe(F.col("__nx"))
        & F.col("__os").eqNullSafe(F.col("__ns"))
    )
    action = (
        F.when(F.col("old_rows").isNull(), F.lit("copy"))
        .when(F.col("new_rows").isNull(), F.lit("delete"))
        .otherwise(F.lit("resync"))
    )
    return (
        j.where(~same)
        .select(
            "bucket",
            F.coalesce(F.col("old_rows"), F.lit(0)).alias("old_rows"),
            F.coalesce(F.col("new_rows"), F.lit(0)).alias("new_rows"),
            action.alias("action"),
        )
    )
