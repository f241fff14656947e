"""Entity resolution: matched-pair clustering + golden-record
survivorship.

The reference's matching pipeline stops at scored pairs / validated
links (code/recipes.py join steps + the validation UI); a production
ER deployment then needs the two downstream steps this module adds:
transitive closure of the accepted pairs into entity clusters, and a
per-attribute survivorship policy that collapses each cluster to one
canonical "golden" record (Talend/MDM terminology; see also Christen,
"Data Matching", ch. 6).

Scale shape: clustering is :func:`~backend_spark.operators.graph
.connected_components` (hash-min label propagation, O(diameter)
keyed-join rounds — dedup/ER clusters are tiny and shallow, so this
converges in 2-3 rounds in practice); survivorship is ONE groupBy on
the cluster id.  The ``mode`` rule folds a per-cluster value histogram
through ``array_sort`` so ties break deterministically (highest count,
then smallest value) — cluster sizes bound the array, and match
clusters are small by construction (a mega-cluster means the blocking
upstream is broken, which `skew_report` is for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from backend_spark.operators.graph import check_cluster_cap, connected_components
from backend_spark.scale import stage

_RULES = ("first", "mode", "min", "max", "sum")


def er_resolve(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    survivorship: dict[str, str],
    pair_left: str = "left_id",
    pair_right: str = "right_id",
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """Resolve matched pairs into entities and build golden records.

    ``records``: one row per source record, unique ``id_col``.
    ``pairs``: accepted matches (``pair_left``, ``pair_right``) — e.g.
    thresholded ``join_fuzzy``/``join_topk`` output or validated links.
    ``survivorship``: attr -> rule, one of
      * ``first`` — the canonical record's value (min record id wins)
      * ``mode``  — most frequent non-null value, ties to the smallest
      * ``min`` / ``max`` / ``sum`` — plain aggregates over the cluster

    Returns one row per entity: ``entity_id`` (min member record id),
    ``n_members``, and one column per survivorship attr.  Unmatched
    records form singleton entities (self-loops are implicit: every
    record enters clustering, not just paired ones).

    ``max_cluster_size`` is the mega-cluster guard: the ``mode`` rule
    folds a per-cluster value histogram through ``collect_list``, which
    is bounded by cluster size — fine for real match clusters (tens of
    members), an executor OOM when upstream blocking collapses (e.g. a
    blank blocking key matching everything).  If any cluster exceeds
    the cap, raise with the offending cluster ids and sizes instead of
    letting the aggregate die opaquely mid-shuffle; the fix belongs
    upstream (see ``skew_report``).  Pass ``None`` to disable.  With a
    ``mode`` rule the check runs up front as its own count-only job (it
    must fail BEFORE the unbounded collect_list aggregate) and raises
    an eager ``ValueError``.  Without one every aggregate carries
    bounded state, so the guard is a filter on the survivorship
    aggregate's output (zero extra jobs): it raises
    ``SparkRuntimeException`` with the offending cluster id at action
    time, however the result is consumed (``collect``, ``count``, a
    narrow ``select``).
    """
    for attr, rule in survivorship.items():
        if rule not in _RULES:
            raise ValueError(f"unknown survivorship rule {rule!r} for {attr!r}")
        if attr not in records.columns:
            raise ValueError(f"survivorship attr {attr!r} not in records")
    if max_cluster_size is not None and max_cluster_size < 1:
        raise ValueError(
            f"max_cluster_size must be >= 1 or None, got {max_cluster_size}"
        )
    mode_attrs = [a for a, r in survivorship.items() if r == "mode"]
    edges = (
        pairs.select(F.col(pair_left).alias("src"), F.col(pair_right).alias("dst"))
        # self-loops: singletons keep a cluster label
        .unionByName(
            records.select(F.col(id_col).alias("src"), F.col(id_col).alias("dst"))
        )
    )
    comp = connected_components(edges)  # (node, comp)
    if mode_attrs:
        # the mode rule folds a per-cluster collect_list, which a
        # mega-cluster turns into an executor OOM mid-aggregate — the
        # guard must run (and fail) BEFORE that aggregate, as its own
        # count-only job
        check_cluster_cap(comp, max_cluster_size, "er_resolve")
    members = records.join(
        comp.withColumnRenamed("node", id_col), id_col, "inner"
    )
    aggs = [
        F.min(id_col).alias("entity_id"),
        F.count(F.lit(1)).alias("n_members"),
    ]
    for attr, rule in survivorship.items():
        if rule == "first":
            aggs.append(F.min_by(attr, F.col(id_col)).alias(attr))
        elif rule == "mode":
            # deterministic mode: fold the (value, count) histogram —
            # built per-cluster below — by (-count, value)
            aggs.append(
                F.get(  # null (not ANSI error) when the cluster is all-null
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col(f"__cnt_{attr}").isNotNull(),
                                F.struct(
                                    (-F.col(f"__cnt_{attr}")).alias("neg"),
                                    F.col(attr).alias("val"),
                                ),
                            )
                        )
                    ),
                    0,
                )["val"].alias(attr)
            )
        else:
            aggs.append(getattr(F, rule)(attr).alias(attr))

    if mode_attrs:
        # one value-histogram window pass per mode attr (runs on the
        # same comp partitioning), then the groupBy folds it
        from pyspark.sql import Window

        for attr in mode_attrs:
            w = Window.partitionBy("comp", attr)
            members = members.withColumn(
                f"__cnt_{attr}",
                F.when(F.col(attr).isNotNull(), F.count(attr).over(w)),
            )
    out = members.groupBy("comp").agg(*aggs)
    if max_cluster_size is not None and not mode_attrs:
        # without a mode rule the aggregate state is bounded (min/min_by/
        # max/sum), so a mega-cluster cannot OOM it and the guard needs
        # no up-front job.  It is a FILTER, not a projection: ColumnPruning
        # drops an unread raise_error column under count() or a narrow
        # select, but a row filter survives every consumer.  The OR
        # short-circuits, so raise_error only runs on an oversized cluster.
        out = out.where(
            (F.col("n_members") <= F.lit(max_cluster_size))
            | F.raise_error(
                F.concat(
                    F.lit("er_resolve: cluster "),
                    F.col("comp").cast("string"),
                    F.lit(
                        f" exceeds max_cluster_size={max_cluster_size}; "
                        "upstream blocking is likely broken — inspect "
                        "with skew_report or raise the cap"
                    ),
                )
            ).isNull()
        )
    return out.drop("comp")


_PAIR_KINDS = ("exact", "lev_norm", "jw", "abs_diff")


def pair_features(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    features: dict[str, str | list[str]],
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Pairwise similarity features for candidate pairs — the matching
    step between blocking (join_fuzzy / join_topk / geo_join / phonetic
    keys) and a trained link classifier (:func:`backend_spark.ml
    .ridge_train` / ``lr_train``): the reference scores pairs with its
    tools.py scoring library inside recipes; this materializes those
    scores as a feature matrix at corpus scale.

    ``features``: attr -> kind (or list of kinds), kind one of
      * ``exact``    — null-safe equality as 0/1
      * ``lev_norm`` — the reference's normalized Levenshtein
        (tools.py:213-227 semantics via functions.levenshtein_norm)
      * ``jw``       — Jaro-Winkler (Arrow pandas_udf — the documented
        Python-boundary exception, same as the ``scoring`` query),
        rounded to 4
      * ``abs_diff`` — round(|l − r|, 6) for numerics

    Output: (left_col, right_col, f_<attr>_<kind>...).

    Scale shape: two keyed equi-joins (pairs → left attrs → right
    attrs); feature columns are pure projections.  Records ship only
    the referenced attrs (column pruning), and each join is a plain
    hash join on the record id — no blocking logic here, that already
    happened upstream.
    """
    from backend_spark import functions as fn

    spec: list[tuple[str, str]] = []
    for attr, kinds in features.items():
        if attr not in records.columns:
            raise ValueError(f"pair_features: attr {attr!r} not in records")
        for kind in [kinds] if isinstance(kinds, str) else list(kinds):
            if kind not in _PAIR_KINDS:
                raise ValueError(f"pair_features: unknown kind {kind!r} for {attr!r}")
            spec.append((attr, kind))
    attrs = sorted({a for a, _ in spec})
    l = records.select(
        F.col(id_col).alias(left_col), *[F.col(a).alias(f"__l_{a}") for a in attrs]
    )
    r = records.select(
        F.col(id_col).alias(right_col), *[F.col(a).alias(f"__r_{a}") for a in attrs]
    )
    j = pairs.select(left_col, right_col).join(l, left_col).join(r, right_col)
    cols = []
    for attr, kind in spec:
        a, b = F.col(f"__l_{attr}"), F.col(f"__r_{attr}")
        if kind == "exact":
            c = a.eqNullSafe(b).cast("int")
        elif kind == "lev_norm":
            c = fn.levenshtein_norm(a, b)
        elif kind == "jw":
            c = F.round(fn.jw(a, b), 4)
        else:
            c = F.round(F.abs(a.cast("double") - b.cast("double")), 6)
        cols.append(c.alias(f"f_{attr}_{kind}"))
    return j.select(left_col, right_col, *cols)


def blocking_eval(
    candidates: DataFrame,
    gold: DataFrame,
    total_pairs: int,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Blocking-quality report: pair completeness (recall of the gold
    links among the generated candidates) and reduction ratio (how much
    of the quadratic pair space the blocking pruned) — the two numbers
    that decide whether a blocking scheme is usable before any scoring
    runs (Christen, "Data Matching", ch. 7).

    Pairs are orientation-normalized to (least, greatest) before
    comparison, so candidate and gold orientation conventions don't
    matter.  ``total_pairs`` is the comparison-space size the caller
    defines (n_l·n_r cross-source, or n·(n−1)/2 self-dedup).

    Scale shape: two distinct-pair aggregates and one hash semi-join on
    the normalized pair key; output is ONE row.
    """
    if total_pairs <= 0:
        raise ValueError(f"total_pairs must be positive, got {total_pairs}")

    def norm(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(left_col), F.col(right_col)).alias("__a"),
            F.greatest(F.col(left_col), F.col(right_col)).alias("__b"),
        ).distinct()

    c = norm(candidates)
    g = norm(gold)
    found = g.join(c, ["__a", "__b"], "left_semi")
    n_c = c.count()
    n_g = g.count()
    n_f = found.count()
    spark = candidates.sparkSession
    base = spark.createDataFrame(
        [(n_c, n_g, n_f)], "n_candidates long, n_gold long, n_found long"
    )
    # ratios via F.round (HALF_UP), matching the oracle's round()
    return base.select(
        "n_candidates",
        "n_gold",
        "n_found",
        F.when(
            F.col("n_gold") > 0,
            F.round(F.col("n_found") / F.col("n_gold"), 6),
        ).alias("pair_completeness"),
        F.round(
            F.lit(1.0) - F.col("n_candidates") / F.lit(float(total_pairs)), 6
        ).alias("reduction_ratio"),
    )


def sorted_neighborhood(
    records: DataFrame,
    id_col: str,
    key_cols: list[str] | str,
    window: int = 5,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995; Christen
    "Data Matching" ch. 4.5): order the corpus by a sorting key and
    emit every record pair whose rank distance is < ``window``.  The
    classic complement to equality blocking (phonetic keys,
    ``join_fuzzy`` deletion neighborhoods): typo'd keys that land in
    different equality blocks still sort adjacently, so SNM catches
    what hash blocking misses — feed the union of both candidate sets
    to :func:`pair_features` / ``blocking_eval``.

    ``key_cols`` need not be unique; ``id_col`` is appended as the
    total-order tie-break so candidate generation is deterministic.
    Output: (``left_col``, ``right_col``) with left rank < right rank
    (each unordered pair once), plus ``rank_dist`` (1..window-1).

    Scale shape: NO windowed self-join and NO single-partition sort —
    global ranks come from :func:`backend_spark.scale.assign_row_ids`
    (range-repartition + per-partition numbering + broadcast offsets),
    then ranks are bucketed by ``floor(rank / window)``; a pair within
    rank distance < window spans at most two adjacent buckets, so
    candidates come from ONE hash equi-join of each row's two bucket
    keys against the bucket table, filtered exactly on rank distance.
    Cost: one distributed sort + one keyed join, output bounded by
    n·(window-1) pairs — never quadratic.
    """
    if window < 2:
        raise ValueError(f"sorted_neighborhood: window must be >= 2, got {window}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    for c in keys + [id_col]:
        if c not in records.columns:
            raise ValueError(f"sorted_neighborhood: column {c!r} not in records")
    # output / internal name collisions make the self-join ambiguous
    # (same guard family as interval_join, ADVICE r8)
    reserved = {left_col, right_col, "rank_dist", "__rank", "__b", "__k", "__lr", "__rr"}
    clash = reserved & {id_col, *keys}
    if clash or left_col == right_col:
        raise ValueError(
            f"sorted_neighborhood: column name collision {sorted(clash) or [left_col]!r} "
            "— rename the id/key columns or pass different left_col/right_col"
        )
    from backend_spark.scale import assign_row_ids

    ranked = assign_row_ids(
        records.select(id_col, *keys), keys + [id_col], out_col="__rank"
    ).select(id_col, "__rank")
    b = ranked.withColumn("__b", F.floor(F.col("__rank") / window))
    # left rows announce themselves under their own bucket AND the next
    # one; right rows sit in their own bucket — any pair with
    # rank_r - rank_l in (0, window) shares exactly one announced key
    l = b.select(
        F.col(id_col).alias(left_col),
        F.col("__rank").alias("__lr"),
        F.explode(F.array(F.col("__b"), F.col("__b") + 1)).alias("__k"),
    )
    r = b.select(
        F.col(id_col).alias(right_col),
        F.col("__rank").alias("__rr"),
        F.col("__b").alias("__k"),
    )
    return (
        l.join(r, "__k")
        .where((F.col("__rr") > F.col("__lr")) & (F.col("__rr") - F.col("__lr") < window))
        .select(left_col, right_col, (F.col("__rr") - F.col("__lr")).alias("rank_dist"))
    )


def fs_weights(
    pairs: DataFrame,
    feature_cols: list[str],
    label_col: str,
    smoothing: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Fellegi-Sunter match-weight estimation from labeled pairs — the
    classical probabilistic-record-linkage step the reference leaves to
    its human validation UI (code/recipes.py scored-pair output +
    code/api.py validation endpoints): given candidate pairs with
    binary agreement indicators and a 0/1 ``label_col`` (clerically
    reviewed or gold links), estimate per feature

      * ``m_prob`` = P(agree | match),  ``u_prob`` = P(agree | unmatch)
        — Laplace-smoothed: ``(agree + s) / (n + 2s)`` so no weight is
        ever ±inf,
      * ``w_agree`` = log2(m/u), ``w_disagree`` = log2((1-m)/(1-u))

    (Fellegi & Sunter 1969; Christen "Data Matching" ch. 6).  A pair's
    total match weight is the sum over features of w_agree/w_disagree
    per its agreement pattern — :func:`fs_score` applies that.

    Agreement semantics: a feature counts as agreeing iff its value is
    non-null and non-zero (NULL = disagreement) — matching the 0/1 int
    columns :func:`pair_features` ``exact`` emits.

    Scale shape: ONE full pass — a single global aggregate computing
    every per-feature/per-class sum map-side-combined, then a k-row
    explode of the 1-row result.  No per-feature jobs, no shuffle
    beyond the aggregate.  Counts are exact BIGINTs; the probabilities
    and log2 weights are the only floating step, rounded to
    ``round_to`` so the output hashes identically cross-engine.
    """
    missing = [c for c in [*feature_cols, label_col] if c not in pairs.columns]
    if missing:
        raise ValueError(f"fs_weights: column(s) not in pairs: {missing}")
    if not feature_cols:
        raise ValueError("fs_weights: feature_cols must be non-empty")
    s = float(smoothing)
    if s <= 0:
        raise ValueError("fs_weights: smoothing must be > 0 (keeps weights finite)")
    lbl = (F.coalesce(F.col(label_col).cast("int"), F.lit(0)) != 0).cast("long")
    aggs = [F.sum(lbl).alias("__nm"), F.sum(F.lit(1) - lbl).alias("__nu")]
    for c in feature_cols:
        ind = (F.coalesce(F.col(c).cast("int"), F.lit(0)) != 0).cast("long")
        aggs.append(F.sum(ind * lbl).alias(f"__am_{c}"))
        aggs.append(F.sum(ind * (F.lit(1) - lbl)).alias(f"__au_{c}"))
    one = pairs.agg(*aggs)
    rows = []
    for c in feature_cols:
        m = (F.col(f"__am_{c}") + s) / (F.col("__nm") + 2 * s)
        u = (F.col(f"__au_{c}") + s) / (F.col("__nu") + 2 * s)
        rows.append(
            F.struct(
                F.lit(c).alias("feature"),
                F.round(m, round_to).alias("m_prob"),
                F.round(u, round_to).alias("u_prob"),
                F.round(F.log2(m / u), round_to).alias("w_agree"),
                F.round(F.log2((1 - m) / (1 - u)), round_to).alias("w_disagree"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("__s")).select("__s.*")


def fs_score(
    pairs: DataFrame,
    weights: DataFrame,
    feature_cols: list[str] | None = None,
    out_col: str = "match_weight",
    round_to: int = 6,
) -> DataFrame:
    """Apply :func:`fs_weights` output to (any) candidate pairs: total
    match weight = Σ per-feature w_agree (agreeing) / w_disagree
    (disagreeing, incl. NULL), appended as ``out_col`` — the score a
    Fellegi-Sunter upper/lower threshold then routes to auto-link /
    clerical review / auto-nonlink (see ``review_queue``).

    The weights table is tiny by construction (one row per feature), so
    it is collected driver-side (bounded, same pattern as the BPE merge
    table) and folded into a pure Column projection — scoring is
    shuffle-free and never joins the corpus.
    """
    wrows = {r["feature"]: r for r in weights.collect()}
    cols = list(feature_cols) if feature_cols is not None else sorted(wrows)
    missing = [c for c in cols if c not in wrows]
    if missing:
        raise ValueError(f"fs_score: no weights for feature(s): {missing}")
    absent = [c for c in cols if c not in pairs.columns]
    if absent:
        raise ValueError(f"fs_score: column(s) not in pairs: {absent}")
    total = F.lit(0.0)
    for c in cols:
        ind = F.coalesce(F.col(c).cast("int"), F.lit(0)) != 0
        total = total + F.when(ind, F.lit(float(wrows[c]["w_agree"]))).otherwise(
            F.lit(float(wrows[c]["w_disagree"]))
        )
    return pairs.withColumn(out_col, F.round(total, round_to))


def key_collision(
    df: DataFrame,
    col: str,
    min_variants: int = 2,
) -> DataFrame:
    """Key-collision clustering for messy categorical values
    (OpenRefine's "fingerprint" method): values that normalize to the
    same sorted-unique-token key are spelling/casing/word-order
    variants of one another; each cluster reports a deterministic
    canonical form — the cleanup pass run over name/city/company
    columns BEFORE blocking and matching (the reference's recipes
    chain its ``normalize`` the same way; this adds the cluster/
    canonicalize step).

    Key = sorted distinct tokens of :func:`backend_spark.functions
    .normalize` (lower, accent-fold, punctuation→space), so
    "Acme Corp.", "ACME CORP" and "corp acme" collide.  Canonical =
    most frequent ORIGINAL variant, ties to the lexicographically
    smallest (the er_resolve mode fold: sort by (-count, value), take
    the head — deterministic on any engine).

    Scale shape: two keyed aggregates (variant counts, then per-key
    histogram fold); the histogram array is bounded by the variant
    count of one key — pathological keys mean the normalizer is
    folding too hard, which the ``n_variants`` column itself surfaces.
    NULL and empty-normalizing values are excluded.

    Output: (key, n_rows, n_variants, canonical), keys with at least
    ``min_variants`` distinct variants.
    """
    from backend_spark import functions as fn

    if min_variants < 1:
        raise ValueError(f"key_collision: min_variants must be >= 1, got {min_variants}")
    if col not in df.columns:
        raise ValueError(f"key_collision: column {col!r} not in df")
    key = F.array_join(
        F.array_sort(F.array_distinct(F.split(fn.normalize(F.col(col)), " "))), " "
    )
    variants = (
        df.where(F.col(col).isNotNull())
        .select(key.alias("key"), F.col(col).alias("__v"))
        .where(F.col("key") != "")
        .groupBy("key", "__v")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return (
        variants.groupBy("key")
        .agg(
            F.sum("__cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_variants"),
            F.get(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("__cnt")).alias("neg"), F.col("__v").alias("val"))
                    )
                ),
                0,
            )["val"].alias("canonical"),
        )
        .where(F.col("n_variants") >= min_variants)
    )


def _all_not_null(cols: "list[str]"):
    cond = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        cond = cond & F.col(c).isNotNull()
    return cond


def match_cascade(
    df: DataFrame,
    ref: DataFrame,
    passes: "list[dict]",
    select: "dict[str, str]",
    pass_col: str = "match_pass",
) -> DataFrame:
    """Waterfall matching — the reference's multi-step recipe idiom
    (an exact join, then a normalized join, then a coarse blocking
    join, each over the rows the previous step left unmatched;
    code/recipes.py chains join steps exactly this way, with the
    matched/unmatched split done by a ``keep`` filter between steps)
    packaged as ONE operator.

    ``passes`` is an ordered list of ``{"name": str, "keys":
    [(left_expr, right_expr), ...]}`` — each key pair is a SQL
    expression over the respective side (so ``lower(name)`` /
    phonetic keys work without materializing columns), ANDed together;
    SQL equality semantics mean a NULL key never matches and the row
    falls through to the next pass.  ``select`` maps {out_col:
    ref_col} for the attributes retrieved on match.  Rows matched by
    pass i get ``pass_col`` = that pass's name; never-matched rows
    come back with NULL attributes and NULL ``pass_col`` (left-outer
    contract, like join_strict).

    Within a pass the referential is collapsed to ONE row per key
    tuple before the join — deterministic min over the struct of
    retrieved attributes (field order = ``select`` order) — so an
    ambiguous coarse pass can never fan the left side out.

    Scale shape: each pass is a keyed equi-join of the SHRINKING
    unmatched remainder against a deduped (one aggregate) referential
    — AQE broadcasts the referential side when it is small; no
    cross products, no windows over the fact side, and the early
    cheap passes absorb the bulk of the rows before any expensive
    key expression runs.  The remainder is localCheckpoint'd per pass
    to keep the lineage flat across a long cascade.
    """
    if not passes:
        raise ValueError("match_cascade: passes must be non-empty")
    out_attrs = list(select)
    clash = (set(out_attrs) | {pass_col}) & set(df.columns)
    if clash:
        raise ValueError(
            f"match_cascade: output column(s) collide with df: {sorted(clash)}"
        )
    names = [p["name"] for p in passes]
    if len(set(names)) != len(names):
        raise ValueError(f"match_cascade: duplicate pass names: {names}")
    for p in passes:
        if not p.get("keys"):
            raise ValueError(f"match_cascade: pass {p.get('name')!r} has no keys")
    n_keys = max(len(p["keys"]) for p in passes)
    reserved = {f"__mc_k{j}" for j in range(n_keys)} | {"__mc_v"}
    for side, cols in (("df", df.columns), ("ref", ref.columns)):
        hit = reserved & set(cols)
        if hit:
            raise ValueError(
                f"match_cascade: {side} column(s) {sorted(hit)} collide "
                "with reserved internal names"
            )

    base_cols = list(df.columns)
    matched_parts: list[DataFrame] = []
    remaining = df
    for p in passes:
        keys = p["keys"]
        kcols = [f"__mc_k{j}" for j in range(len(keys))]
        rded = (
            ref.select(
                *[F.expr(r).alias(k) for k, (_, r) in zip(kcols, keys)],
                F.struct(
                    *[F.col(c).alias(n) for n, c in select.items()]
                ).alias("__mc_v"),
            )
            # a NULL key can never match (SQL equality) — drop such
            # referential rows before the dedupe aggregate
            .where(_all_not_null(kcols))
            .groupBy(*kcols)
            .agg(F.min("__mc_v").alias("__mc_v"))
        )
        lhs = remaining.select(
            "*", *[F.expr(l).alias(k) for k, (l, _) in zip(kcols, keys)]
        )
        # ONE cut on the join output (round-15): the matched slice and
        # the unmatched remainder both read it, so each pass's join is
        # computed exactly once — cutting only the remainder (as before)
        # recomputed every pass's join a second time when the final
        # union evaluated the matched slices
        joined = lhs.join(rded, kcols, "left").transform(stage, eager=False)
        matched_parts.append(
            joined.where(F.col("__mc_v").isNotNull()).select(
                *base_cols,
                *[F.col("__mc_v")[n].alias(n) for n in out_attrs],
                F.lit(p["name"]).alias(pass_col),
            )
        )
        remaining = joined.where(F.col("__mc_v").isNull()).select(*base_cols)
    unmatched = remaining.select(
        *base_cols,
        *[F.lit(None).cast(ref.schema[c].dataType).alias(n) for n, c in select.items()],
        F.lit(None).cast("string").alias(pass_col),
    )
    out = matched_parts[0]
    for part in matched_parts[1:]:
        out = out.unionByName(part)
    return out.unionByName(unmatched)


def fs_em(
    pairs: DataFrame,
    feature_cols: list[str],
    n_iter: int = 10,
    init_p: float = 0.1,
    init_m: float = 0.9,
    init_u: float = 0.1,
    ndigits: int = 6,
) -> DataFrame:
    """UNSUPERVISED Fellegi-Sunter estimation via EM over agreement
    patterns (Winkler 1988; the algorithm behind Splink) — when no
    labeled pairs exist, the m/u probabilities and the match prior
    ``lambda`` are learned from the candidate pairs' agreement-pattern
    frequencies alone.  This is the missing half of :func:`fs_weights`
    (which needs labels) and upgrades the reference's workflow: its
    users hand-tune score thresholds in the validation UI; EM derives
    principled weights from the same blocked pairs first.

    The sufficient statistic is tiny: the 2^k agreement-pattern count
    table (ONE map-side-combined aggregate over the pairs — the corpus
    is touched exactly once; ``k = len(feature_cols)`` is capped at 16
    so the collect is bounded).  EM then runs driver-side in a FIXED
    deterministic order — patterns sorted, features left-to-right,
    probabilities clamped to [1e-6, 1-1e-6] after every M-step — so the
    trajectory is bit-reproducible and the DuckDB oracle replays the
    identical float sequence with ordered-aggregate folds (the
    bpe_train unrolled-iteration pattern).

    Output: one row per feature (feature, m_prob, u_prob, w_agree,
    w_disagree, prior) — ``prior`` is the estimated match proportion
    lambda, identical on every row.  EM fits a 2-class latent mixture;
    as with any EM, it finds a local optimum and the "match" class is
    the one seeded by ``init_m > init_u``.  NULL agreement values count
    as disagreement, matching :func:`fs_weights`.
    """
    import math

    k = len(feature_cols)
    if not 1 <= k <= 16:
        raise ValueError(f"fs_em: need 1..16 feature_cols, got {k}")
    missing = [c for c in feature_cols if c not in pairs.columns]
    if missing:
        raise ValueError(f"fs_em: column(s) not in pairs: {missing}")
    if n_iter < 1:
        raise ValueError(f"fs_em: n_iter must be >= 1, got {n_iter}")
    if not (0.0 < init_p < 1.0 and 0.0 < init_u < init_m < 1.0):
        raise ValueError(
            "fs_em: need 0 < init_p < 1 and 0 < init_u < init_m < 1 "
            f"(got p={init_p}, m={init_m}, u={init_u})"
        )
    inds = [
        (F.coalesce(F.col(c).cast("int"), F.lit(0)) != 0)
        .cast("int")
        .alias(f"__a{i}")
        for i, c in enumerate(feature_cols)
    ]
    names = [f"__a{i}" for i in range(k)]
    rows = (
        pairs.select(*inds)
        .groupBy(*names)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not rows:
        raise ValueError("fs_em: no pairs")
    pats = sorted((tuple(r[a] for a in names), r["__n"]) for r in rows)
    total = sum(n for _, n in pats)
    eps = 1e-6
    p = float(init_p)
    m = [float(init_m)] * k
    u = [float(init_u)] * k
    for _ in range(n_iter):
        sum_r = 0.0
        sum_1r = 0.0
        sm = [0.0] * k
        su = [0.0] * k
        for a, n in pats:  # sorted pattern order — the fold the oracle replays
            wm = p
            wu = 1.0 - p
            for i in range(k):
                wm *= m[i] if a[i] else 1.0 - m[i]
                wu *= u[i] if a[i] else 1.0 - u[i]
            r = wm / (wm + wu)
            sum_r += n * r
            sum_1r += n * (1.0 - r)
            for i in range(k):
                if a[i]:
                    sm[i] += n * r
                    su[i] += n * (1.0 - r)
        p = min(max(sum_r / total, eps), 1.0 - eps)
        for i in range(k):
            m[i] = min(max(sm[i] / sum_r, eps), 1.0 - eps)
            u[i] = min(max(su[i] / sum_1r, eps), 1.0 - eps)
    out = [
        (
            c,
            round(m[i], ndigits),
            round(u[i], ndigits),
            round(math.log2(m[i] / u[i]), ndigits),
            round(math.log2((1.0 - m[i]) / (1.0 - u[i])), ndigits),
            round(p, ndigits),
        )
        for i, c in enumerate(feature_cols)
    ]
    return pairs.sparkSession.createDataFrame(
        out,
        "feature string, m_prob double, u_prob double, w_agree double, "
        "w_disagree double, prior double",
    )
