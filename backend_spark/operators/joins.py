"""Join operators — the identity of the product (reference:
code/recipes.py:2120-2370, SURVEY.md §2.2).  Every reference join is a
left join against a referential that never fans out (strict / fuzzy) or
a top-k candidate-retrieval join (the ES-style matching join).

Scale posture:
* `join_strict` broadcasts the referential (reference referentials are
  <500k rows, docs/recipes.md:125-127) — a broadcast hash join, no
  shuffle of the big side.
* `join_fuzzy` replaces the reference's per-row Levenshtein automaton
  (code/automata.py:152-191) with a **deletion-neighborhood (FastSS)
  equi-join**: both sides generate their ≤1-deletion variants, the
  smaller side by the optimizer's size estimate is broadcast,
  candidates are verified with the codegen'd `F.levenshtein`, and the
  reference's tie-break is one argmin aggregate.  The dictionary side
  (`fuzzy_dictionary`) depends on the referential alone, so a caller
  can build it once and reuse it, as the reference reuses its
  automaton (code/recipes.py:2159-2173).  No cartesian product, no
  Python in the hot path; the expansion factor is O(word_length) per
  row.
* `prepare_join_strict` / `prepare_join_fuzzy` / `prepare_fuzzy_match`
  build everything that depends on the referential alone (its pruned
  broadcast projection, every Column) once and return a function of the
  left frame; the one-shot operators are those functions applied once.
* `join_topk` is blocking-join + per-left-row top-k window — the
  pure-Spark mapping of the reference's Elasticsearch msearch join
  (code/recipes.py:2265-2370): exploded blocking keys generate
  candidates (never all-pairs), deduplicated as ids-only (left id,
  ref id) pairs on the required unique ``ref_id``, a score expression
  ranks them, and `row_number() <= k` keeps the bucket.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def join_strict(
    df: DataFrame,
    ref: DataFrame,
    strict: dict[str, str],
    select: dict[str, str] | None = None,
) -> DataFrame:
    """Equi left-outer join against a referential (reference in_memory
    strict join, code/recipes.py:2244-2264).

    ``strict`` maps {left_col: right_col}; ``select`` maps
    {new_name: right_col} for the retrieved columns (right join keys are
    dropped).  The referential is projected to only the needed columns
    before the broadcast — the reference's filtered-projection cache
    (code/recipes.py:2175-2187) is just column pruning here.
    """
    return prepare_join_strict(ref, strict, select)(df)


def prepare_join_strict(
    ref: DataFrame,
    strict: dict[str, str],
    select: dict[str, str] | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """``join_strict`` against ``ref`` as a function of the left frame:
    the pruned broadcast referential projection, its key columns and
    the rename/drop lists are built here, once; the returned function
    runs only the join, rename and drop of its own frame."""
    needed = list(dict.fromkeys(list(strict.values()) + list((select or {}).values())))
    r = F.broadcast(ref.select(*needed))
    keys = [(l, r[rt]) for l, rt in strict.items()]
    # retrieved columns are renamed {right_col: new}; the right join
    # keys not retrieved are dropped (reference code/recipes.py:2244-2264)
    renames = {old: new for new, old in (select or {}).items()}
    drop = [c for c in strict.values() if c not in renames]

    def bind(df: DataFrame) -> DataFrame:
        out = df.join(r, [df[l] == rc for l, rc in keys], "left")
        if renames:
            out = out.withColumnsRenamed(renames)
        return out.drop(*drop)

    return bind


def _one_deletions(word: Column) -> Column:
    """All 1-deletion variants of a single word (array of strings)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))),
        lambda i: F.concat(
            F.substring(word, F.lit(1), (i - 1).cast("int")),
            word.substr(i + 1, F.length(word)),
        ),
    )


def _deletion_variants(col: Column, max_dist: int = 1, max_len: int = 64) -> Column:
    """word -> array of the word + all its ≤``max_dist``-deletion variants
    (FastSS neighborhood).  If lv(a, b) ≤ k then every edit op deletes at
    most one char from each side of the alignment, so the two k-deletion
    neighborhoods intersect — intersection is a *necessary* condition for
    distance ≤ k (for k=1 it is also sufficient).  Candidates are always
    re-verified with the exact ``F.levenshtein``, so false candidates
    (distance up to 2k) only cost verify work, never correctness.
    Pure Column expression; expansion is O(len^k) per word."""
    word = F.substring(col, 1, max_len)
    if max_dist == 1:
        # common case (reference default): one flat transform, no
        # nested flatten/transform over a singleton array
        return F.array_distinct(F.concat(F.array(word), _one_deletions(word)))
    arr = F.array(word)
    for _ in range(max_dist):
        arr = F.array_distinct(F.concat(arr, F.flatten(F.transform(arr, _one_deletions))))
    return arr


def _check_max_dist(max_dist: int) -> None:
    if not 1 <= max_dist <= 2:
        raise ValueError(
            f"max_dist={max_dist} unsupported: deletion-neighborhood expansion "
            "is exact for 1-2 (the reference's automaton also stops at 2)"
        )


def fuzzy_dictionary(words: DataFrame, word_col: str, max_dist: int = 1) -> DataFrame:
    """The referential side of the automata/fastcomp ``fuzzy_match``:
    one row per distinct word ``__w`` and each of its ≤``max_dist``
    deletion variants ``__v``.  It depends on the referential alone, so
    a caller that matches many inputs against one referential can
    persist it once and pass it as ``fuzzy_match(dictionary=...)``
    (``RecipeBook`` keeps one per referential).  fastcomp matches at
    distance 1, so its dictionary is built with ``max_dist=1``."""
    _check_max_dist(max_dist)
    return (
        words.select(F.col(word_col).alias("__w")).distinct()
        .withColumn("__v", F.explode(_deletion_variants(F.col("__w"), max_dist)))
    )


def fuzzy_match(
    df: DataFrame,
    words: DataFrame,
    left_col: str,
    word_col: str,
    out_col: str | None = None,
    max_dist: int = 1,
    method: str = "automata",
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """Attach to every row the reference's fuzzy match against a word
    dictionary.  ``method`` mirrors the reference's ``fuzzy_method``
    (code/recipes.py:2192-2212):

    * ``automata`` (default): best word within Levenshtein distance
      ≤ ``max_dist``, preferring smaller distance, then sorted order
      (automaton search code/automata.py:152-191, dist 0 first).
    * ``fastcomp``: the reference's match_lv1 (tools.py:249-262) —
      distance ≤ 1 only (its ``best_score >= 2 -> None`` guard rejects
      distance-2 matches; its scan is also iteration-order-dependent —
      here the tie-break is deterministic: distance, then word).
    * ``jellyfish`` / ``jw``: best Jaro-Winkler match, kept only when
      similarity ≥ 0.95 (tools.py:264-277).  Ties broken by word order
      (the reference keeps the first scanned — order-dependent).

    ``dictionary`` (automata/fastcomp only) is ``fuzzy_dictionary(words,
    word_col, max_dist)`` built ahead, typically persisted; without it
    the dictionary is derived from ``words`` inline.

    Scale posture: automata/fastcomp is a FastSS deletion-neighborhood
    equi-join (explode ≤k-deletion variants both sides, broadcast the
    smaller side, verify with builtin ``F.levenshtein``).  jw has no
    neighborhood structure; distinct left keys × broadcast dictionary,
    pruned by an exact length-band filter (jw ≥ 0.95 forces jaro
    ≥ 0.9167, hence matches m ≥ 0.75·max_len and min_len ≥ 0.75·max_len)
    before the Arrow-vectorized jw verify — same work shape as the
    reference's per-row dictionary scan, but vectorized and pruned.
    Left rows without a match keep a null ``out_col`` (never fans out,
    never drops rows)."""
    return prepare_fuzzy_match(
        words, left_col, word_col, out_col, max_dist, method, dictionary
    )(df)


def prepare_fuzzy_match(
    words: DataFrame,
    left_col: str,
    word_col: str,
    out_col: str | None = None,
    max_dist: int = 1,
    method: str = "automata",
    dictionary: DataFrame | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """``fuzzy_match`` against ``words`` as a function of the left
    frame: the dictionary side and every Column (deletion variants,
    verify, argmin) are built here, once; the returned function runs
    only the DataFrame operations on its own frame's keys."""
    out_col = out_col or f"{left_col}_match"
    key = F.col(left_col).alias("__k")
    has_key = F.col("__k").isNotNull()
    if method in ("jellyfish", "jw"):
        best_of = _jw_best_match(words, word_col, out_col)
    elif method in ("automata", "fastcomp"):
        if method == "fastcomp":
            max_dist = 1
        _check_max_dist(max_dist)
        if dictionary is None:
            dictionary = fuzzy_dictionary(words, word_col, max_dist)
        dictionary = F.broadcast(dictionary)
        variants = F.explode(_deletion_variants(F.col("__k"), max_dist))
        verify = [F.col("__k"), F.col("__w"), F.levenshtein("__k", "__w").alias("__d")]
        within = F.col("__d") <= max_dist
        # argmin via one hash aggregate instead of a row_number window:
        # struct ordering is field-by-field, so min(struct(d, w)) IS the
        # (distance asc, word asc) tie-break — and unlike the window the
        # aggregate combines map-side (guide §2.3) and needs no sort
        argmin = F.min(F.struct(F.col("__d").alias("d"), F.col("__w").alias("w"))).alias("__best")
        pick = [F.col("__k"), F.col("__best.w").alias(out_col)]

        def best_of(keys: DataFrame) -> DataFrame:
            # both sides hinted: an inner join builds the smaller hinted
            # side by the optimizer's size estimate, with no probe or
            # execution.  A few query rows against a large (persisted)
            # dictionary broadcast their own variants; a large input
            # streams past the broadcast dictionary.  No distinct on
            # candidates: duplicate (k, w) pairs (matched via several
            # variants) cost only repeated cheap verifies, and the
            # argmin below picks the same row
            cand = (
                F.broadcast(keys.withColumn("__v", variants)).join(dictionary, "__v")
                .select(*verify)
                .where(within)
            )
            return cand.groupBy("__k").agg(argmin).select(*pick)
    else:
        raise ValueError(f"unknown fuzzy method {method!r} (automata|fastcomp|jellyfish|jw)")

    def bind(df: DataFrame) -> DataFrame:
        best = best_of(df.select(key).where(has_key).distinct())
        # the per-key result table is bounded by DISTINCT LEFT KEYS, not
        # by the dictionary — forcing a broadcast here would bypass AQE's
        # size check and OOM executors at high key cardinality.  No hint:
        # AQE broadcasts small tables at runtime from their actual
        # shuffle size; a large result falls back to the shuffle hash
        # join on __k, reusing the partitioning the argmin aggregate
        # already produced.
        return df.join(best, df[left_col] == best["__k"], "left").drop("__k")

    return bind


def _jw_best_match(
    words: DataFrame, word_col: str, out_col: str
) -> Callable[[DataFrame], DataFrame]:
    """Best Jaro-Winkler dictionary word per distinct left key ``__k``,
    kept when jw ≥ 0.95 (reference match_jw, tools.py:264-277), as a
    function of the keys.  Exact length-band
    prune: jw = j + l·0.1·(1-j) with l ≤ 4, so jw ≥ 0.95 ⇒ j ≥ 11/12;
    j ≤ (m/l1 + m/l2 + 1)/3 with m ≤ min(l1,l2) gives
    min(l1,l2) ≥ 0.75·max(l1,l2) — rows outside the band can never pass
    the threshold, so pruning them preserves exactness.

    Deliberately NOT pre-blocked on soundex / first characters: no such
    block is exactness-preserving for jw ≥ 0.95 (a leading
    transposition — "abcdefgh" vs "bacdefgh" — scores jw ≈ 0.958 while
    changing both the first character and the soundex code), and this
    operator's contract is parity with the reference's exhaustive scan.
    The length band is the provably-lossless prune; callers needing a
    lossy-but-cheaper candidate stage at scale should use the
    automata/fastcomp methods or block explicitly upstream."""
    from backend_spark import functions as fn

    dict_side = F.broadcast(words.select(F.col(word_col).alias("__w")).distinct())
    lk, lw = F.length("__k"), F.length("__w")
    band = F.least(lk, lw) * 4 >= F.greatest(lk, lw) * 3
    score = fn.jw(F.col("__k"), F.col("__w"))
    close = F.col("__s") >= 0.95
    # argmax via one hash aggregate (see the automata path): negating
    # the score makes min(struct) the (score desc, word asc) tie-break;
    # scores are finite non-null doubles, so the sign flip is exact
    argmax = F.min(F.struct((-F.col("__s")).alias("ns"), F.col("__w").alias("w"))).alias("__best")
    pick = [F.col("__k"), F.col("__best.w").alias(out_col)]

    def best_of(keys: DataFrame) -> DataFrame:
        cand = keys.join(dict_side, band).withColumn("__s", score).where(close)
        return cand.groupBy("__k").agg(argmax).select(*pick)

    return best_of


def join_fuzzy(
    df: DataFrame,
    ref: DataFrame,
    fuzzy: dict[str, str],
    strict: dict[str, str] | None = None,
    select: dict[str, str] | None = None,
    max_dist: int = 1,
    fuzzy_method: str = "automata",
    dictionary: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy in-memory join (reference code/recipes.py:2189-2242): for
    each fuzzy key pick the best dictionary word (see ``fuzzy_match``,
    ``fuzzy_method`` ∈ automata|fastcomp|jellyfish|jw), then strict-join
    on the matched word (+ any strict keys).

    ``fuzzy`` maps {left_col: right_col} (single entry, like the
    reference); the matched word lands in ``{left_col}_match`` and the
    retrieved columns follow ``select`` renaming.  ``dictionary`` is the
    referential's prebuilt ``fuzzy_dictionary`` (see ``fuzzy_match``).
    """
    return prepare_join_fuzzy(
        ref, fuzzy, strict, select, max_dist, fuzzy_method, dictionary
    )(df)


def prepare_join_fuzzy(
    ref: DataFrame,
    fuzzy: dict[str, str],
    strict: dict[str, str] | None = None,
    select: dict[str, str] | None = None,
    max_dist: int = 1,
    fuzzy_method: str = "automata",
    dictionary: DataFrame | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """``join_fuzzy`` against ``ref`` as a function of the left frame:
    ``prepare_fuzzy_match`` then ``prepare_join_strict`` on the matched
    word, both built here, once."""
    (left_col, right_col), = fuzzy.items()
    match_col = f"{left_col}_match"
    match = prepare_fuzzy_match(
        ref, left_col, right_col, out_col=match_col, max_dist=max_dist,
        method=fuzzy_method, dictionary=dictionary,
    )
    attach = prepare_join_strict(ref, {match_col: right_col, **(strict or {})}, select=select)
    return lambda df: attach(match(df))


def geo_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    left_id: str,
    right_id: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Radius join on coordinates — the geo-blocking counterpart of the
    fuzzy text joins (the reference scores geo distance in its scoring
    library, code/tools.py:65-78; this is the JOIN that produces those
    candidate pairs at scale).  Exact within its stated domain: every
    (left, right) pair with haversine ≤ ``radius_km`` and |lat| ≤ 85°
    is returned (poles excluded — lon cells degenerate there).

    Blocking: both sides quantize into square cells of
    ``radius/111.195 km`` degrees (one LATITUDE cell always covers the
    radius); the left side explodes to its 3×(2k+1) neighbor cells
    where k = ceil(sec(lat_bound)) is the latitude-dependent LONGITUDE
    span — lon degrees shrink by cos(lat), so a fixed ±1 would miss
    matches beyond ~60°.  Lon cell ids wrap at the antimeridian
    (pmod), so candidates survive the ±180° seam.  The join is a plain
    (lat_cell, lon_cell) equi-join — shuffle-keyed blocking, no cross
    product — followed by the exact haversine verify, rounded to 1
    place (the scoring library's precision, not ``fn.NDIGITS``).  Returns
    (left_id, right_id, dist_km).
    """
    from backend_spark import functions as fn

    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    deg = radius_km / 111.1949  # km per degree of latitude
    # UNIFORM longitude grid: n_lon equal cells of exactly 360/n_lon
    # degrees (each >= deg).  A grid of deg-width cells would leave a
    # fractional last cell at the antimeridian, where circular cell-id
    # distance understates physical distance and the neighbor span
    # comes up one cell short (seam pairs silently dropped).
    n_lon = max(1, int(360.0 / deg))
    lon_deg = 360.0 / n_lon

    def _cells(df, idc, explode_neighbors):
        latq = F.floor((F.col(lat_col) + 90.0) / F.lit(deg)).cast("long")
        lonq = F.floor((F.col(lon_col) + 180.0) / F.lit(lon_deg)).cast("long")
        base = df.select(
            F.col(idc), F.col(lat_col).alias("__la"), F.col(lon_col).alias("__lo"),
            latq.alias("__latq"), lonq.alias("__lonq"),
        )
        if not explode_neighbors:
            return base.withColumn("__lonq", F.pmod(F.col("__lonq"), F.lit(n_lon)))
        lat_bound = F.least(F.abs(F.col("__la")) + F.lit(2.0 * deg), F.lit(85.0))
        # lon radius in degrees = deg·sec(lat); span in (wider) lon
        # cells, +1 as ulp insurance on the near-integral ceil corner
        k = (
            F.ceil(F.lit(deg / lon_deg) / F.cos(F.radians(lat_bound))).cast("int")
            + F.lit(1)
        )
        return (
            base.withColumn("__dla", F.explode(F.sequence(F.lit(-1), F.lit(1))))
            .withColumn("__dlo", F.explode(F.sequence(-k, k)))
            .select(
                F.col(idc), "__la", "__lo",
                (F.col("__latq") + F.col("__dla")).alias("__latq"),
                F.pmod(F.col("__lonq") + F.col("__dlo"), F.lit(n_lon)).alias("__lonq"),
            )
        )

    lc = _cells(left, left_id, explode_neighbors=True)
    rc = _cells(right, right_id, explode_neighbors=False)
    cand = lc.join(
        rc.withColumnRenamed("__la", "__ra").withColumnRenamed("__lo", "__ro"),
        ["__latq", "__lonq"],
    )
    dist = fn.haversine_km(F.col("__la"), F.col("__lo"), F.col("__ra"), F.col("__ro"))
    out = (
        cand.withColumn("dist_km", F.round(dist, 1))
        .where(F.col("dist_km") <= radius_km)
        .select(left_id, right_id, "dist_km")
    )
    # Duplicate candidate pairs can only form when the wrapped longitude
    # neighbor span covers the whole ring (2k+1 >= n_lon: two distinct
    # __dlo offsets pmod to the same cell) — near-polar lat_bound or a
    # radius approaching planetary scale.  Otherwise every right row
    # meets a given left row in exactly one (latq, lonq) cell, so the
    # result-sized distinct() shuffle is pure waste; guard it on the
    # driver-computable worst case (lat_bound caps at 85°).
    k_max = math.ceil((deg / lon_deg) / math.cos(math.radians(85.0))) + 1
    if 2 * k_max + 1 >= n_lon:
        out = out.distinct()
    return out


def join_topk(
    df: DataFrame,
    ref: DataFrame,
    left_id: str,
    block_left: Column | str,
    block_right: Column | str,
    score: Callable[[DataFrame], Column],
    *,
    ref_id: str,
    k: int = 10,
    prefix: str = "hit_",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Top-k candidate-retrieval join — the pure-Spark mapping of the
    reference's Elasticsearch msearch join + unfold + unnest
    (code/recipes.py:2265-2370; SURVEY.md §2.2).

    * ``block_left`` / ``block_right``: array columns (or expressions)
      of blocking keys (tokens / ngrams / phonetic codes).  Candidates
      are pairs sharing ≥1 non-null key — an equi-join on the exploded
      keys, never a cartesian product.
    * ``ref_id``: a unique ref key column.  The candidate dedup
      shuffles **ids only** — (left_id, ref_id) pairs, one per pair
      however many keys it shares — and the left/hit attributes are
      re-attached afterwards (the left-attr join is keyed on
      ``left_id``, the same partitioning the top-k window needs, so it
      adds no extra Exchange).
    * ``score``: callable building the ranking Column from the joined
      frame (hit columns carry ``prefix``); replaces the BM25 score
      (implementation-defined ranking, SURVEY.md §7 watch-list).
      Equal scores rank by ``tiebreak`` columns, ascending.
    * result: one row per (left row, hit), already "unfolded/unnested":
      hit columns prefixed, plus ``{prefix}score``,
      ``matchid_hit_matches_unfiltered`` (candidate count per left row,
      reference code/recipes.py:2341-2346) and ``{prefix}max_score``.
      Left rows with no candidate are dropped (the reference's
      hits!="" filter, code/recipes.py:2348-2349).
    """
    bl = F.col(block_left) if isinstance(block_left, str) else block_left
    br = F.col(block_right) if isinstance(block_right, str) else block_right
    ref_keys = ref.select(F.col(ref_id).alias("__rid"), br.alias("__bk_arr")).select(
        "__rid", F.explode("__bk_arr").alias("__bk")
    )
    left_keys = df.select(F.col(left_id), bl.alias("__bk_arr")).select(
        left_id, F.explode("__bk_arr").alias("__bk")
    )
    pair_ids = left_keys.join(ref_keys, "__bk").select(left_id, "__rid").distinct()
    hit_attrs = ref.select(*[F.col(c).alias(f"{prefix}{c}") for c in ref.columns])
    pairs = (
        pair_ids.join(df, left_id)
        .join(hit_attrs, F.col("__rid") == F.col(f"{prefix}{ref_id}"))
        .drop("__rid")
    )
    scored = pairs.withColumn(f"{prefix}score", score(pairs))
    order = [F.col(f"{prefix}score").desc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(left_id).orderBy(*order)
    agg_w = Window.partitionBy(left_id)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .withColumn("matchid_hit_matches_unfiltered", F.count(F.lit(1)).over(agg_w))
        .withColumn(f"{prefix}max_score", F.max(F.col(f"{prefix}score")).over(agg_w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    tolerance: int | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """Point-in-time (as-of) join: attach to every left row the single
    right row with the greatest ``right_ts`` <= ``left_ts`` in the same
    ``on`` group (pandas ``merge_asof`` backward semantics, exact
    matches allowed) — the join a feature/training pipeline needs to
    avoid time-travel leakage.

    Scale shape: both sides union into ONE frame keyed on ``on``; a
    running ``F.last(ignorenulls)`` window carries the latest right
    payload forward through the ordered stream.  One shuffle + sort on
    the key — no range-condition row explosion, no per-key loop, state
    is a single struct per row.  Right rows sort before left rows at
    equal timestamps so exact matches attach.  Left rows with a null
    timestamp match nothing (nulls sort first).

    ``tolerance`` (same units as the ts columns) drops matches older
    than ``left_ts - tolerance``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys]
    rp = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__pay"),
    )
    lrow_t = left.select(F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"))
    lp = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(rp.schema["__pay"].dataType).alias("__pay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
    )
    u = lp.unionByName(
        rp.withColumn("__lrow", F.lit(None).cast(lrow_t.schema["__lrow"].dataType))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = u.withColumn("__m", F.last("__pay", ignorenulls=True).over(w))
    if tolerance is not None:
        m = m.withColumn(
            "__mts",
            F.last(F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True).over(w),
        ).withColumn(
            "__m",
            F.when(F.col("__mts") >= F.col("__ts") - F.lit(tolerance), F.col("__m")),
        )
    out = m.where(F.col("__side") == 1)
    return out.select(
        *[F.col("__lrow")[c].alias(c) for c in left.columns],
        *[F.col("__m")[c].alias(f"{prefix}{c}") for c in payload_cols],
    )


def _floor_bin(c: Column, bin_width: float) -> Column:
    """``floor(c / bin_width)`` as an exact bin id.

    For an integral ``bin_width`` the bin is computed in integer
    arithmetic — ``(v - pmod(v, w)) / w`` on BIGINT, where the numerator
    is an exact multiple of ``w`` — so integral values (timestamps,
    sequence numbers) near a bin boundary can never be shifted into the
    wrong bin by double-division rounding; exact for |v| < 2^53 (the
    final division of an exact multiple is correctly rounded there,
    ~285k years at millisecond resolution).  Fractional widths keep the
    double division; callers own the documented precision bound (values
    within 1 ulp of a boundary may land one bin off, and the bin-match
    predicates in range_join/interval_join assume exact arithmetic).
    """
    fw = float(bin_width)
    if fw <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width!r}")
    if fw.is_integer():
        # floor(c/w) == floor(floor(c)/w) for integral w, and F.floor on
        # a double is exact — so fractional inputs are safe here too.
        w = F.lit(int(fw)).cast("long")
        v = F.floor(c).cast("long")
        return ((v - F.pmod(v, w)) / w).cast("long")
    return F.floor(c / F.lit(fw)).cast("long")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join (``lo <= point < hi``) without a cartesian
    or broadcast-nested-loop plan: both sides are keyed on
    ``floor(value / bin_width)``, each interval explodes into every bin
    it overlaps, the join is a plain hash equi-join on the bin, and the
    exact range predicate filters survivors.

    Scale shape: with ``bin_width`` chosen near the median interval
    width the fan-out is O(1) bins per interval, so shuffle volume stays
    proportional to the inputs — the quadratic blow-up Spark's default
    plan (BroadcastNestedLoopJoin / CartesianProduct on a range
    predicate) hits at scale never materializes.  Duplicate matches are
    impossible: a point lives in exactly one bin.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"range_join supports inner/left, got {how!r}")
    clash = {"__bin", "__bins"} & (set(points.columns) | set(intervals.columns))
    if clash:
        raise ValueError(f"range_join: reserved column name(s) in input: {sorted(clash)}")
    p = points.withColumn("__bin", _floor_bin(F.col(point_col), bin_width))
    i = intervals.withColumn(
        "__bins",
        F.sequence(
            _floor_bin(F.col(lo_col), bin_width),
            _floor_bin(F.col(hi_col), bin_width),
        ),
    ).withColumn("__bin", F.explode("__bins")).drop("__bins")
    joined = p.join(i, "__bin", "inner").where(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    )
    if how == "left":
        matched = joined.drop("__bin")
        keys = points.columns
        missed = points.join(matched.select(*keys).distinct(), keys, "left_anti")
        return matched.unionByName(missed, allowMissingColumns=True)
    return joined.drop("__bin")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_width: float,
    on: list[str] | str | None = None,
    prefix: str = "iv_",
) -> DataFrame:
    """Interval-overlap join (half-open: ``l.lo < r.hi AND r.lo < l.hi``)
    without a cartesian/BNLJ plan — the interval×interval sibling of
    :func:`range_join` (point×interval).  Optional equi-keys ``on``
    (e.g. a user or device id) further partition the match space.

    Scale shape: both sides explode into the fixed-width bins they
    overlap and meet in a plain hash equi-join on ``(on…, bin)``; the
    exact overlap predicate filters survivors.  Duplicate pairs never
    materialize — and need no ``distinct`` shuffle — because a pair is
    kept only in the FIRST bin both intervals share, which for
    overlapping intervals is exactly ``max(floor(l.lo/w),
    floor(r.lo/w))`` (the later-starting interval's first bin; the
    earlier one must reach into it for the pair to overlap at all).
    Fan-out is O(interval_len / bin_width) rows per input row, so pick
    ``bin_width`` near the median interval length, as in
    :func:`range_join`.
    """
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    reserved = {"__bin", "__lobin", "__rlobin"}
    clash = reserved & set(left.columns) | reserved & set(right.columns)
    if clash:
        raise ValueError(f"interval_join: reserved column name(s) in input: {sorted(clash)}")
    prefixed = {f"{prefix}{c}" for c in right.columns if c not in keys}
    clash = prefixed & set(left.columns)
    if clash:
        raise ValueError(
            f"interval_join: prefixed right column(s) collide with left: {sorted(clash)}"
            f" — pick a different prefix"
        )

    def binned(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return (
            df.withColumn("__lobin", _floor_bin(F.col(lo), bin_width))
            .withColumn(
                "__bin",
                F.explode(F.sequence("__lobin", _floor_bin(F.col(hi), bin_width))),
            )
        )

    l = binned(left, left_lo, left_hi)
    r = binned(right, right_lo, right_hi)
    r = r.select(
        *[F.col(k) for k in keys],
        F.col("__bin"),
        F.col("__lobin").alias("__rlobin"),
        *[
            F.col(c).alias(f"{prefix}{c}")
            for c in right.columns
            if c not in keys
        ],
    )
    joined = l.join(r, [*keys, "__bin"], "inner").where(
        (F.col(left_lo) < F.col(f"{prefix}{right_hi}"))
        & (F.col(f"{prefix}{right_lo}") < F.col(left_hi))
        & (F.col("__bin") == F.greatest("__lobin", "__rlobin"))
    )
    return joined.drop("__bin", "__lobin", "__rlobin")
