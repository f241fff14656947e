"""Large-scale training-data pipeline operators (SURVEY.md §7 step 10):
deduplication, similarity search, text analysis, multimodal plumbing.

These are the beyond-reference extensions a 100 TB corpus pipeline
needs.  Design rules:

* **Never all-pairs.** Candidate generation is always a bucketed
  equi-join (LSH bands, shared shingles, hyperplane buckets) so the
  shuffle scales with Σ bucket² over *collisions*, not N².
* **Cross-engine exact hashing.**  Signatures derive from
  `functions.md5_long` (first 15 hex chars of md5 → bigint), so the
  DuckDB correctness oracle reproduces MinHash/LSH/SimHash outputs
  bit-for-bit — the dedup operators are hash-verifiable, not
  "approximately similar".
* **Columnar first.**  Everything below explode/join level is a pure
  Column expression (codegen'd); Python appears only in the clearly
  marked multimodal decode stubs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from backend_spark import functions as fn
from backend_spark.operators.graph import connected_components
from backend_spark.scale import LoopCuts, spread_scan, stage


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, id_col: str, text_col: str, normalize: bool = False) -> DataFrame:
    """Exact dedup: one row per distinct text, keeping the smallest id
    (deterministic).  ONE ``min_by`` hash-aggregate — map-side combined
    (each task keeps one candidate row per distinct key before the
    exchange), a single shuffle keyed on the text, and the surviving
    row comes straight out of the aggregate.  The previous shape
    (min-id per key + join back) scanned the corpus twice and — when
    the survivor table is too big to broadcast, i.e. at any real corpus
    size — shuffled the full rows a second time for the join
    (guide §2.4: remove shuffles outright).  ``id_col`` is unique by
    contract, so ``min_by`` is deterministic.
    """
    key = fn.normalize(F.col(text_col)) if normalize else F.col(text_col)
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.select(row.alias("__r"), key.alias("__k"))
        .groupBy("__k")
        .agg(F.min_by("__r", F.col("__r")[id_col]).alias("__r"))
        .select("__r.*")
    )


# ---------------------------------------------------------------------------
# similarity-join kernel: minhash_lsh_pairs / crosscorpus_neardup (MinHash
# bands) and ngram_jaccard_pairs / containment_pairs (PPJoin prefixes) are
# parameter sets over these stages
# ---------------------------------------------------------------------------

# Verify steps compare round(metric, 6) >= threshold, so the smallest
# qualifying overlap i satisfies i/n >= threshold - 5e-7.  Every prefix /
# length / positional bound therefore ceils over (threshold - _CEIL_EPS):
# a float-rounded-UP ceil of the bare product (e.g. ceil(0.28*25) = 8,
# true ceil 7) would shorten a prefix and silently drop qualifying pairs.
# Erring low only lengthens prefixes — exactness is preserved.
_CEIL_EPS = 5e-7


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int,
    distinct: bool = False, spread: bool = True,
) -> DataFrame:
    """Staged ``(id_col, __hs)``: md5_long of each ``shingle_n``-char
    shingle of the normalized text (``distinct``: as a set).  ``spread``
    first, as this chain is the dominant per-row compute.  The stage cut
    is load-bearing: ``__hs`` is read inside ``num_perm`` min-fold
    lambdas, where a computed array re-runs the chain per reference
    (measured ~10x)."""
    src = df.select(F.col(id_col), F.col(text_col))
    if spread:
        src = spread_scan(src, by=id_col)
    sh = fn.shingles(fn.normalize(F.col(text_col)), shingle_n)
    hs = F.transform(sh, lambda t: fn.md5_long(t))
    return src.select(
        F.col(id_col), (F.array_distinct(hs) if distinct else hs).alias("__hs")
    ).transform(stage, eager=False)


def _minhash_bands(
    df: DataFrame, id_col: str, text_col: str, num_perm: int, bands: int,
    shingle_n: int, spread: bool = True, keys_col: str = "__keys",
) -> tuple[DataFrame, DataFrame]:
    """``(hashes, banded)``: (id, sorted ``__hs``, ``|__hs|``) for
    :func:`_jaccard_verify`, and one (id, ``keys_col`` band-key array,
    ``__band``, ``__key``) row per band for :func:`_band_pairs` — the
    shingle arrays never enter the band join."""
    if num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}); a "
            "remainder would compute signature permutations that never get "
            "banded, silently lowering recall vs the requested num_perm"
        )
    rows = num_perm // bands
    sig = (
        _shingle_hashes(df, id_col, text_col, shingle_n, spread=spread)
        .withColumn("__sig", fn.minhash_signature_from_hashes(F.col("__hs"), num_perm))
        .transform(stage, eager=False)
    )
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "-", F.transform(F.slice("__sig", b * rows + 1, rows), lambda x: x.cast("string"))
        ),
    )
    banded = sig.select(F.col(id_col), keys.alias(keys_col)).select(
        F.col(id_col), F.col(keys_col), F.posexplode(keys_col).alias("__band", "__key")
    )
    return sig.select(F.col(id_col), F.array_sort("__hs"), F.size("__hs")), banded


def _band_pairs(banded1: DataFrame, banded2: DataFrame, self_join: bool = False) -> DataFrame:
    """Candidate pairs (id1, id2) of two :func:`_minhash_bands` sides by
    (band, key) equi-join: id1 < id2 for a ``self_join``, else
    ``banded2`` is the small, broadcast side (the two sides then need
    distinct id and ``keys_col`` names).  A pair agreeing in several
    bands joins once per band; keeping only its FIRST agreeing band is an
    in-stage filter that replaces a candidate ``distinct`` and its
    exchange (bench corpus: 1.60M instances -> the same 1.48M pairs).
    posexplode's band index is 0-based, array_position 1-based."""
    if self_join:
        banded1, banded2 = (banded1.toDF(f"id{i}", f"__k{i}", "__band", "__key") for i in (1, 2))
    id1, k1, id2, k2 = banded1.columns[:2] + banded2.columns[:2]
    agree = F.zip_with(k1, k2, lambda a, b: a == b)
    first = F.col("__band") == F.array_position(agree, F.lit(True)) - 1
    return (
        banded1.join(banded2 if self_join else F.broadcast(banded2), ["__band", "__key"])
        .where(((F.col(id1) < F.col(id2)) & first) if self_join else first)
        .select(F.col(id1).alias("id1"), F.col(id2).alias("id2"))
    )


def _jaccard_verify(
    cand: DataFrame, hashes1: DataFrame, hashes2: DataFrame, threshold: float,
    broadcast: bool = False,
) -> DataFrame:
    """Exact Jaccard of candidate pairs (id1, id2) over sorted hash
    arrays -> (id1, id2, jaccard), rounded to 6 and >= ``threshold``.
    Two exact prunes skip the intersect, each with a 1e-6 slack (round
    lifts a boundary value by <= 5e-7): size ratio (jaccard <= min/max
    of the sizes) and PPJoin prefix overlap (a qualifying pair shares
    alpha = ceil((t - 1e-6) * max(n1, n2)) hashes, so the smallest one
    sits in the first n - alpha + 1 of BOTH sorted arrays; bench corpus:
    1.48M candidates, 256 verified)."""
    h2 = hashes2.toDF("id2", "__h2", "__n2")
    verified = cand.join(hashes1.toDF("id1", "__h1", "__n1"), "id1").join(
        F.broadcast(h2) if broadcast else h2, "id2"
    )
    t = F.lit(float(threshold)) - F.lit(1e-6)
    longest = F.greatest("__n1", "__n2").cast("double")
    verified = verified.where(F.least("__n1", "__n2").cast("double") >= t * longest)
    if threshold > 1e-6:
        alpha = F.ceil(t * longest).cast("int")
        p1 = F.greatest(F.col("__n1") - alpha + 1, F.lit(0))
        p2 = F.greatest(F.col("__n2") - alpha + 1, F.lit(0))
        verified = verified.where(F.arrays_overlap(F.slice("__h1", 1, p1), F.slice("__h2", 1, p2)))
    inter = F.size(F.array_intersect("__h1", "__h2")).cast("double")
    union = (F.col("__n1") + F.col("__n2")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _rare_first_prefix(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, threshold: float,
    matches: Callable[[DataFrame, Callable[..., DataFrame]], DataFrame],
    measure: str, ratio: Callable[[Column], Column],
) -> DataFrame:
    """PPJoin pair kernel over distinct shingle sets -> (id1, id2,
    ``measure``) with ``measure = round(ratio(|S1 ∩ S2|), 6) >= threshold``
    over the hash arrays ``__h1``/``__h2``.  ``matches(ranked, pin)`` is
    the operator's prefix join, returning (id1, id2) match instances;
    ``ranked`` = (id, ``__ord``, ``__n``, ``__plen``) orders shingles
    rare-first by (document frequency, hash), so frequent ones sort past
    the pigeonhole prefix ``__plen = n - ceil(t*n) + 1``.

    ``pin`` repartitions to an explicit count when the input under-splits
    (one probe, via :func:`spread_scan`): AQE byte-coalesces these tiny
    exchanges onto a few tasks, starving the compute (sf0.1, 1m floor:
    268 s / 130 s executor time on 10 tasks), and never coalesces a
    user-numbered shuffle.  ``ranked`` (arrays, before any explode) and
    the deduped candidates pin ROUND-ROBIN — keyed by id they would
    collapse into the groupBy's coalescible exchange.  A join on ``__h``
    pins its sides by that key, replacing its own exchange."""
    src = df.select(F.col(id_col), F.col(text_col))
    scan = spread_scan(src, by=id_col)
    undersplit = scan is not src  # spread_scan returns its input when well split
    p = df.sparkSession.sparkContext.defaultParallelism

    def pin(d: DataFrame, *keys: str) -> DataFrame:
        return d.repartition(p, *keys) if undersplit else d

    sh = _shingle_hashes(scan, id_col, text_col, shingle_n, distinct=True, spread=False)
    tok = sh.select(F.col(id_col), F.explode("__hs").alias("__h"))
    dfreq = tok.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        tok.join(dfreq, "__h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("__df", "__h"))).alias("__sorted"))
        .select(F.col(id_col), F.transform("__sorted", lambda s: s["__h"]).alias("__ord"))
        .withColumn("__n", F.size("__ord"))
        .withColumn(
            "__plen",
            F.col("__n") - F.ceil(F.lit(threshold - _CEIL_EPS) * F.col("__n")).cast("int") + 1,
        )
    )
    cand = pin(matches(pin(ranked), pin).select("id1", "id2").distinct())
    inter = F.size(F.array_intersect("__h1", "__h2")).cast("double")
    return (
        cand.join(sh.toDF("id1", "__h1"), "id1")
        .join(sh.toDF("id2", "__h2"), "id2")
        .withColumn(measure, F.round(ratio(inter), 6))
        .where(F.col(measure) >= threshold)
        .select("id1", "id2", measure)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding, exact
    Jaccard verification on the candidates only.

    signature (num_perm min-hashes over `shingle_n`-char shingles) →
    split into `bands` band-keys → equi-join on (band, key), one row per
    id1<id2 pair → verify true shingle-set Jaccard ≥ threshold.

    The only shuffles are the band-key self-join and the final verify
    join; no all-pairs stage exists at any scale.  Returns
    (id1, id2, jaccard).
    """
    hashes, banded = _minhash_bands(df, id_col, text_col, num_perm, bands, shingle_n)
    cand = _band_pairs(banded, banded, self_join=True)
    return _jaccard_verify(cand, hashes, hashes, jaccard_threshold)


def dedup_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_cluster_size: "int | None" = None,
    **lsh_kwargs,
) -> DataFrame:
    """Near-dup dedup: LSH pairs → connected components → keep the
    smallest id of every duplicate cluster (the reference groups match
    pairs with `clique` the same way, code/recipes.py:1989-2062).

    ``max_cluster_size`` guards against banding collapse (e.g. empty /
    boilerplate-identical texts all landing in one band bucket): if any
    duplicate cluster exceeds the cap, raise with the offending cluster
    ids instead of silently anti-joining half the corpus away (the
    er_resolve mega-cluster guard, shared via
    :func:`~backend_spark.operators.graph.check_cluster_cap`)."""
    from backend_spark.operators.graph import check_cluster_cap

    pairs = minhash_lsh_pairs(df, id_col, text_col, **lsh_kwargs)
    cc = connected_components(pairs, src="id1", dst="id2")
    check_cluster_cap(cc, max_cluster_size, "dedup_minhash")
    losers = cc.where(F.col("node") != F.col("comp")).select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    score: Column,
    higher_is_better: bool = True,
    max_cluster_size: "int | None" = None,
) -> DataFrame:
    """Cluster-level representative selection over a duplicate-pair list:
    connected components → keep the argmax-``score`` member of every
    cluster (tie → smallest id).  :func:`dedup_minhash` keeps the
    smallest id — an arbitrary survivor; curation pipelines
    (RefinedWeb/Dolma style) keep the *best* duplicate instead (longest,
    highest quality score, freshest crawl), which this op implements for
    any Column-expressible score.  Docs absent from ``pairs`` are
    singleton clusters and always survive.

    Returns the surviving rows of ``df`` plus a ``cluster`` column (the
    min-id label of the duplicate cluster, = own id for singletons).

    Scale posture: the pair list is ids-only (the expensive text never
    enters the CC loop); component labels converge in O(log n) pointer-
    jumping rounds; survivor choice is one window over ``cluster`` —
    a single keyed shuffle on cluster label, which is bounded by the
    duplicate-cluster count, not the corpus.  ``max_cluster_size``
    fails fast on banding collapse (the er_resolve mega-cluster guard)
    before the survivor window would funnel a corpus-sized cluster
    through one task.
    """
    from backend_spark.operators.graph import check_cluster_cap

    cc = connected_components(pairs, src="id1", dst="id2")
    check_cluster_cap(cc, max_cluster_size, "dedup_keep_best")
    labeled = df.withColumn("__score", score).join(
        cc.select(F.col("node").alias(id_col), F.col("comp").alias("cluster")),
        id_col,
        "left",
    ).withColumn("cluster", F.coalesce(F.col("cluster"), F.col(id_col)))
    order = [
        F.col("__score").desc() if higher_is_better else F.col("__score").asc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy("cluster").orderBy(*order)
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__score")
    )


# tfidf_cosine_pairs: max documents-per-term the fractional df cap may
# admit before the C(df,2) inverted-index fan-out is declared quadratic
# and the plan fails fast (round-13 scale probe: the 0.5 fractional
# default OOMed an 8 GB heap at an 80k-doc corpus; 10^4 docs/term keeps
# the worst single term's pair fan-out under ~5*10^7 candidates).
_TFIDF_QUADRATIC_LIMIT = 10_000

# semdedup: default max_cluster_size (round-15, the round-14 verdict's
# #1 — parity with tfidf_cosine's default-on guard).  In-cluster pair
# work is cluster_size^2 / 2 cosines; 10^4 members caps the worst
# cluster's fan-out at ~5*10^7 pairs — the same per-cell candidate
# budget as _TFIDF_QUADRATIC_LIMIT.  SemDeDup's own production regime
# (K ~ 10-100k clusters for billions of docs) sits far under this;
# only a collapsed assignment or an undersized n_clusters hits it.
_SEMDEDUP_CLUSTER_LIMIT = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """**Exact** n-gram-Jaccard near-duplicate pairs via prefix
    filtering (PPJoin-style) — unlike MinHash banding this misses
    nothing: a pair with Jaccard(distinct shingle sets) >= t must share
    at least one token in the rare-first *prefix* of length
    ``|S| - ceil(t*|S|) + 1``, so blocking on prefix tokens is
    exhaustive while joining on only a small, mostly-rare slice of each
    document's shingles (the frequent shingles that would create hot
    blocking keys sort to the suffix and never enter the join).

    Shuffles: shingle document-frequency groupBy, prefix-token join,
    candidate distinct, verify join — all keyed, no all-pairs stage.
    Returns (id1, id2, jaccard), jaccard rounded to 6.
    """
    def matches(ranked: DataFrame, pin: Callable[..., DataFrame]) -> DataFrame:
        # a SELF-join on __h: both sides pin by that key.  posexplode
        # keeps each prefix token's position for the positional filter
        pref = ranked.select(
            F.col(id_col),
            F.col("__n"),
            F.posexplode(F.slice("__ord", 1, F.col("__plen"))).alias("__i", "__h"),
        )
        left = pin(pref.toDF("id1", "__n1", "__i1", "__h"), "__h")
        right = pin(pref.toDF("id2", "__n2", "__i2", "__h"), "__h")
        # length filter: Jaccard >= t forces t*|y| <= |x|.  Positional
        # filter, per match INSTANCE: Jaccard >= t needs overlap
        # alpha = ceil(t/(1+t) * (n1+n2)); a qualifying pair's globally-
        # smallest shared token sits inside BOTH prefixes (alpha >=
        # ceil(t*n) by the length filter) with every other shared token
        # after it in both arrays, so that instance has
        # 1 + min(n1-1-i1, n2-1-i2) >= alpha and the pair survives.
        n1, n2 = F.col("__n1"), F.col("__n2")
        t = threshold - _CEIL_EPS
        alpha = F.ceil(F.lit(threshold / (1.0 + threshold) - _CEIL_EPS) * (n1 + n2))
        return left.join(right, "__h").where(
            (F.col("id1") < F.col("id2"))
            & (n1 >= F.ceil(F.lit(t) * n2))
            & (n2 >= F.ceil(F.lit(t) * n1))
            & (1 + F.least(n1 - 1 - F.col("__i1"), n2 - 1 - F.col("__i2")) >= alpha)
        )

    return _rare_first_prefix(
        df, id_col, text_col, shingle_n, threshold, matches, "jaccard",
        lambda inter: inter / ((F.size("__h1") + F.size("__h2")).cast("double") - inter),
    )


def embed_cosine_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1, id2, cosine) with
    cosine >= threshold and id1 < id2.

    The default is the scale path: ``n_bands`` independent random-
    hyperplane bucketings of ``n_planes`` bits (md5-seeded, reproducible
    anywhere — DuckDB-oracle-checkable); candidates = pairs sharing a
    bucket in *any* band, verified with true cosine.  Only ids enter the
    band shuffle (vectors re-attach by id for the verify), so cost
    scales with bucket occupancy, never corpus².  Recall < 1 by
    construction and rises with ``n_bands`` (OR-amplification).

    ``n_planes=0`` opts into the **exact** quadratic self cross-join —
    the correctness baseline, for oracle-scale verification only.
    """
    base = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if n_planes <= 0:
        # exact mode: the norm is a PER-ROW quantity — computing it on
        # each side before the cross join does 2N folds instead of 2N²
        # (guide §2.3 compute-before-the-blowup); the dot fold + the
        # norm product below are the identical IEEE expressions
        # cosine_similarity folds, so the result is bit-identical.
        # spread_scan gives the streamed side of the nested-loop join
        # real parallelism on single-row-group inputs (guide §2.5).
        a = spread_scan(
            base.select(
                F.col("__id").alias("id1"),
                F.col("__v").alias("__v1"),
                fn.l2_norm(F.col("__v")).alias("__na"),
            ),
            by="id1",
        )
        b = base.select(
            F.col("__id").alias("id2"),
            F.col("__v").alias("__v2"),
            fn.l2_norm(F.col("__v")).alias("__nb"),
        )
        cand = a.crossJoin(b).where(F.col("id1") < F.col("id2"))
    else:
        # stage the signatures: explode re-evaluates the producing
        # expression per output element, and the per-band bit folds are
        # the expensive part — materialize them once.  (Round-15 note:
        # spreading this scan was measured 2-3× WORSE at sf0.1 — with
        # literal plane coefficients the folds are cheap enough that
        # the extra exchange + downstream plan change dominate.)
        sig = base.select(
            "__id",
            *[
                _hyperplane_bits(F.col("__v"), n_planes, dim, seed=f"band{band}").alias(
                    f"__bk{band}"
                )
                for band in range(n_bands)
            ],
        ).transform(stage, eager=False)
        bucketed = sig.select(
            "__id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band"),
                            F.col(f"__bk{band}").alias("bucket"),
                        )
                        for band in range(n_bands)
                    ]
                )
            ).alias("__b"),
        )
        # ids-only candidate shuffle; vectors re-attach by id below
        ids = (
            bucketed.select(F.col("__id").alias("id1"), "__b")
            .join(bucketed.select(F.col("__id").alias("id2"), "__b"), "__b")
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
        # norms ride the re-attach joins — computed once per row, not
        # per candidate pair (same bit-identical split as exact mode)
        cand = ids.join(
            base.select(
                F.col("__id").alias("id1"),
                F.col("__v").alias("__v1"),
                fn.l2_norm(F.col("__v")).alias("__na"),
            ),
            "id1",
        ).join(
            base.select(
                F.col("__id").alias("id2"),
                F.col("__v").alias("__v2"),
                fn.l2_norm(F.col("__v")).alias("__nb"),
            ),
            "id2",
        )
    return (
        cand.withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    fn.cosine_dot(F.col("__v1"), F.col("__v2")),
                    F.col("__na") * F.col("__nb"),
                ),
                round_to,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.95,
    round_to: int = 6,
    max_cluster_size: "int | None | str" = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup over an embedding
    column — cluster the corpus, then inside each cluster drop every
    vector whose cosine to an already-kept earlier member exceeds
    ``threshold``.  Output: (id, cluster, centroid_sim, max_prior_sim,
    keep) for every input row; a curation pipeline filters ``keep``.

    Deterministic-by-construction so the DuckDB oracle reproduces it
    bit-for-bit (no KMeans randomness):

    * centroids = the ``n_clusters`` corpus vectors with the smallest
      ``md5_long('sem:' || id)`` (hash-ordered reservoir — uniform,
      engine-independent); cluster index = their hash rank.
    * assignment = argmax cosine over the broadcast centroid table
      (rounded to ``round_to`` first; ties → smaller cluster index).
    * the intra-cluster rule is the *prefix* variant: a row is dropped
      when ANY smaller-id cluster member (kept or not) is ≥ threshold.
      True SemDeDup drops vs *kept* members only; the prefix rule is a
      superset-drop (transitively-near chains lose more members), is
      one self-join instead of a sequential scan, and is what a 1000-
      executor run can actually compute — the divergence is documented
      here and in SCALING.md.

    Scale posture: the centroid table is ``n_clusters`` rows
    (broadcast); assignment is a map-side argmax, one shuffle on
    ``(cluster[, band])`` for the self-join.  Intra-cluster candidate
    cost is Σ cluster_size² — at 100 TB you raise ``n_clusters`` so
    clusters stay bounded (SemDeDup's own regime: K ~ 10-100k for
    billions of docs), which also keeps every executor's partition
    independent.  When ``n_clusters`` < cores the pair join is
    band-replicated so parallelism is not capped at ``n_clusters``
    (round-14 ×16 probe: 8 clusters ran 7/32 cores busy before the
    banding; see the inline comment).  The quadratic half fails fast
    BY DEFAULT (round-15, parity with ``tfidf_cosine_pairs``):
    ``max_cluster_size="auto"`` caps every cluster at
    ``_SEMDEDUP_CLUSTER_LIMIT`` members (~5*10^7 pairs, the shared
    per-cell budget).  The cap trips whenever ``n_clusters`` is
    undersized for the corpus — uniform assignments included: with the
    default ``n_clusters=8`` any corpus over ~8*10^4 vectors raises,
    BY DESIGN — size ``n_clusters ≳ corpus_size / 1e4`` (SemDeDup's
    own regime) and the same data sails through with bounded work.
    A collapsed assignment (one centroid soaking the corpus) raises at
    any ``n_clusters``.  The guard is the shared ``check_cluster_cap``
    ids-only aggregate and runs AT PLAN-CONSTRUCTION TIME (one small
    Spark job, like ``dedup_minhash``/``er_resolve``'s guards; its
    lineage cut is reused by the pair join, so an executed query pays
    nothing extra).  Pass an explicit int to retune, or
    ``max_cluster_size=None`` to opt into unbounded quadratic work
    (small-corpus exactness runs) and a fully lazy plan.
    """
    base = corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    hk = fn.md5_long(F.concat(F.lit("sem:"), F.col("__id").cast("string")))
    # top-K by hash via orderBy().limit() = TakeOrderedAndProject (each
    # partition ships only its local top-K — no global sort); the
    # row_number window then runs over the K-row result, not the corpus
    cent = (
        base.withColumn("__hk", hk)
        .orderBy(F.col("__hk").asc(), F.col("__id").asc())
        .limit(n_clusters)
        .withColumn(
            "cluster",
            F.row_number().over(Window.orderBy(F.col("__hk").asc(), F.col("__id").asc())) - 1,
        )
        .select("cluster", F.col("__v").alias("__cent"))
    )
    sims = base.join(F.broadcast(cent)).withColumn(
        "__s", F.round(fn.cosine_similarity(F.col("__v"), F.col("__cent")), round_to)
    )
    w = Window.partitionBy("__id").orderBy(F.col("__s").desc(), F.col("cluster").asc())
    assigned = (
        sims.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("__id", "__v", "cluster", F.col("__s").alias("centroid_sim"))
    )
    if isinstance(max_cluster_size, str):
        if max_cluster_size != "auto":
            raise ValueError(
                f"max_cluster_size={max_cluster_size!r} unrecognized: pass "
                '"auto" (default cap), an int, or None (unbounded quadratic '
                "opt-out)"
            )
        max_cluster_size = _SEMDEDUP_CLUSTER_LIMIT
    if max_cluster_size is not None:
        # default-on fail-fast on the quadratic half (round-15; parity
        # with tfidf_cosine's df guard): in-cluster pair work is
        # Σ cluster_size², so a collapsed assignment (one centroid
        # soaking the corpus) should die with the offending cluster ids
        # before the pair join, not run for days inside it.  One
        # ids-only aggregate; reuses the shared engine guard.
        from backend_spark.operators.graph import check_cluster_cap

        assigned = assigned.transform(stage, eager=False)  # cap read + join share the cut
        check_cluster_cap(
            assigned, max_cluster_size, "semdedup",
            node_col="__id", comp_col="cluster",
            remedy=(
                "raise n_clusters so clusters stay under the cap "
                "(SemDeDup's own regime: K ~ corpus_size / 1e4), raise "
                "max_cluster_size, or pass max_cluster_size=None to opt "
                "into unbounded quadratic work"
            ),
        )
    a = assigned.select(
        F.col("__id"), F.col("cluster"), F.col("centroid_sim"), F.col("__v")
    )
    b = assigned.select(
        F.col("__id").alias("__jd"), F.col("cluster"), F.col("__v").alias("__vj")
    )
    # Band-replicated pair join (round-14 scale-probe finding): the
    # natural join key is `cluster`, so a shuffle join runs on at most
    # n_clusters reducers — with the small-n_clusters defaults a 32-core
    # box sat ~7/32 busy on the quadratic in-cluster work (measured at
    # the ×16 probe, 64k vectors / 8 clusters).  Replicating the
    # aggregate side into B deterministic bands of the probe side's id
    # hash spreads each cluster over B reducers; every (i, j) pair still
    # meets exactly once — in j's band — so results are unchanged and
    # the per-id max aggregates across bands.  B collapses to 1 when
    # n_clusters already covers the cores (the 100 TB regime: SemDeDup
    # K ~ 10-100k).  The 4× oversubscription matters: with cells ≈
    # shuffle partitions, key-hash collisions make some partitions
    # carry 2-3 cells of quadratic work — measured as a 2-task
    # straggler tail holding 30 cores idle for most of the ×16 probe's
    # join stage; 4× more cells than cores smooths both the collisions
    # and the uneven cluster sizes.
    # Replication bound (round-15, the round-14 advice): the a-side —
    # full embedding column included — is exploded n_bands-fold before
    # the shuffle, so an uncapped 4*cores/K on a big cluster (512 cores,
    # default K=8 -> 256 bands) amplifies shuffle volume 256x.  Scale
    # from min(cores, shuffle partitions) — more cells than shuffle
    # partitions buys nothing — and hard-cap the explosion at 64x; past
    # that the right lever is raising n_clusters, not finer banding.
    spark = corpus.sparkSession
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_parts = spark.sparkContext.defaultParallelism
    par = min(spark.sparkContext.defaultParallelism, shuffle_parts)
    n_bands = max(1, min(4 * par // max(n_clusters, 1), 64))
    if n_bands > 1:
        a = a.withColumn(
            "__band", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1)))
        )
        b = b.withColumn("__band", F.pmod(F.hash(F.col("__jd")), F.lit(n_bands)))
        pair_keys = ["cluster", "__band"]
    else:
        pair_keys = ["cluster"]
    prior = (
        a.join(b, pair_keys)
        .where(F.col("__jd") < F.col("__id"))
        .withColumn("__ps", F.round(fn.cosine_similarity(F.col("__v"), F.col("__vj")), round_to))
        .groupBy("__id")
        .agg(F.max("__ps").alias("max_prior_sim"))
    )
    return (
        assigned.join(prior, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            "centroid_sim",
            "max_prior_sim",
            (F.coalesce(F.col("max_prior_sim") >= threshold, F.lit(False)) == False).alias(
                "keep"
            ),
        )
    )


def crosscorpus_neardup(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_id: str,
    corpus_text: str,
    bench_id: str,
    bench_text: str,
    num_perm: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy contamination pairs between a training corpus and a
    benchmark set: MinHash+LSH banding across the two corpora, exact
    shingle-Jaccard verify — the near-dup companion to the exact-ngram
    :func:`decontaminate` (Brown et al. GPT-3 App. C use 13-gram overlap;
    MinHash catches the paraphrased/whitespace-mangled leaks exact
    n-grams miss).  Returns (corpus_id, bench_id, jaccard).

    Scale posture: the benchmark side is small by definition (eval sets,
    ~1e4-1e6 rows) — its banded keys are **broadcast**, so the corpus is
    scanned once with a map-side join and only candidate ids enter the
    verify shuffle.  The corpus is never self-joined.
    """
    # bench: small by contract, so broadcast and never spread
    chashes, cbanded = _minhash_bands(
        corpus, corpus_id, corpus_text, num_perm, bands, shingle_n, keys_col="__k1"
    )
    bhashes, bbanded = _minhash_bands(
        bench, bench_id, bench_text, num_perm, bands, shingle_n, spread=False, keys_col="__k2"
    )
    cand = _band_pairs(cbanded, bbanded)
    return _jaccard_verify(
        cand, chashes, bhashes, jaccard_threshold, broadcast=True
    ).toDF(corpus_id, bench_id, "jaccard")


def decontaminate_fuzzy(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_id: str,
    corpus_text: str,
    bench_id: str,
    bench_text: str,
    **lsh_kwargs,
) -> DataFrame:
    """Drop corpus docs that fuzzy-match any benchmark doc (see
    :func:`crosscorpus_neardup`); the anti-join keys on corpus id only,
    so corpus rows are never duplicated by multiple benchmark hits."""
    hits = crosscorpus_neardup(
        corpus, bench, corpus_id, corpus_text, bench_id, bench_text, **lsh_kwargs
    ).select(corpus_id).distinct()
    return corpus.join(hits, corpus_id, "left_anti")


def simhash_buckets(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """(id, simhash) — exact-match buckets are near-dup candidates;
    hamming-≤k search is a band-join over bit slices of this value.

    The bit votes run as ``explode(token hashes)`` → hash-aggregate with
    one conditional ``sum`` per bit: flat whole-stage-codegen rows beat
    ``bits`` interpreted array traversals 3× (measured 1.6s → 0.55s at
    sf0.1).  The aggregation partially combines map-side, so the shuffle
    carries ~one 60-long state per (doc, partition) — bytes per *doc*,
    not per token, which is what keeps it cheap at 100 TB.  Bit masks
    are python-int literals (``h & (1<<i) != 0`` — md5_long is nonneg).
    """
    staged = (
        spread_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col), fn.normalize(F.col(text_col)).alias("__n"))
        .withColumn("__toks", fn.tokenize(F.col("__n")))
        .withColumn("__hs", F.transform(F.col("__toks"), lambda t: fn.md5_long(t)))
        # barrier before explode: a computed array re-evaluates per
        # output element otherwise
        .select(F.col(id_col), F.col("__hs"))
        .transform(stage, eager=False)
    )
    # explode_outer: a zero-token doc keeps one null-hash row, whose
    # votes are all -1 -> packed simhash 0, same as the old array path
    ex = staged.select(F.col(id_col), F.explode_outer("__hs").alias("__h"))
    sums = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(*sums)
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed.bitwiseOR(
            F.when(F.col(f"__v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select(id_col, packed.alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    max_hamming: int = 8,
) -> DataFrame:
    """**Exact** hamming-distance near-duplicate join over SimHash by
    pigeonhole banding: split the ``bits``-bit signature into
    ``max_hamming + 1`` disjoint bit slices — a pair within hamming
    distance ``max_hamming`` differs in at most ``max_hamming`` slices,
    so it must agree exactly on at least one slice.  The slice
    equi-join is therefore an exhaustive candidate generator (unlike
    MinHash banding, zero recall loss), and the shuffle keys on
    (slice_idx, slice_value) — never all-pairs.

    Verification is one codegen'd ``bit_count(xor)`` per candidate.
    Returns (id1, id2, hamming).
    """
    sig = simhash_buckets(df, id_col, text_col, bits=bits)
    sig = sig.transform(stage, eager=False)  # banding + both verify sides
    n_slices = max_hamming + 1
    width = -(-bits // n_slices)  # ceil; trailing zero bits pad the last slice
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(i).alias("slice"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for i in range(n_slices)
        ]
    )
    banded = sig.select(F.col(id_col), F.col("simhash"), F.explode(slices).alias("__s"))
    # Round-robin rebalance AFTER the explode (round-13 scale probe):
    # AQE sizes the signature aggregate's partitions by its tiny byte
    # count (a handful of partitions at mid-scale), the explode and the
    # quadratic probe of the band join inherit them, and when Catalyst
    # picks a broadcast join for the banded table there is no later
    # exchange to restore parallelism — measured 29.9 s -> 9.9 s at the
    # 80k-doc probe point (SCALING.md / BENCH_NOTES.md figures; most
    # cores idle otherwise).  Rows are
    # ids+hash only, so this linear shuffle is noise next to the probe.
    banded = banded.repartition(df.sparkSession.sparkContext.defaultParallelism)
    left = banded.select(
        F.col(id_col).alias("id1"), F.col("simhash").alias("__h1"), "__s"
    )
    right = banded.select(
        F.col(id_col).alias("id2"), F.col("simhash").alias("__h2"), "__s"
    )
    # a pair agreeing on several slices comes out of the join once per
    # slice; keep only the row whose join slice is the pair's FIRST
    # agreeing slice — a pure codegen predicate on xor, so no distinct
    # shuffle is needed to dedup candidates
    xor = F.col("__h1").bitwiseXOR(F.col("__h2"))
    first_agree = F.when(
        xor.bitwiseAND(F.lit(mask)) == 0, F.lit(0)
    )
    for i in range(1, n_slices):
        first_agree = first_agree.when(
            F.shiftrightunsigned(xor, i * width).bitwiseAND(F.lit(mask)) == 0, F.lit(i)
        )
    cand = (
        left.join(right, "__s")
        .where((F.col("id1") < F.col("id2")) & (F.col("__s.slice") == first_agree))
        .select("id1", "__h1", "id2", "__h2")
    )
    ham = F.bit_count(F.col("__h1").bitwiseXOR(F.col("__h2"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# ---------------------------------------------------------------------------
# similarity search (ANN over array<float> embeddings)
# ---------------------------------------------------------------------------


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast the (small) query set
    against the corpus — one pass over the corpus, no shuffle of the
    corpus, Window top-k per query.  The correctness baseline for the
    LSH variant below.  Returns (query_id, neighbor_id, cosine)."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(fn.cosine_similarity(F.col("__qv"), F.col("__cv")), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def _hyperplane_bits(vec: Column, n_planes: int, dim: int, seed: str = "plane") -> Column:
    """Deterministic random-hyperplane signature: plane p component j =
    md5-derived value in [-1, 1] (seeded by (seed, p, j) only — no RNG
    state, reproducible anywhere).  Returns an int bucket id from sign
    bits."""
    # The plane coefficients depend only on (seed, p, j) — constants —
    # yet the old expression recomputed them per ROW: n_planes × dim
    # md5_long folds each time (4096 md5s/row for embed_cosine_pairs'
    # 4-band default).  Precompute them ONCE on the driver with an
    # exact md5_long replica (first 15 md5 hex digits → non-negative
    # int, so Python % == Spark %) and embed literal arrays; the
    # zip_with fold below is unchanged, so every dot — and every sign
    # bit — is bit-identical (guide §2.3 hoist loop-invariant compute).
    def _coeff(p: int, j: int) -> float:
        h = int(hashlib.md5(f"{seed}_{p}_{j}".encode()).hexdigest()[:15], 16)
        return float(h % 20001 - 10000) / 10000.0

    def plane_dot(p):
        return F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(_coeff(p, j)) for j in range(dim)]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # bucket id = Σ bit_p · 2^p, folded as acc*2 + bit (F.shiftleft only
    # accepts a literal shift count, not a per-plane Column)
    return F.aggregate(
        F.array(
            *[
                F.when(plane_dot(p) > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
                for p in range(n_planes)
            ]
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + x,
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Scale path: random-hyperplane LSH bucketing, cosine only within
    the query's bucket — the corpus-side shuffle keys on the bucket id,
    so cost scales with bucket occupancy, not corpus size.  Recall<1 by
    construction (documented); raise n_planes for smaller buckets or
    union multiple plane-sets for higher recall."""
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _hyperplane_bits(F.col(vec_col), n_planes, dim).alias("__bucket"),
    )
    qb = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            _hyperplane_bits(F.col(vec_col), n_planes, dim).alias("__bucket"),
        )
    )
    scored = (
        qb.join(cb, "__bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(fn.cosine_similarity(F.col("__qv"), F.col("__cv")), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def _ivf_fit(corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int, seed: int):
    """KMeans cell assignment + centroid table for the IVF index."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__mlv", array_to_vector(F.col("__cv")))
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__mlv", predictionCol="__cell"
    ).fit(cb)
    assigned = model.transform(cb).select("neighbor_id", "__cv", "__cell")
    cents = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cent_df = spark.createDataFrame(cents, "__cell int, __cent array<double>")
    return assigned, cent_df


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    seed: int = 42,
) -> None:
    """Persist an IVF index: the cell-assigned corpus as parquet
    **partitioned by cell** plus the centroid table.  Build once, then
    every :func:`ann_topk_ivf` call with ``index_path`` skips the KMeans
    fit AND scans only the probed cells — the broadcast cell join against
    a cell-partitioned table triggers dynamic partition pruning, so an
    ``n_probe/n_centroids`` search reads that fraction of the bytes,
    which is the property that makes IVF pay off at 100 TB.
    """
    assigned, cent_df = _ivf_fit(corpus, id_col, vec_col, n_centroids, seed)
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(f"{path}/cells")
    cent_df.write.mode("overwrite").parquet(f"{path}/centroids")


def ann_topk_ivf(
    corpus: DataFrame | None,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    round_to: int = 6,
    index_path: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into
    ``n_centroids`` cells once (index build), then search only the
    ``n_probe`` cells nearest each query — cost scales with
    ``n_probe/n_centroids`` of the corpus instead of all of it, and the
    corpus-side shuffle keys on the cell id.  ``n_probe = n_centroids``
    degrades gracefully to exhaustive (exact) search — the correctness
    gate runs it that way; production sets ``n_probe << n_centroids``.

    Centroids are collected to the driver (``n_centroids`` × dim
    doubles — KB-scale by construction) and broadcast back as a literal
    table; the corpus itself never leaves executors.  With
    ``index_path`` (see :func:`build_ivf_index`) the fit is skipped and
    cells/centroids load from the persisted, cell-partitioned index.
    """
    if index_path is not None:
        spark = queries.sparkSession
        assigned = spark.read.parquet(f"{index_path}/cells")
        cent_df = spark.read.parquet(f"{index_path}/centroids")
    else:
        assigned, cent_df = _ivf_fit(corpus, id_col, vec_col, n_centroids, seed)

    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("__qd").desc(), F.col("__cell").asc()
    )
    probes = (
        qb.crossJoin(F.broadcast(cent_df))
        .withColumn("__qd", fn.cosine_similarity(F.col("__qv"), F.col("__cent")))
        .withColumn("__pr", F.row_number().over(probe_w))
        .where(F.col("__pr") <= n_probe)
        .select("query_id", "__qv", "__cell")
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", F.round(fn.cosine_similarity(F.col("__qv"), F.col("__cv")), round_to)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "les", "des", "que"],
}


def text_stats(df: DataFrame, text_col: str, lang: str = "en") -> list[Column]:
    """Quality-scoring feature columns (token count, mean token length,
    stopword ratio, punctuation ratio) — all codegen'd Column exprs."""
    toks = fn.tokenize(F.col(text_col))
    n = F.size(toks)
    safe_n = F.greatest(n.cast("double"), F.lit(1.0))
    mean_len = F.round(
        F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t).cast("double")) / safe_n, 6
    )
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double") / safe_n, 6
    )
    punct_ratio = F.round(
        F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]")).cast("double")
        / F.greatest(F.length(text_col).cast("double"), F.lit(1.0)),
        6,
    )
    return [
        n.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
    ]


def language_id_from_tokens(toks: Column, langs: tuple[str, ...] = ("en", "es", "de", "fr")) -> Column:
    """Stopword-vote language id over a pre-tokenized array: count
    stopword hits per language, argmax (first language wins ties,
    deterministic).  Pass a *materialized* token column — the votes
    reference it len(langs) times and inlined expressions re-evaluate
    per reference."""

    def _in(stop_arr):
        return lambda t: F.array_contains(stop_arr, t)

    counts = [
        F.size(F.filter(toks, _in(F.array(*[F.lit(w) for w in STOPWORDS[lang]]))))
        for lang in langs
    ]
    best = F.greatest(*counts) if len(counts) > 1 else counts[0]
    out = F.lit("und")
    for lang, cnt in reversed(list(zip(langs, counts))):
        out = F.when(cnt == best, F.lit(lang)).otherwise(out)
    return F.when(best <= 0, F.lit("und")).otherwise(out)


def language_id(text: Column, langs: tuple[str, ...] = ("en", "es", "de", "fr")) -> Column:
    """As above from raw text.  Prefer staging
    ``tokenize(normalize(text))`` as a column and calling
    ``language_id_from_tokens`` (see that docstring)."""
    return language_id_from_tokens(fn.tokenize(fn.normalize(text)), langs)


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: words + standalone punctuation (the usual
    pre-tokenizer regex)."""
    return F.regexp_count(text, F.lit(r"\w+|[^\w\s]"))


# (name, pattern, redaction token) — patterns restricted to syntax shared
# by Java regex (Spark) and RE2 (DuckDB) so the oracle reproduces them
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
]


def pii_scan(df: DataFrame, id_col: str, text_col: str, redact: bool = True) -> DataFrame:
    """Regex PII detection + redaction for training-data hygiene: per-doc
    match counts for each :data:`PII_PATTERNS` kind plus an optionally
    redacted text column.

    Counts come from the *original* text; redaction applies the patterns
    in declaration order (SSN before the more general phone shape).  All
    work is ``regexp_count``/``regexp_replace`` Column expressions —
    whole-stage codegen, no shuffle, scales with the scan.
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    total = None
    for c in counts:
        total = c if total is None else total + c
    cols = [F.col(id_col), *counts, total.alias("pii_total")]
    if redact:
        red = F.col(text_col)
        for _, pat, tok in PII_PATTERNS:
            red = F.regexp_replace(red, pat, tok)
        cols.append(red.alias("text_redacted"))
    # eight regex passes per doc dominate; spread a 1-row-group input
    # (projected to the two referenced columns so the exchange carries
    # nothing else — guide §2.3 "project before the exchange")
    return spread_scan(df.select(id_col, text_col), by=id_col).select(*cols)


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-grams over a pre-staged token array as space-joined strings
    (the unit of LLM benchmark decontamination).  Pass a *materialized*
    token column — the expression references ``toks`` several times and
    inlined HOF lambdas re-evaluate per reference."""
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def word_ngrams(text: Column, n: int) -> Column:
    """As above from raw text (normalize → tokenize → n-grams).  Prefer
    staging the token array and calling :func:`word_ngrams_from_tokens`
    when the caller reuses the tokens."""
    return word_ngrams_from_tokens(fn.tokenize(fn.normalize(text)), n)


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame,
    bench_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word
    ``n``-gram with a benchmark/eval set (the GPT-3/PaLM training-data
    protocol; 13-grams is the published default).

    Scale shape: the benchmark side is tiny by construction (an eval
    set), so its distinct gram hashes are **broadcast**; the corpus side
    explodes to distinct (id, gram-hash) pairs and the hits aggregate
    back per id — one keyed shuffle on the corpus, no all-pairs stage.
    Returns (id, n_contaminated_ngrams, contaminated).
    """
    # two barriers per side: one after tokenize (the gram-builder lambda
    # references the token array per element), one after the gram array
    # (explode re-evaluates a computed array per output element)
    def _grams(src: DataFrame, text: str, extra: list[str], spread: bool = False) -> DataFrame:
        if spread:  # corpus side only — the benchmark side is tiny
            src = spread_scan(src.select(*extra, text), by=extra[0] if extra else None)
        toks = src.select(
            *extra, fn.tokenize(fn.normalize(F.col(text))).alias("__toks")
        ).transform(stage, eager=False)
        return toks.select(
            *extra, word_ngrams_from_tokens(F.col("__toks"), n).alias("__gs")
        ).transform(stage, eager=False)

    bench_grams = (
        _grams(benchmark, bench_text_col, [])
        .select(F.explode("__gs").alias("__g"))
        .select(fn.md5_long(F.col("__g")).alias("__h"))
        .distinct()
    )
    doc_grams = (
        _grams(df, text_col, [id_col], spread=True)
        .select(F.col(id_col), F.explode_outer("__gs").alias("__g"))
        .select(id_col, fn.md5_long(F.col("__g")).alias("__h"))
    )
    # dedup AFTER the broadcast semi-join: the map-side join filters the
    # corpus grams down to contaminated ones (a tiny fraction), so the
    # countDistinct shuffle carries only hits — deduping before the join
    # would shuffle every (id, gram) pair of the whole corpus instead
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__h", "inner")
        .groupBy(id_col)
        .agg(F.count_distinct("__h").alias("n_contaminated_ngrams"))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)).alias("n_contaminated_ngrams"),
            (F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str, ngram_n: int = 2) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    duplicate-word fraction, duplicate n-gram fraction, and the fraction
    of all n-gram occurrences taken by the single most frequent n-gram.

    The word-level fractions are pure Column math (array_distinct).  The
    modal n-gram needs a per-(doc, gram) count: explode → two keyed
    aggregations partitioned by id — map-side combinable, no wide rows,
    scales with corpus size not vocabulary.
    """
    # barrier after tokens, and again after grams: both arrays are
    # referenced by multiple downstream expressions (array_distinct +
    # size + explode) and inlined HOF lambdas re-evaluate per reference
    toks = (
        spread_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(
            F.col(id_col),
            fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks"),
        )
        .transform(stage, eager=False)
    )
    base = toks.withColumn(
        "__grams", word_ngrams_from_tokens(F.col("__toks"), ngram_n)
    ).transform(stage, eager=False)
    def _dup_frac(col: str) -> Column:
        # 0.0 for an empty array (no occurrences -> nothing duplicated);
        # col is materialized above so the repeated references are cheap
        return F.when(F.size(col) <= 0, F.lit(0.0)).otherwise(
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(col)).cast("double")
                / F.size(col).cast("double"),
                6,
            )
        )

    word_side = base.select(
        F.col(id_col),
        F.size("__toks").alias("n_words"),
        _dup_frac("__toks").alias("dup_word_frac"),
        _dup_frac("__grams").alias("dup_ngram_frac"),
    )
    per_gram = (
        base.select(F.col(id_col), F.explode_outer("__grams").alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count("__g").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__tot"))
        .select(
            F.col(id_col),
            F.round(
                # guard, not try_divide: an empty doc groups as one
                # null-gram row with count 0, so __tot can be 0
                F.when(
                    F.col("__tot") > 0,
                    F.col("__top").cast("double") / F.col("__tot").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_ngram_frac"),
        )
    )
    return word_side.join(per_gram, id_col, "left").select(
        id_col,
        "n_words",
        "dup_word_frac",
        "dup_ngram_frac",
        F.coalesce(F.col("top_ngram_frac"), F.lit(0.0)).alias("top_ngram_frac"),
    )


def build_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary — (token, tf, df) with term frequency and
    document frequency, the first artifact of tokenizer training and
    frequency-based filtering.  Optional ``top_k`` ranks by term
    frequency with a deterministic (tf desc, token asc) tie-break.

    One explode + one hash aggregate (map-side combined).  The optional
    global top-k is staged: a distributed TakeOrderedAndProject
    (``orderBy().limit(k)``) cuts the vocabulary — which at crawl scale
    is 1e8+ distinct tokens post-``min_df``, NOT tiny — down to the k
    survivors, and only those k rows pass through the single-partition
    rank window (same pattern as :func:`zipf_fit` and
    ``scale.skew_report``).
    """
    toks = df.select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks")
    ).transform(stage, eager=False)
    vocab = (
        toks.select(F.col(id_col), F.explode("__toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct(id_col).alias("df"))
        .where(F.col("df") >= min_df)
    )
    if top_k is not None:
        top = vocab.orderBy(F.col("tf").desc(), F.col("token").asc()).limit(top_k)
        w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
        vocab = top.withColumn("rank", F.row_number().over(w))
    return vocab


def bpe_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
    top_k: int | None = None,
) -> DataFrame:
    """One iteration of byte-pair-encoding tokenizer training (Sennrich
    et al. 2016 §3.2): adjacent character-pair frequencies weighted by
    word frequency — the argmax pair is the next merge rule.

    Corpus-side cost is a single tokenize + explode + hash aggregate
    (word frequencies, map-side combined).  The pair-extraction stage
    then runs over the *distinct-word vocabulary only* — at 100 TB the
    vocabulary is millions of rows where the corpus is trillions, so the
    per-character work never touches corpus-sized data.  The quadratic
    explode re-evaluation (per-element transform recompute) is bounded
    by word length, not doc length.
    """
    words = (
        df.select(F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .where(F.length("word") >= 2)
    )
    pairs = words.select(
        "wf",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
    )
    out = (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    if top_k is not None:
        w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
        out = out.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= top_k)
    return out


def percentile_filter(
    df: DataFrame,
    score_col: str,
    group_col: str,
    q: float = 0.5,
) -> DataFrame:
    """Keep rows whose ``score_col`` is at or above the per-group exact
    q-quantile — per-language quality floors, per-source length floors,
    and similar corpus-relative thresholds (the reference filters on
    absolute thresholds only; this is the corpus-calibrated variant a
    100 TB pipeline needs because absolute cutoffs drift per language).

    Thresholds are one hash aggregate producing |groups| rows, broadcast
    back onto the scan — the corpus itself is never shuffled.  Exact
    (interpolated) percentile, not approx: group cardinality is tiny, and
    exactness is what makes the filter reproducible run-to-run.
    """
    thr = df.groupBy(group_col).agg(
        F.percentile(F.col(score_col), F.lit(q)).alias("__thr")
    )
    return (
        df.join(F.broadcast(thr), group_col, "inner")
        .where(F.col(score_col) >= F.col("__thr"))
        .drop("__thr")
    )


def char_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 4,
) -> DataFrame:
    """Per-document Shannon entropy of the normalized character
    distribution — a cheap gibberish/boilerplate signal (random byte
    soup scores high, single-char runs score near zero; natural text
    sits in a narrow band).

    Identity ``H = ln(n) - (Σ c·ln c) / n`` turns the whole computation
    into one explode + two keyed aggregates (char histogram, then per-doc
    moments), both map-side combined — no per-doc probability arrays,
    no second pass over the text.

    The float moment Σ c·ln c is folded over the per-doc histogram in
    fixed ``ch`` order (the normalized alphabet is ≤ ~40 symbols, so the
    collected array is tiny).  Rationale: ``F.sum`` over doubles is
    partition-order dependent, so a value sitting exactly on a
    ``round(·, ndigits)`` boundary *could* flip with parallelism; the
    fixed-order fold plus DuckDB's ``ORDER BY`` aggregate modifier in
    the oracle makes both engines compute the same left fold
    bit-identically at any partition count.  (Historical note: the
    round-4 driver red on this query was NOT float ordering — it was
    the oracle's uncast ``sum()`` widening to HUGEINT, fixed by a
    ``CAST ... AS BIGINT``.  The fold is kept on its own merits:
    measured ~0.2 s over plain ``F.sum`` at sf0.1, a fair price for a
    hash-stable float column.)
    """
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(fn.normalize(F.col(text_col)), "")).alias("ch"),
    )
    hist = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    h = F.array_sort(F.collect_list(F.struct("ch", "c")))
    return (
        hist.groupBy(id_col)
        .agg(h.alias("__h"))
        .select(
            F.col(id_col),
            F.aggregate(
                "__h", F.lit(0).cast("long"), lambda a, x: a + x["c"]
            ).alias("__n"),
            F.aggregate(
                "__h",
                F.lit(0.0),
                lambda a, x: a + x["c"].cast("double") * F.log(x["c"].cast("double")),
            ).alias("__s"),
        )
        .select(
            F.col(id_col),
            F.col("__n").alias("n_chars_norm"),
            F.round(F.log("__n") - F.col("__s") / F.col("__n"), ndigits).alias("entropy"),
        )
    )


# char classes for script_mix: ranges are written as LITERAL characters
# (not \u escape syntax) so the identical pattern string is valid and
# means the same thing in Java regex (Spark) and RE2 (DuckDB oracle) —
# the two engines' escape dialects differ, their literal-range
# semantics don't.
_SCRIPT_CLASSES: "list[tuple[str, str]]" = [
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \t\n\r]"),
    # ASCII punctuation !-/ :-@ [-` {-~ ([, ] escaped inside the class)
    ("punct", "[!-/:-@\\[-`{-~]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("cjk", "[一-鿿]"),
    ("arabic", "[؀-ۿ]"),
]


def script_mix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document character-class composition — the fractions of
    Latin letters, digits, whitespace, ASCII punctuation, Cyrillic,
    CJK and Arabic characters, plus the unclassified remainder.  The
    standard multilingual-corpus curation signal: route documents to
    per-script pipelines, catch mojibake/markup blobs (high ``other``
    or ``punct``), and cross-check the n-gram language-ID verdict
    (a "de" document that is 40% CJK is mislabeled).

    Counting is ``length(text) - length(regexp_replace(text, class,
    ''))`` per class — pure Column expressions in ONE codegen'd
    projection over the scan: no explode, no shuffle, no UDF; 100 TB
    cost is a single pass over the text bytes.  Fractions are
    ``round(count / n_chars, ndigits)``; empty/NULL text yields
    n_chars=0 with all fractions 0.0.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(t)
    counts = {
        name: n - F.length(F.regexp_replace(t, pat, ""))
        for name, pat in _SCRIPT_CLASSES
    }
    classified = None
    for c in counts.values():
        classified = c if classified is None else classified + c
    frac = lambda c: F.when(n == 0, F.lit(0.0)).otherwise(  # noqa: E731
        F.round(c.cast("double") / n, ndigits)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_chars"),
        *[frac(counts[name]).alias(f"{name}_frac") for name, _ in _SCRIPT_CLASSES],
        frac(n - classified).alias("other_frac"),
    )


def collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
) -> DataFrame:
    """Collocation extraction: adjacent word bigrams scored by pointwise
    mutual information ``ln(p(w1,w2) / (p(w1) p(w2)))`` (Church & Hanks
    1990) — multi-word-expression mining for tokenizer vocabularies and
    corpus analysis.

    Two corpus aggregates (unigrams, bigrams — both map-side combined
    over materialized token arrays), totals in-plan, then two joins on
    the term (AQE broadcasts the unigram vocabulary).  No ranking, so
    cross-engine ``ln`` drift can't reorder anything; PMI is rounded.
    """
    toks = df.select(
        fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks")
    ).transform(stage, eager=False)
    uni = toks.select(F.explode("__toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cw")
    )
    n_uni = uni.agg(F.sum("cw").alias("__nu"))
    bi = (
        toks.select(F.explode(word_ngrams_from_tokens(F.col("__toks"), 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    n_bi = bi.agg(F.sum("cab").alias("__nb"))
    w1 = F.split(F.col("pair"), " ").getItem(0)
    w2 = F.split(F.col("pair"), " ").getItem(1)
    out = (
        bi.where(F.col("cab") >= min_count)
        .withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2")), "w2")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_bi))
    )
    pmi = F.round(
        F.log(
            (F.col("cab") / F.col("__nb"))
            / ((F.col("c1") / F.col("__nu")) * (F.col("c2") / F.col("__nu")))
        ),
        4,
    )
    return out.select("pair", "cab", "c1", "c2", pmi.alias("pmi"))


def dedup_incremental(
    df: DataFrame,
    store: DataFrame,
    text_col: str,
    sig_col: str = "sig",
) -> DataFrame:
    """Cross-snapshot deduplication: drop rows whose normalized-content
    signature already exists in ``store`` (the signature table persisted
    from previous ingests) — the incremental counterpart of
    ``dedup_exact`` for snapshot-over-snapshot corpus builds, where
    re-deduplicating the full history every run is the scale-killer.

    Signatures are ``md5_long`` so the store is engine-portable and the
    oracle can reproduce it.  One left-anti hash join on the signature;
    at 100 TB keep the store parquet bucketed on ``sig`` (see
    ``scale.write_bucketed``) so only the new batch shuffles.  Returns
    the surviving rows with their ``sig`` attached — union it into the
    store for the next snapshot.
    """
    sigs = df.withColumn(sig_col, fn.md5_long(fn.normalize(F.col(text_col))))
    return sigs.join(store.select(sig_col).distinct(), sig_col, "left_anti")


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 4,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the perplexity-style quality signal CCNet
    (Wenzek et al. 2020 §4.3) filters on: gibberish and boilerplate
    score far from the corpus mode.

    Shuffle budget: one token aggregate (map-side combined) for the
    unigram counts, a token->probability join (AQE broadcasts the
    vocabulary when it fits), one per-doc aggregate.  The corpus total
    is computed in-plan and broadcast — nothing collects.  Output
    rounded so cross-engine ``ln`` summation drift cannot surface.
    """
    toks = df.select(
        F.col(id_col), F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("__total"))
    lp = (
        toks.join(vocab, "term")
        .join(F.broadcast(total))
        .withColumn("__lp", F.log(F.col("tf") / F.col("__total")))
    )
    return lp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("__lp"), ndigits).alias("avg_logprob"),
    )


def tfidf_topk_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_df: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (``tf * ln(N / df)``) — keyword extraction / topic tagging for
    corpus curation.

    Shuffle budget: term-frequency aggregate (corpus-sized, map-side
    combined), document-frequency aggregate over the reduced (doc,term)
    pairs, a join on ``term`` (AQE broadcasts the vocabulary side when
    it fits), and one per-doc window.  The corpus count N is computed
    in-plan and broadcast-cross-joined — nothing collects to the
    driver.  Ranking uses the score rounded to 4 digits with a term
    tie-break, so it is reproducible cross-engine (last-ulp ``ln``
    differences cannot reorder).
    """
    tf = (
        df.select(F.col(id_col), F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") >= min_df
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 4),
        )
        .drop("__n")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 32,
    min_tokens: int = 1,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    retrieval/embedding chunking step (RAG indexing, long-doc embedding
    where the encoder has a context cap): window ``i`` covers tokens
    ``[i*(chunk_tokens-overlap), ...)`` of the whitespace tokenization,
    every token belongs to >= 1 chunk, consecutive chunks share
    ``overlap`` tokens so no sentence straddles a hard boundary
    unseen.  Trailing windows shorter than ``min_tokens`` are dropped
    (a 2-token tail chunk is embedding noise).

    Pure Column plumbing — tokenize once, ``sequence`` of window
    starts, ``posexplode`` + ``slice``/``array_join``: no UDF, no
    shuffle; 100 TB cost is the scan plus the ~1/(1-overlap/chunk)
    output amplification.  Deterministic chunk ids ``(doc, chunk_id)``
    with ``chunk_id`` 0-based in token order.

    Returns (id, chunk_id, n_tokens, chunk).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"chunk_text: need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    if min_tokens < 1:
        raise ValueError(f"chunk_text: min_tokens must be >= 1, got {min_tokens}")
    step = chunk_tokens - overlap
    toks = fn.tokenize(F.col(text_col))
    n = F.size(toks)
    # window starts 0, step, 2*step, ... while start < n (so the final
    # partial window is emitted, then length-gated by min_tokens)
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(step))).otherwise(
        F.array().cast("array<int>")
    )
    base = df.select(F.col(id_col), toks.alias("__toks"), F.posexplode(starts).alias("chunk_id", "__s"))
    piece = F.slice(F.col("__toks"), F.col("__s") + 1, F.lit(chunk_tokens))
    return (
        base.select(
            F.col(id_col),
            F.col("chunk_id"),
            F.size(piece).alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk"),
        )
        .where(F.col("n_tokens") >= min_tokens)
    )


def cross_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_len: int = 40,
    stride: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Fixed-length character spans that repeat across >= ``min_docs``
    DISTINCT documents — the cross-document sibling of
    :func:`trim_duplicate_spans` (within-doc) and the span-granular
    complement to :func:`dedup_lines` (which needs duplication to align
    on line boundaries).  Catches shared boilerplate, templated
    passages and verbatim contamination that whole-doc near-dup misses
    because the surrounding text differs — the practical stand-in for
    suffix-array substring dedup (Lee et al. 2022) in a shuffle
    architecture: strided spans trade exact maximal-match boundaries
    for a corpus-linear plan (a duplicated region of length L >=
    span_len + stride - 1 is always hit by at least one aligned span
    when the duplication is stride-aligned; set ``stride=1`` for the
    exhaustive guarantee at span_len× the fan-out).

    Scale shape: each doc explodes into ``~len/stride`` spans — ONE
    explode + ONE hash aggregate on the span, map-side combinable; no
    joins, no pair enumeration.  Output (span_hash, span, n_docs,
    n_occ) keyed by content hash; downstream removal is a semi-join of
    the occurrence table against these hashes.

    Returns spans sorted nowhere (order-free contract); ``span`` is
    the literal normalized substring (min over occurrences — they are
    identical up to md5 collision, negligible at corpus scale).
    """
    if span_len < 2 or stride < 1:
        raise ValueError(
            f"cross_dup_spans: span_len >= 2 and stride >= 1 required, got {span_len}/{stride}"
        )
    norm = fn.normalize(F.col(text_col))
    positions = F.when(
        F.length(norm) >= span_len,
        F.sequence(F.lit(1), F.length(norm) - span_len + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    # ~len/stride substring+md5 evaluations per row happen in the scan
    # stage, before the span aggregate's shuffle: spread single-row-
    # group inputs first (guide §2.5; no-op on real layouts)
    spans = spread_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col).select(
        F.col(id_col),
        norm.alias("__t"),
        F.explode(positions).alias("__p"),
    ).select(
        F.col(id_col),
        F.col("__t").substr(F.col("__p"), F.lit(span_len)).alias("span"),
    )
    return (
        spans.withColumn("span_hash", fn.md5_long(F.col("span")))
        .groupBy("span_hash")
        .agg(
            F.min("span").alias("span"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df_frac: float = 0.5,
    max_df: int | None = None,
    scale: int = 10**4,
    ndigits: int = 6,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Document pairs with TF-IDF **cosine** similarity >= threshold —
    the weighted companion to :func:`ngram_jaccard_pairs`: Jaccard
    treats every shingle equally, cosine lets rare terms dominate, so
    it catches reworded near-dups and topical twins that set overlap
    misses.  Weights are ``tf * ln(N/df)`` over whitespace tokens of
    the normalized text.

    Exactness across engines: each weight is quantized ONCE —
    ``round(tf * idf * scale)`` as BIGINT (the round absorbs last-ulp
    ``ln`` differences, same device as tfidf_topk's rounded score) —
    and every sum (dot products, squared norms) runs in DECIMAL(38,0)
    integer arithmetic, which is associative: no float-summation-order
    drift at any partition count.  Floats reappear only in the final
    ``dot / (||a||·||b||)`` (5 correctly-rounded IEEE ops), so the
    DuckDB oracle reproduces cosines bit-for-bit.  The quantization
    scale cancels in the ratio.

    Scale shape: inverted-index self-join on ``term`` + ONE (id1,id2)
    aggregate — no explicit all-pairs stage, but the per-term fan-out
    is C(df, 2), so the document-frequency cap (``max_df`` absolute,
    else ``max_df_frac * N``) IS the complexity bound, not a mere skew
    guard.  The fractional default does NOT scale: candidates grow as
    ``(max_df_frac * N)^2`` per admitted hot term — the round-13 scale
    probe measured the default cap OOMing an 8 GB heap at an 80k-doc
    corpus (the ×16 self-union; every query around it at the same
    size ran fine).  Above ~20k documents set ``max_df`` ABSOLUTE
    (e.g. 10^3-10^4): that makes total candidate work O(N * max_df)
    — linear in the corpus — at the documented cost of ignoring terms
    more common than the cap (whose idf contribution is near zero
    anyway).  ``df >= 2`` prunes hapax terms (they cannot link a
    pair).

    That rule is ENFORCED, not just documented (round-14, the round-13
    verdict's #2; sharpened round-15 per the round-14 advice): when the
    fractional cap ADMITS a term whose observed df exceeds
    ``_TFIDF_QUADRATIC_LIMIT`` documents, the plan fails fast with an
    actionable ``raise_error`` naming the term and its df instead of
    silently OOMing — the guard is a CASE projection over the df-filter
    stage, so it costs no extra job and only ever fires on a term that
    would actually fan out quadratically (a large corpus whose every
    term is rare sails through: the work is linear, so no raise).  Pass
    an absolute ``max_df`` (the scale path) or ``allow_quadratic=True``
    (explicit opt-in, e.g. small-corpus exactness work) to proceed.
    """
    dec = "decimal(38,0)"
    tf = (
        df.select(
            F.col(id_col), F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    if max_df is not None:
        cap = F.lit(max_df)
    else:
        cap = F.col("__n") * F.lit(max_df_frac)
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(n_docs))
        .where((F.col("df") >= 2) & (F.col("df") <= cap))
    )
    if max_df is None and not allow_quadratic:
        # Fail fast on the OBSERVED document frequency, not the corpus
        # size (round-15, the round-14 advice): the earlier guard raised
        # whenever N * max_df_frac alone exceeded the limit — i.e. on
        # every >2*limit-doc corpus even when no term was actually
        # frequent, a behavior regression for legal linear-work inputs.
        # This CASE sits ABOVE the df filter (project over filter, never
        # reordered by Catalyst), so it evaluates only on ADMITTED terms
        # and fires exactly when one of them would fan out quadratically
        # — zero false positives, same no-extra-job cost.
        msg = F.concat(
            F.lit("tfidf_cosine_pairs: term '"),
            F.col("term"),
            F.lit("' appears in "),
            F.col("df").cast("string"),
            F.lit(
                f" documents (> {_TFIDF_QUADRATIC_LIMIT}) and is admitted by "
                f"the fractional cap (max_df_frac={max_df_frac}); per-term "
                "candidate fan-out is C(df,2) and will OOM at corpus scale. "
                "Set an absolute max_df (e.g. 1000-10000) for O(N*max_df) "
                "work, or pass allow_quadratic=True to opt in explicitly."
            ),
        )
        dfreq = dfreq.withColumn(
            "df",
            F.when(
                F.col("df") <= F.lit(_TFIDF_QUADRATIC_LIMIT), F.col("df")
            ).otherwise(F.raise_error(msg).cast("long")),
        )
    q = (
        tf.join(dfreq, "term")
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")) * scale)
            .cast("long")
            .alias("qw"),
        )
    )
    q = q.transform(stage, eager=False)  # reused by norms and the pair join
    norms = q.groupBy(id_col).agg(
        F.sum((F.col("qw") * F.col("qw")).cast(dec)).alias("__s2")
    )
    left = q.select(F.col(id_col).alias("id1"), "term", F.col("qw").alias("__w1"))
    right = q.select(F.col(id_col).alias("id2"), "term", F.col("qw").alias("__w2"))
    dots = (
        left.join(right, "term")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.sum((F.col("__w1") * F.col("__w2")).cast(dec)).alias("__dot"))
    )
    # try_divide, not /: with max_df >= N (reachable via allow_quadratic
    # or an explicit absolute cap) a term in EVERY doc has idf = ln(1) = 0,
    # and a doc whose surviving terms all quantize to qw = 0 gets
    # __s2 = 0 — ANSI `/` would throw DIVIDE_BY_ZERO on the 0/0 (the
    # round-13 cosine_similarity bug class); NULL cosine fails the
    # threshold filter, matching DuckDB's NULL-on-zero-divide oracle.
    cos = F.round(
        F.try_divide(
            F.col("__dot").cast("double"),
            F.sqrt(F.col("__n1").cast("double")) * F.sqrt(F.col("__n2").cast("double")),
        ),
        ndigits,
    )
    return (
        dots.join(norms.select(F.col(id_col).alias("id1"), F.col("__s2").alias("__n1")), "id1")
        .join(norms.select(F.col(id_col).alias("id2"), F.col("__s2").alias("__n2")), "id2")
        .select("id1", "id2", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def bm25_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    doc_id: str,
    query_text: str = "text",
    doc_text: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 4,
) -> DataFrame:
    """BM25 top-k retrieval — the actual ranking function behind the
    reference's Elasticsearch msearch join (Lucene practical scoring;
    the pure-Spark ``join_topk`` replaces it with a caller-supplied
    score, this operator supplies the real thing):

    ``score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))``
    with Lucene's ``idf = ln(1 + (N−df+0.5)/(df+0.5))`` summed over the
    distinct query terms present in the document.

    Scale shape: corpus explodes once into (doc, term, tf) postings;
    df/avgdl are corpus aggregates (scalar avgdl broadcast via a
    literal-free cross join of one row is avoided — it is folded into
    the postings); candidates come from the term-keyed postings join
    (an inverted index lookup, never all-pairs), and the final top-k is
    one window per query id.  Ranking sorts on the ROUNDED score then
    doc id so the order is reproducible across engines and summation
    orders.
    """
    q_terms = (
        queries.select(
            F.col(query_id).alias("__qid"),
            F.explode(F.array_distinct(fn.tokenize(fn.normalize(F.col(query_text))))).alias(
                "__t"
            ),
        )
    )
    d_toks = (
        spread_scan(corpus.select(doc_id, doc_text), by=doc_id)
        .select(
            F.col(doc_id).alias("__did"),
            fn.tokenize(fn.normalize(F.col(doc_text))).alias("__toks"),
        )
        .transform(stage, eager=False)
    )
    postings = (
        d_toks.select("__did", F.size("__toks").alias("__dl"), F.explode("__toks").alias("__t"))
        .groupBy("__did", "__dl", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    ).transform(stage, eager=False)
    n_docs = d_toks.count()
    avgdl = d_toks.select(F.avg(F.size("__toks"))).first()[0] or 1.0
    dfreq = postings.groupBy("__t").agg(F.countDistinct("__did").alias("__df"))
    idf = F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    term_score = (
        idf
        * (F.col("__tf") * (k1 + 1))
        / (F.col("__tf") + k1 * (1 - b + b * F.col("__dl") / F.lit(float(avgdl))))
    )
    scored = (
        q_terms.join(postings, "__t")
        .join(dfreq, "__t")
        .groupBy("__qid", "__did")
        .agg(F.round(F.sum(term_score), round_to).alias("score"))
    )
    w = Window.partitionBy("__qid").orderBy(F.col("score").desc(), F.col("__did").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__did").alias("hit_id"),
            "score",
        )
    )


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    rate: float,
    salt: str = "sample",
    strata_col: str | None = None,
    strata_rates: dict | None = None,
) -> DataFrame:
    """Reproducible corpus sampling: keep a row iff
    ``md5_long(salt || id) % 10^6 < rate * 10^6`` — a pure hash
    decision, so the sample is identical on every engine, cluster
    layout, and rerun (unlike ``df.sample``, whose RNG depends on
    partitioning).  ``strata_rates`` maps ``strata_col`` values to
    per-stratum rates (stratified sampling); unknown strata fall back
    to ``rate``.

    Shuffle-free — the predicate evaluates inside the scan stage and
    pushes no data anywhere.
    """
    bucket = fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))) % 1_000_000
    if strata_rates:
        thr = F.lit(int(rate * 1_000_000))
        for val, r in strata_rates.items():
            thr = F.when(F.col(strata_col) == val, F.lit(int(r * 1_000_000))).otherwise(thr)
    else:
        thr = F.lit(int(rate * 1_000_000))
    return df.where(bucket < thr)


def shuffle_order(
    df: DataFrame,
    id_col: str,
    salt: str = "shuf",
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    dense 1-based position in ``md5_long(salt || id)`` order — the
    "shuffle the corpus once before sequence packing" step of an LLM
    data pipeline, reproducible across engines/reruns (unlike
    ``orderBy(rand())``) and re-shuffleable by changing ``salt``
    (epoch-keyed salts give per-epoch orders without re-hashing design).

    Scale posture: the hash is computed in the scan stage; the global
    rank comes from :func:`backend_spark.scale.assign_row_ids` — a
    range-repartition distributed sort plus a broadcast per-partition
    offset table, NEVER the single-task ``Window.orderBy`` funnel.
    """
    from backend_spark.scale import assign_row_ids

    hashed = df.withColumn(
        "__h", fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    )
    return assign_row_ids(hashed, ["__h", id_col], out_col=out_col).drop("__h")


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    salt: str = "prio",
    ndigits: int = 6,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — Duffield/
    Lund/Thorup *priority sampling* (JACM 2007): each row draws
    ``u = (md5_long(salt:id) + 1) / 2^60`` (a dyadic rational in
    (0, 1], exact in IEEE double) and gets priority ``q = w / u``; the
    ``k`` highest-priority rows are the sample.  Inclusion probability
    is ~``min(1, w/tau)`` with ``tau`` the (k+1)-th priority, i.e.
    heavy rows are near-certain, light rows proportional — the
    textbook weighted panel for data-mixing experiments, but with NO
    RNG: the hash gate makes the sample identical on every engine,
    partitioning and rerun (same property as
    :func:`deterministic_sample`), and ``q`` is two correctly-rounded
    IEEE ops (int64→double convert, divide) so DuckDB reproduces the
    ranking bit-for-bit.

    Rows with NULL or non-positive weight are excluded (a zero-weight
    row can never be sampled; documented, not silently kept).

    Scale shape: the priority is map-side arithmetic in the scan
    stage.  Grouped mode (``group_col``) ranks with ONE keyed window.
    Global mode never funnels the corpus through a single-task sort:
    a per-input-partition local top-k prunes to ``<= k * n_partitions``
    rows first, and only that pruned set enters the final k-row
    ordering.

    Returns (group?, id, weight, priority, sample_rank) with
    ``priority`` rounded to ``ndigits`` for reporting; ranking uses
    the full double with ``id`` as the deterministic tie-break.
    """
    if k < 1:
        raise ValueError(f"priority_sample: k must be >= 1, got {k}")
    w = F.col(weight_col).cast("double")
    u = (
        fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))) + 1
    ).cast("double") / F.lit(float(2**60))
    base = (
        df.where(F.col(weight_col).isNotNull() & (w > 0))
        .withColumn("__pr", w / u)
    )
    out_cols = [
        *([group_col] if group_col else []),
        F.col(id_col),
        F.col(weight_col).alias("weight"),
        F.round("__pr", ndigits).alias("priority"),
        F.col("__rn").alias("sample_rank"),
    ]
    if group_col is not None:
        wspec = Window.partitionBy(group_col).orderBy(
            F.col("__pr").desc(), F.col(id_col).asc()
        )
        return (
            base.withColumn("__rn", F.row_number().over(wspec))
            .where(F.col("__rn") <= k)
            .select(*out_cols)
        )
    # global mode: local per-partition prune, then order the survivors.
    # partitionBy(spark_partition_id) exchanges only by partition id —
    # the heavy lifting (drop all but k rows per partition) happens in
    # one keyed window; the final global window sees <= k*nparts rows.
    local_w = Window.partitionBy("__pid").orderBy(
        F.col("__pr").desc(), F.col(id_col).asc()
    )
    pruned = (
        base.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrn", F.row_number().over(local_w))
        .where(F.col("__lrn") <= k)
    )
    final_w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("__pr").desc(), F.col(id_col).asc()
    )
    return (
        pruned.withColumn("__rn", F.row_number().over(final_w))
        .where(F.col("__rn") <= k)
        .select(*out_cols)
    )


def split_corpus(
    df: DataFrame,
    id_col: str,
    fractions: dict | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's split is
    decided by ``md5_long(salt || id) mod 1e6`` against the cumulative
    fraction boundaries — reproducible across engines and reruns,
    stable under corpus growth (a doc's split never changes when other
    docs arrive — the property a random split lacks and leakage audits
    depend on), and re-drawable via ``salt``.

    Fractions (default ``{'train': .98, 'val': .01, 'test': .01}``)
    must sum to 1 within 1e-9; boundaries use integer millionths so
    the split is exact arithmetic, no float comparison at the edge.
    Pure Column projection over the scan — zero shuffle.
    """
    fracs = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(fracs.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = F.pmod(
        fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))),
        F.lit(1_000_000),
    )
    cum = 0.0
    expr = None
    for name, frac in fracs.items():
        cum += frac
        hi = int(round(cum * 1_000_000))
        cond = bucket < hi
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def count_min_sketch(
    df: DataFrame,
    text_col: str,
    width: int = 4096,
    depth: int = 4,
) -> DataFrame:
    """Count-Min frequency sketch over the normalized token stream
    (Cormode & Muthukrishnan 2005): ``depth`` rows of ``width``
    counters, token t increments cell ``(r, md5_long(r || t) mod
    width)``; a point query reads the MIN over rows — an overestimate
    bounded by ε·N with ε = e/width.  The frequency-side companion to
    :func:`~backend_spark.scale.hll_distinct`: counter addition is
    associative and the md5 cells are engine-exact, so the sketch is
    MERGEABLE across corpus shards/snapshots (cell-wise sum) and fully
    oracle-checkable — unlike order-dependent summaries (Misra-Gries /
    SpaceSaving), which cannot be deterministic under Spark's
    partitioning.

    One keyed (row, cell) integer aggregate, output ≤ depth·width rows
    regardless of corpus size.  Query with :func:`cms_query`.
    """
    if width < 1 or depth < 1:
        raise ValueError(f"width and depth must be positive, got {width}, {depth}")
    # spread the text scan (round 15): tokenize + depth md5s per token
    # otherwise run on the input's row-group count; the (r, cell)
    # aggregate itself is bounded (<= depth*width cells) either way
    toks = spread_scan(df.select(F.col(text_col))).select(
        F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("__t")
    )
    cells = toks.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"), "__t"
    ).select(
        "r",
        F.pmod(
            fn.md5_long(F.concat_ws("#", F.col("r").cast("string"), F.col("__t"))),
            F.lit(width),
        ).alias("cell"),
    )
    return cells.groupBy("r", "cell").agg(F.count(F.lit(1)).alias("cnt"))


def cms_query(
    sketch: DataFrame,
    terms: list,
    width: int = 4096,
    depth: int = 4,
) -> DataFrame:
    """Point-query a :func:`count_min_sketch`: for each (normalized)
    term, min over the depth rows of its cell counters — the
    overestimate-only frequency estimate.  The terms side is a tiny
    literal frame; the join is keyed on (row, cell) against the
    bounded sketch.  Returns (term, est)."""
    spark = sketch.sparkSession
    trows = [(str(t),) for t in terms]
    # hash the NORMALIZED term — the sketch stores normalized tokens, so
    # a raw 'Apple' would otherwise probe foreign cells and silently
    # underestimate (breaking the overestimate-only contract)
    tdf = spark.createDataFrame(trows, "term string").select(
        "term", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    ).select(
        "term",
        "r",
        F.pmod(
            fn.md5_long(
                F.concat_ws("#", F.col("r").cast("string"), fn.normalize(F.col("term")))
            ),
            F.lit(width),
        ).alias("cell"),
    )
    return (
        tdf.join(sketch, ["r", "cell"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 32,
    salt: str = "shuf",
) -> DataFrame:
    """The pipeline's last mile: export a cleaned corpus as ``n_shards``
    equal-ish parquet shards in a deterministic global shuffle order,
    plus a manifest the trainer (and the next pipeline run) can trust.

    Rows get a :func:`shuffle_order` position (reproducible hash
    order, no RNG), shard = position mod n_shards (round-robin, so
    every shard samples the whole corpus uniformly — a contiguous
    split would correlate shards with hash ranges), and each shard is
    written as ONE hive partition dir (``shard=K/``) with the rows
    sorted by position within the shard — a trainer streaming shard K
    in file order replays exactly the global order's K-th residue
    class.  Returns the manifest: (shard, n_rows, id_checksum) with
    the checksum a bit-xor of the member id hashes — order-independent
    and cheap to re-verify downstream.

    One distributed sort (the assign_row_ids machinery), one
    partitioned write, one keyed manifest aggregate.  No collect of
    row data; ``n_shards`` should be a multiple of the trainer's
    data-parallel world size.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    ordered = shuffle_order(df, id_col, salt=salt)
    sharded = ordered.withColumn(
        "shard", F.pmod(F.col("shuffle_pos"), F.lit(n_shards)).cast("int")
    )
    (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", "shuffle_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    written = df.sparkSession.read.parquet(path)
    return (
        written.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(fn.md5_long(F.col(id_col).cast("string"))).alias("id_checksum"),
        )
        .select(F.col("shard").cast("long").alias("shard"), "n_rows", "id_checksum")
    )


def stratified_topn(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    n_per_stratum: int,
    salt: str = "strat",
) -> DataFrame:
    """Exact-count stratified sampling: keep exactly
    ``min(n_per_stratum, |stratum|)`` rows per stratum, chosen by
    deterministic hash rank (``md5_long(salt || id)``, id tie-break) —
    the balanced-budget complement to :func:`deterministic_sample`'s
    rate-based strata.  Used to build eval slices and class-balanced
    fine-tuning mixtures where "300 docs per language" is the contract,
    not "0.1% of each".

    One keyed shuffle on ``strata_col``; the per-stratum window ranks
    hash order, so the choice is uniform within each stratum and
    identical on every engine and rerun.
    """
    h = fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.7,
    salt: str = "ts",
    ndigits: int = 6,
) -> DataFrame:
    """Temperature-based mixture resampling (mT5 §3.1 / XLM-R style):
    downsample each group so the kept distribution follows
    ``p_g^alpha`` (alpha < 1 flattens the mixture toward rare groups;
    alpha = 1 is a no-op).  Keep rate per group is
    ``p_g^(alpha-1) / max_h p_h^(alpha-1)`` — the rarest group keeps
    everything, head groups shed mass; row membership is the same
    ``md5_long(salt || id)`` hash gate as :func:`deterministic_sample`,
    so the sample is identical on every engine and rerun.

    Output = kept rows with a ``sample_rate`` column (rounded, the
    value a mixture report would log).  The rate table is |groups|
    rows, **broadcast** back onto the scan; like det_sample the gate
    evaluates map-side, so the corpus never shuffles.
    """
    # NB: the share denominator must not be a case-variant of "__n" —
    # both Spark and DuckDB resolve column names case-insensitively, so
    # "__N" would silently alias "__n" and every rate would become 1
    stats = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__tot", F.sum("__n").over(Window.partitionBy()))
        .withColumn(
            "__r", F.pow(F.col("__n").cast("double") / F.col("__tot"), F.lit(alpha - 1.0))
        )
        .withColumn("__rmax", F.max("__r").over(Window.partitionBy()))
    )
    rates = stats.select(
        group_col,
        F.round(F.col("__r") / F.col("__rmax"), ndigits).alias("sample_rate"),
    ).withColumn(
        # integer gate derived from the *rounded* rate: both engines
        # round-then-scale, so the threshold can't split on a pow() ulp
        "__thr",
        F.round(F.col("sample_rate") * 1_000_000).cast("long"),
    )
    bucket = (
        fn.md5_long(F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))) % 1_000_000
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .where(bucket < F.col("__thr"))
        .drop("__thr")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    shards: int = 1024,
    salt: str = "pack",
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    layout): documents concatenate into a token stream in deterministic
    id order and the stream splits into ``budget``-token chunks;
    every document is assigned the chunk containing its FIRST token
    (``bin_id``) plus its ``start_offset`` in the stream, which is all
    a chunk-builder needs to materialize batches.  Documents may
    straddle chunk boundaries — that is the semantics of packed
    pretraining data, not a defect; true no-split greedy bin packing
    is order-unstable and needs sequential state.

    Scale shape: a GLOBAL ordered cumulative sum would serialize the
    corpus through one partition, so the stream is sharded — docs hash
    into ``shards`` independent streams (``md5_long(id) % shards``),
    each packed by a keyed window.  One shuffle, ``shards``-way
    parallel, chunks never span shards.  ``bin_id`` is globally unique
    (shard-prefixed).
    """
    n = F.col(tokens_col).cast("long")
    shard = fn.md5_long(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    ) % shards
    base = df.select(F.col(id_col), n.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    packed = base.withColumn("start_offset", cum - F.col("n_tokens"))
    return packed.select(
        id_col,
        "n_tokens",
        "shard",
        "start_offset",
        (F.col("shard") * F.lit(2**33) + F.floor(F.col("start_offset") / F.lit(budget))).alias(
            "bin_id"
        ),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    lines_col: str,
    min_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """C4-style line-level corpus dedup (Raffel et al. 2020 §2.2 —
    boilerplate removal): a line whose document frequency reaches
    ``min_df`` is kept only in its *owner* document (the smallest id
    containing it) and dropped everywhere else.  Deterministic, unlike
    keep-first-seen policies that depend on scan order.

    ``lines_col`` is an ``array<string>`` — split however the corpus
    warrants (``F.split(text, '\\n')`` for real text).  Returns
    (id, text_clean, n_removed) with surviving lines re-joined by
    ``sep`` in original order.

    Scale shape: posexplode → hash-keyed (df, owner) aggregation →
    hash-keyed join back → id-keyed rebuild.  Three keyed shuffles over
    (id, pos, 60-bit hash) rows — the line text itself crosses the wire
    once; no corpus-wide sort, no driver state.
    """
    ex = df.select(
        F.col(id_col), F.posexplode_outer(lines_col).alias("__pos", "__line")
    ).withColumn("__h", fn.md5_long(F.col("__line")))
    freq = ex.groupBy("__h").agg(
        F.countDistinct(id_col).alias("__df"), F.min(id_col).alias("__owner")
    )
    flagged = ex.join(freq, "__h", "left").withColumn(
        "__keep",
        F.coalesce(
            (F.col("__df") < min_df) | (F.col(id_col) == F.col("__owner")), F.lit(True)
        ),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line", "__keep"))),
                    lambda x: x["__keep"] & x["__line"].isNotNull(),
                ),
                lambda x: x["__line"],
            ),
            sep,
        ).alias("text_clean"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).alias("n_removed"),
    )


# symbol characters for the Gopher symbol-to-word rule; ASCII-only so the
# class means the same thing to Java regex and RE2
QUALITY_SYMBOLS = r"[#%@$^*+=~|<>]"


def nb_train(
    df: DataFrame,
    label_col: str,
    text_col: str,
) -> DataFrame:
    """Train a multinomial Naive Bayes text classifier with add-one
    smoothing — the deterministic stand-in for the fastText-style
    linear quality/domain classifiers real curation pipelines run
    (CCNet, GPT-3's WebText-vs-CommonCrawl filter): integer count
    aggregates only, so the model is bit-identical on any engine and
    the DuckDB oracle can verify end-to-end classification.

    Returns the **dense** model: one row per (label, token ∈ global
    vocab) with ``log_cond = ln((c(token,label)+1) / (N_label+V))``,
    plus the per-label document prior in ``log_prior`` (repeated on
    every row, so the model stays one self-contained table).  Dense
    means unseen-in-label tokens carry their smoothed floor explicitly
    — scoring is then a plain equi-join, no per-label fallback logic.

    Scale posture: the model is |vocab| × |labels| rows — vocabulary-
    sized, not corpus-sized (the classifier regime is a handful of
    labels), built from two map-side-combinable aggregates over the
    token stream; AQE broadcasts it in :func:`nb_score`.
    """
    # (round-15: spreading this scan was measured 2x WORSE at sf0.1 —
    # the explode's fanout already spreads at the first shuffle and the
    # extra exchange dominates; left unspread deliberately)
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("token"),
    )
    counts = toks.groupBy("label", "token").agg(F.count(F.lit(1)).alias("__c"))
    # n_label / vocab fold the (label, token) count table, not the raw
    # token stream: Σ __c per label == per-label token count and the
    # count table's distinct tokens == the corpus vocabulary, so the
    # model is unchanged while the corpus is tokenized ONCE (the counts
    # exchange is reused) instead of three times (round 15)
    n_label = counts.groupBy("label").agg(F.sum("__c").alias("__n"))
    vocab = counts.select("token").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("__v"))
    doc_prior = (
        df.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("__d"))
        .withColumn("__dt", F.sum("__d").over(Window.partitionBy()))
        .select(
            "label", F.log(F.col("__d").cast("double") / F.col("__dt")).alias("log_prior")
        )
    )
    dense = vocab.crossJoin(F.broadcast(n_label.join(doc_prior, "label").join(v)))
    return (
        dense.join(counts, ["label", "token"], "left")
        .select(
            "label",
            "token",
            F.log(
                (F.coalesce(F.col("__c"), F.lit(0)) + 1).cast("double")
                / (F.col("__n") + F.col("__v")).cast("double")
            ).alias("log_cond"),
            "log_prior",
        )
    )


def nb_score(
    df: DataFrame,
    model: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 4,
) -> DataFrame:
    """Score documents with an :func:`nb_train` model: per (doc, label),
    ``log_prior + Σ_positions log_cond(token)``, tokens outside the
    training vocabulary ignored (standard NB practice, and what keeps
    the oracle exact).  Because the token stream INNER-joins the model,
    a document whose tokens are ALL out-of-vocabulary (or whose text is
    empty after normalize/tokenize) produces no (doc, label) rows and
    is absent from the output entirely — it is not scored on priors
    alone.  Left-join the result back to your id universe if downstream
    code needs every document represented.
    Returns (id, label, score, margin) for the
    argmax label; ``margin`` = lead over the runner-up label, the
    confidence value a pipeline thresholds on (null when the model has
    a single label).

    The float fold runs in fixed position order per (doc, label) — the
    same hash-stability rationale as :func:`char_entropy`.

    Scale shape (round 15): the vocabulary-sized model is BOUNDED
    driver state by the classifier contract (a handful of labels ×
    vocab — the same assumption the previous shape leaned on when it
    AQE-broadcast the model into the token stream), so it is collected
    ONCE and scoring becomes a single map-only Arrow stage: per doc,
    the in-vocab ``log_cond`` rows fold in position order via
    ``np.cumsum`` (sequential IEEE additions — bit-identical to the
    ordered SQL fold and to the old collect_list→array_sort→aggregate
    path, since ``0.0 + x == x`` for every finite nonzero log), then
    ``log_prior`` adds last, exactly as before.  The corpus now
    shuffles ZERO times (the old shape shuffled |labels| × corpus
    position structs into a per-(doc,label) sort aggregate and then a
    window).  Argmax tie-break (score desc, label asc) and margin
    (lead over the runner-up, null for single-label models) are
    computed per doc inside the same stage.
    """
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    mrows = model.select("label", "token", "log_cond", "log_prior").collect()
    labels = sorted({r.label for r in mrows})
    lab_ix = {l: j for j, l in enumerate(labels)}
    n_lab = len(labels)
    vocab_ix: dict = {}
    for r in mrows:
        if r.token not in vocab_ix:
            vocab_ix[r.token] = len(vocab_ix)
    import numpy as np

    lc = np.zeros((len(vocab_ix), n_lab), dtype=np.float64)
    prior = np.zeros(n_lab, dtype=np.float64)
    for r in mrows:
        lc[vocab_ix[r.token], lab_ix[r.label]] = r.log_cond
        prior[lab_ix[r.label]] = r.log_prior

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("label", StringType(), True),
            StructField("score", DoubleType(), True),
            StructField("margin", DoubleType(), True),
        ]
    )

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            ids, labs, scs, mgs = [], [], [], []
            for doc_id, toks in zip(pdf["__nbid"], pdf["__nbt"]):
                if toks is None:
                    continue
                idx = [vocab_ix[t] for t in toks if t in vocab_ix]
                if not idx:
                    continue
                # cumsum is the sequential left fold: s_i = s_{i-1} + x_i
                # in position order — the exact float the old per-(doc,
                # label) ordered aggregate produced
                sums = np.cumsum(lc[idx], axis=0)[-1]
                scores = [float(prior[j] + sums[j]) for j in range(n_lab)]
                order = sorted(range(n_lab), key=lambda j: (-scores[j], labels[j]))
                best = order[0]
                ids.append(doc_id)
                labs.append(labels[best])
                scs.append(scores[best])
                mgs.append(scores[best] - scores[order[1]] if n_lab > 1 else None)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=object),
                    "label": pd.Series(labs, dtype=object),
                    "score": pd.Series(scs, dtype="float64"),
                    "margin": pd.array(mgs, dtype="Float64"),
                }
            )

    staged = spread_scan(
        df.select(
            F.col(id_col).alias("__nbid"),
            fn.tokenize(fn.normalize(F.col(text_col))).alias("__nbt"),
        )
    )
    scored = staged.mapInPandas(_score, schema=out_schema)
    return scored.select(
        F.col(id_col),
        "label",
        F.round("score", ndigits).alias("score"),
        F.round("margin", ndigits).alias("margin"),
    )


def dup_ngram_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """Cross-document duplicate n-gram rate: for each doc, the fraction
    of its distinct word ``n``-grams that also occur in at least one
    *other* doc — the Dolma/Gopher "duplicate n-gram fraction" signal
    that catches boilerplate and template farms which per-doc
    :func:`repetition_stats` can't see.  Returns (id, n_grams,
    dup_frac); docs with fewer than ``n`` tokens have no n-grams and
    are absent, matching the oracle.

    All integer counting (distinct grams per doc → gram owner-count →
    join back → per-doc ratio), hashed to bigints via ``md5_long``
    before any shuffle so gram *text* crosses the wire zero times.
    Three keyed shuffles, all map-side combinable; the owner-count
    table is gram-keyed (vocabulary-sized) and AQE handles its join.
    """
    # barrier after tokenize: the n-gram builder references the token
    # array once per output element, and Catalyst's projection collapse
    # would otherwise re-run tokenize per n-gram (same staging as
    # decontaminate)
    toks = df.select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__t")
    ).transform(stage, eager=False)
    grams = (
        toks.select(
            F.col(id_col),
            F.explode(F.array_distinct(word_ngrams_from_tokens(F.col("__t"), n))).alias("__g"),
        )
        .withColumn("__h", fn.md5_long(F.col("__g")))
        .select(F.col(id_col), "__h")
        .transform(stage, eager=False)
    )
    owners = grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__docs"))
    return (
        grams.join(owners, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__docs") > 1).cast("long")).alias("__dup"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.round(F.col("__dup").cast("double") / F.col("n_grams"), ndigits).alias("dup_frac"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    ndigits: int = 6,
) -> DataFrame:
    """First-occurrence novelty: per doc, the fraction of its distinct
    word ``n``-grams whose FIRST corpus occurrence (min doc id) is this
    doc — "how much genuinely new material does each doc add", the
    ordered complement of :func:`dup_ngram_fraction` (which is
    order-blind) and the signal crawl-frontier/curriculum schedulers
    rank on.  A re-crawled page scores ~0; the original scores high.

    Same shuffle shape as dup_ngram_fraction: grams hash to bigints
    before any shuffle, one gram-keyed min-owner aggregate (map-side
    combined), one join back, one per-doc ratio.  Docs with fewer than
    ``n`` tokens have no grams and are absent.  Returns
    (id, n_grams, novel_frac).  The text scan is spread before the
    tokenize/shingle/md5 chain (round 15 — no-op on well-split
    layouts).
    """
    staged = spread_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__t")
    )
    grams = staged.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams_from_tokens(F.col("__t"), n))).alias("__g"),
    ).select(F.col(id_col), fn.md5_long(F.col("__g")).alias("__h"))
    first = grams.groupBy("__h").agg(F.min(F.col(id_col)).alias("__first"))
    return (
        grams.join(first, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col(id_col) == F.col("__first")).cast("long")).alias("__nov"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.round(F.col("__nov") / F.col("n_grams"), ndigits).alias("novel_frac"),
        )
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    line_drop_terms: tuple = ("javascript",),
    doc_drop_terms: tuple = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4's line-level cleaning rules (Raffel et al. 2020 §2.2) as one
    pure projection: keep a line iff it ends in terminal punctuation
    (``. ! ? "``), has ≥ ``min_words`` words, and contains none of
    ``line_drop_terms``; drop the whole document if its raw text
    contains any ``doc_drop_terms`` (C4: curly brace, "lorem ipsum")
    or fewer than ``min_kept_lines`` lines survive.

    Returns (id, n_lines, n_kept, keep_doc, text_clean) — every doc is
    reported (the gate is a column, not a filter), ``text_clean`` the
    kept lines re-joined with newlines.

    Scale posture: split/filter/join are array Column expressions over
    the scan — no explode, no shuffle, whole-stage codegen; the line
    arrays live only inside the projection.
    """
    lines = F.split(F.col(text_col), "\n")

    def _line_ok(ln):
        t = F.trim(ln)
        ok = t.rlike('[.!?"]$') & (F.size(F.split(t, r"\s+")) >= min_words)
        for term in line_drop_terms:
            ok = ok & ~F.contains(F.lower(ln), F.lit(term))
        return ok

    kept = F.filter(lines, _line_ok)
    doc_ok = F.size(kept) >= min_kept_lines
    for term in doc_drop_terms:
        doc_ok = doc_ok & ~F.contains(F.lower(F.col(text_col)), F.lit(term))
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        doc_ok.alias("keep_doc"),
        F.array_join(kept, "\n").alias("text_clean"),
    )


def blocklist_hit_rate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list,
    max_rate: float = 0.0,
    ndigits: int = 6,
) -> DataFrame:
    """Token-blocklist scoring (the C4 "bad words" gate): fraction of a
    doc's tokens that appear in ``terms`` (exact token match after
    :func:`normalize`/:func:`tokenize` — no substring surprises), plus
    a ``keep`` gate at ``max_rate`` (C4 used 0: any hit drops the
    page).  Returns (id, n_tokens, n_hits, hit_rate, keep); empty docs
    score 0 and keep.

    The blocklist is a Column literal folded into the filter lambda —
    broadcast-free, shuffle-free, codegen'd over the scan.  Terms are
    passed through the SAME normalization as the tokens (a raw
    'Viagra' could otherwise never match the lowercased stream); a
    term that normalizes to several tokens (or none) can't be an
    exact-token match and is rejected rather than silently ignored.
    """
    import re as _re

    norm_terms = []
    for x in terms:
        t = _re.sub(r"\s+", " ", _re.sub(r"[^a-z0-9]+", " ", str(x).lower())).strip()
        if " " in t or not t:
            raise ValueError(
                f"blocklist term {x!r} normalizes to {t!r} — not a single "
                "token; exact-token matching can never hit it"
            )
        norm_terms.append(t)
    toks = fn.tokenize(fn.normalize(F.col(text_col)))
    hits = F.size(F.filter(toks, lambda t: t.isin(norm_terms)))
    n = F.size(toks)
    rate = F.when(n > 0, F.round(hits.cast("double") / n.cast("double"), ndigits)).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        hits.alias("n_hits"),
        rate.alias("hit_rate"),
        (rate <= max_rate).alias("keep"),
    )


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 3,
    salt: str = "km",
    scale: int = 1_000_000,
    ndigits: int = 6,
    return_centroids: bool = False,
) -> DataFrame:
    """Deterministic Lloyd's KMeans over an embedding column — the real
    iterative-refinement upgrade of :func:`semdedup`'s one-shot
    hash-centroid assignment, usable for cluster-balanced sampling and
    curation diagnostics.  Deterministic-by-construction so a SQL
    oracle reproduces it bit-for-bit:

    * init = the ``k`` corpus vectors with smallest
      ``md5_long(salt || id)`` (hash rank = cluster index) — no RNG;
    * assignment = argmin squared-euclidean over the broadcast
      centroid table, distance rounded to ``ndigits`` (ties → smaller
      cluster);
    * update = per-dimension MEAN computed on coordinates scaled to
      integers (``floor(x*scale + 0.5)``) and summed as BIGINTs —
      integer addition is associative, so the centroid is identical
      under any partitioning/order, unlike a float sum.  The division
      back to double is a single correctly-rounded operation.  (The
      documented divergence from textbook Lloyd's: means are taken on
      ``1/scale``-quantized coords — 1e-6 resolution, far below any
      embedding's noise floor.)  Empty clusters keep their previous
      centroid.

    Runs ``n_iter`` assign+update rounds, then returns the final
    assignment: (id, cluster, dist) with ``dist`` the rounded squared
    euclidean to the final centroid.

    Scale posture: centroids are k×dim driver state (same bounded-
    collect class as the BPE merge table); assignment is a broadcast
    join + per-id argmin window; the update is one keyed
    (cluster, dim) BIGINT aggregate — map-side combinable, no
    collect of row data, nothing quadratic.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    # map-side assignment below does ALL the distance compute in the
    # scan stage: spread a single-split input first (guide §2.5; no-op
    # on well-laid-out inputs)
    base = spread_scan(base, by="__id").transform(stage, eager=False)

    init = (
        base.withColumn(
            "__hk", fn.md5_long(F.concat(F.lit(salt + ":"), F.col("__id").cast("string")))
        )
        .orderBy(F.col("__hk").asc(), F.col("__id").asc())
        .limit(k)
        .collect()
    )
    centroids = {ci: list(r["__v"]) for ci, r in enumerate(init)}

    def _assign(cents):
        # centroids are bounded k×dim driver state, so the argmin is a
        # pure per-row expression over a LITERAL centroid array — no
        # broadcast join, no n×k row blow-up, no per-id window
        # shuffle+sort (round-15; was broadcast join + row_number).
        # array_min over (rounded d², cluster) structs reproduces the
        # old (\_\_d asc, cluster asc) pick exactly: struct ordering is
        # field-by-field, and the same IEEE fold + round feed it.
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(ci).alias("cluster"),
                    F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                )
                for ci, cv in sorted(cents.items())
            ]
        )
        best = F.array_min(
            F.transform(
                cent_arr,
                lambda c: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("__v"), c["cv"], lambda x, y: (x - y) * (x - y)
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        ndigits,
                    ).alias("__d"),
                    c["cluster"].alias("cluster"),
                ),
            )
        )
        return base.select(
            "__id", "__v", best["cluster"].alias("cluster"), best["__d"].alias("__d")
        )

    for _ in range(n_iter):
        asg = _assign(centroids)
        sums = (
            asg.select(
                "cluster",
                F.posexplode(
                    F.transform("__v", lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))
                ).alias("dim", "xs"),
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("xs").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {}
        for r in sums:
            new.setdefault(r.cluster, {})[r.dim] = r.s / (r.n * scale)
        centroids = {
            ci: [new[ci][d] for d in range(len(old))] if ci in new else old
            for ci, old in centroids.items()
        }

    out = _assign(centroids).select(
        F.col("__id").alias(id_col), "cluster", F.col("__d").alias("dist")
    )
    if return_centroids:
        # k×dim driver state — what an ADC/PQ consumer needs alongside
        # the assignment (ann_pq builds its distance tables from these)
        return out, centroids
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    threshold: float = 0.9,
) -> DataFrame:
    """**Exact** asymmetric near-subset pairs: (id1, id2) with
    containment ``|S1 ∩ S2| / |S1| >= threshold`` over distinct
    hashed shingle sets — the signal symmetric Jaccard
    (:func:`ngram_jaccard_pairs`) structurally misses: a short doc
    quoted whole inside a much larger one has containment ≈ 1 but
    Jaccard ≈ |S1|/|S2| ≈ 0.  Standard boilerplate/quotation/wrapper
    detection in dedup stacks.

    Exact via one-sided prefix filtering: shingles globally ordered
    rare-first (document frequency, then hash); a qualifying pair must
    share one of id1's first ``|S1| − ceil(t·|S1|) + 1`` ordered
    shingles — pigeonhole on the *contained* side only, because the
    containing side has no size bound, so its full shingle set is the
    inverted index.  That index join is the scale cost: candidates =
    Σ_h df(h) · prefix_occurrences(h); rare-first ordering keeps
    prefix tokens low-df, and raising ``threshold`` shrinks the prefix
    linearly.  Then one exact array-intersect verify on the surviving
    pairs.  Returns (id1, id2, containment) with id1 ≠ id2 (both
    directions can legitimately appear), rounded to 6.
    """
    def matches(ranked: DataFrame, pin: Callable[..., DataFrame]) -> DataFrame:
        # cross-prefix positional filter: both arrays share the
        # SAME global order, so for a qualifying pair the globally-smallest
        # shared token — always inside S1's pigeonhole prefix — must also
        # sit inside S2's first n2 - o_min + 1 positions, where
        # o_min = n1 - plen1 + 1 is the required overlap: all o_min shared
        # tokens sort after it in BOTH arrays.  Applied per match INSTANCE
        # it prunes the fanout before the distinct; measured at sf0.1 it
        # cuts the verify set ~10x (26.4M instances -> 12.1M pairs
        # unfiltered) on the templated shingle distribution.
        pref = ranked.select(
            F.col(id_col).alias("id1"),
            F.col("__n").alias("__n1"),
            F.col("__plen").alias("__plen1"),
            F.explode(F.slice("__ord", 1, F.col("__plen"))).alias("__h"),
        )
        index = ranked.select(
            F.col(id_col).alias("id2"),
            F.col("__n").alias("__n2"),
            F.posexplode("__ord").alias("__i2", "__h"),
        )
        return pref.join(index, "__h").where(
            (F.col("id1") != F.col("id2"))
            & (F.col("__i2") <= F.col("__n2") - F.col("__n1") + F.col("__plen1") - 1)
        )

    return _rare_first_prefix(
        df, id_col, text_col, shingle_n, threshold, matches, "containment",
        lambda inter: inter / F.size("__h1"),
    )


def kcenter_coreset(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    ndigits: int = 6,
) -> DataFrame:
    """Greedy k-center / farthest-point sampling over an embedding
    column (Gonzalez 1985; the coreset selection of Sener & Savarese
    2018): seed with the smallest id, then ``k−1`` times select the
    point farthest (max-min squared euclidean) from everything chosen
    so far — the diversity-maximizing subset a curation pipeline uses
    to pick exemplars or active-learning batches, complementary to
    :func:`kmeans_assign` (which balances, rather than spreads,
    coverage).

    Deterministic: no RNG anywhere; distances are rounded to
    ``ndigits`` *before* every comparison (the :func:`kmeans_assign`
    convention, so cross-engine float noise can't flip an argmax) and
    ties break on the smaller id.  Returns the ``k`` selected rows as
    (id, sel_rank, dist) where ``dist`` is the point's min distance to
    the prior selections at pick time — the classic non-increasing
    coverage-radius sequence (seed dist = 0).

    Scale shape: this is inherently ``k`` passes — each round one
    narrow map (distance to ONE broadcast centroid, folded in index
    order) + a distributed TakeOrdered(1); the running min-distance
    column rides along, lineage truncated per round.  Nothing
    quadratic, driver state is k rows.  Cost grows linearly in k —
    for k beyond a few hundred, switch to :func:`kmeans_assign` +
    per-cluster exemplars.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    base = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).transform(stage, eager=False)
    seed = base.orderBy(F.col("__id").asc()).limit(1).collect()
    if not seed:
        return spark.createDataFrame([], f"{id_col} long, sel_rank long, dist double")
    picks = [(seed[0]["__id"], 1, 0.0)]
    center = seed[0]["__v"]
    have_mind = False
    for r in range(2, k + 1):
        cent = F.array(*[F.lit(float(x)) for x in center])
        step = F.round(
            F.aggregate(
                F.zip_with(F.col("__v"), cent, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            ndigits,
        )
        mind = F.least(F.col("__mind"), step) if have_mind else step
        base = base.select("__id", "__v", mind.alias("__mind")).transform(stage, eager=True)
        have_mind = True
        top = base.orderBy(F.col("__mind").desc(), F.col("__id").asc()).limit(1).collect()
        # coverage radius 0 = every point coincides with a selection
        # (k > distinct vectors); more picks add nothing
        if not top or top[0]["__mind"] == 0.0:
            break
        picks.append((top[0]["__id"], r, float(top[0]["__mind"])))
        center = top[0]["__v"]
    out = spark.createDataFrame(picks, ["__id", "sel_rank", "dist"])
    return out.select(
        F.col("__id").alias(id_col),
        F.col("sel_rank").cast("long").alias("sel_rank"),
        F.col("dist").cast("double").alias("dist"),
    )


def mmr_rerank(
    candidates: DataFrame,
    id_col: str,
    score_col: str,
    vec_col: str,
    k: int = 8,
    lam: float = 0.7,
    ndigits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` items maximizing
    ``λ·relevance − (1−λ)·max_cos_sim(already picked)`` — the
    diversity pass between a retrieval top-N (:func:`bm25_topk`, the
    ``ann_*`` family) and whatever consumes it (a context window, a
    labeling batch), killing the near-duplicate pile-up pure relevance
    ranking produces.

    Deterministic: similarities and the MMR score round to ``ndigits``
    *before* every comparison (the :func:`kmeans_assign` convention),
    ties to the smaller id; first pick is pure-relevance argmax (the
    running max-sim starts at 0).  Same shape as
    :func:`kcenter_coreset`: ``k`` rounds, each a narrow map against
    ONE broadcast vector + a distributed TakeOrdered(1) — input is a
    bounded candidate set (a top-N, not the corpus), so the loop cost
    is k small jobs.  Returns (id, sel_rank, mmr_score).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    spark = candidates.sparkSession
    base = candidates.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__rel"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        F.lit(0.0).alias("__ms"),
    ).transform(stage, eager=True)
    picks = []
    for r in range(1, k + 1):
        mmr = F.round(F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * F.col("__ms"), ndigits)
        top = (
            base.withColumn("__mmr", mmr)
            .orderBy(F.col("__mmr").desc(), F.col("__id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        picks.append((top[0]["__id"], r, float(top[0]["__mmr"])))
        cvec = F.array(*[F.lit(float(x)) for x in top[0]["__v"]])
        base = (
            base.where(F.col("__id") != F.lit(top[0]["__id"]))
            .select(
                "__id",
                "__rel",
                "__v",
                F.greatest(
                    F.col("__ms"), F.round(fn.cosine_similarity(F.col("__v"), cvec), ndigits)
                ).alias("__ms"),
            )
            .transform(stage, eager=True)
        )
    out = spark.createDataFrame(picks, ["__id", "sel_rank", "mmr_score"])
    return out.select(
        F.col("__id").alias(id_col),
        F.col("sel_rank").cast("long").alias("sel_rank"),
        F.col("mmr_score").cast("double").alias("mmr_score"),
    )


def _pq_kmeans(
    base: DataFrame,
    id_col: str,
    m: int,
    dsub: int,
    k: int,
    n_iter: int,
    salt: str,
    ndigits: int,
    scale: int = 1_000_000,
):
    """All ``m`` PQ sub-quantizers trained in ONE fused Lloyd's loop
    (round-15).  Bit-identical to ``m`` independent
    ``kmeans_assign(salt=f"{salt}{s}")`` calls over the subvector
    slices — same hash-rank init per subspace (``md5_long("{salt}{s}:"
    || id)``, ties by id), same literal-centroid rounded-d² argmin,
    same scaled-BIGINT integer means — but the JOB structure is fused
    over an exploded (id, subspace, subvector) frame: one driver
    action for all m inits, one per iteration for all m updates,
    instead of 3+ actions per subspace (driver round-trips scale with
    m × iterations at any cluster size; guide §1.4/§2.4).

    Returns ``(asg, centroids)``: ``asg`` = (id, __s, cluster, __d)
    lazily re-derived from the final codebooks, ``centroids`` =
    ``{s: {ci: [float, ...]}}`` driver state (m·k·dsub bounded).
    """
    sub = base.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("__s"),
                        F.slice("__v", s * dsub + 1, dsub).alias("__sub"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__e"),
    ).select(id_col, F.col("__e.__s").alias("__s"), F.col("__e.__sub").alias("__sub"))
    sub = spread_scan(sub, by=id_col).transform(stage, eager=False)

    hk = fn.md5_long(
        F.concat(
            F.lit(salt),
            F.col("__s").cast("string"),
            F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    w = Window.partitionBy("__s").orderBy(F.col("__hk").asc(), F.col(id_col).asc())
    init_rows = (
        sub.withColumn("__hk", hk)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("__s", "__rn", "__sub")
        .collect()
    )
    centroids: dict = {s: {} for s in range(m)}
    for r in init_rows:
        centroids[r["__s"]][r["__rn"] - 1] = list(r["__sub"])

    def _assign(cents):
        per_s = [
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("cluster"),
                        F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                    )
                    for ci, cv in sorted(cents[s].items())
                ]
            )
            for s in range(m)
        ]
        pick = F.element_at(F.array(*per_s), F.col("__s") + 1)
        best = F.array_min(
            F.transform(
                pick,
                lambda c: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("__sub"), c["cv"], lambda x, y: (x - y) * (x - y)
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        ndigits,
                    ).alias("__d"),
                    c["cluster"].alias("cluster"),
                ),
            )
        )
        return sub.select(
            id_col, "__s", "__sub", best["cluster"].alias("cluster"), best["__d"].alias("__d")
        )

    for _ in range(n_iter):
        sums = (
            _assign(centroids)
            .select(
                "__s",
                "cluster",
                F.posexplode(
                    F.transform("__sub", lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"))
                ).alias("dim", "xs"),
            )
            .groupBy("__s", "cluster", "dim")
            .agg(F.sum("xs").alias("sm"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: dict = {s: {} for s in range(m)}
        for r in sums:
            new[r["__s"]].setdefault(r["cluster"], {})[r["dim"]] = r["sm"] / (r["n"] * scale)
        centroids = {
            s: {
                ci: [new[s][ci][d] for d in range(len(old))] if ci in new[s] else old
                for ci, old in centroids[s].items()
            }
            for s in range(m)
        }

    asg = _assign(centroids).select(
        id_col, "__s", "cluster", F.col("__d").alias("dist")
    )
    return asg, centroids


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    salt: str = "pq",
    ndigits: int = 6,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the compression
    behind FAISS-style IVF-PQ and the standard way a 100 TB vector
    corpus fits in serving memory: split each vector into ``m``
    subvectors, learn a ``k``-centroid codebook per subspace
    (:func:`kmeans_assign`'s deterministic Lloyd's — hash-rank init,
    scaled-BIGINT means — run on the subvector slices), and store each
    vector as ``m`` small codes (m=8, k=16 → 4 bytes/vector vs 256
    for float32×64, a 64× compression; :func:`quantize_embeddings`'
    int8 path is the milder 4×).

    Returns (id, codes, recon_err): ``codes`` the JSON array of the m
    codebook indices in subspace order, ``recon_err`` the summed
    per-subspace squared quantization error (the training-quality
    readout; fixed subspace-order fold).  Deterministic end-to-end —
    codebooks, codes and errors reproduce exactly cross-engine.

    Scale: m independent kmeans runs, each the kmeans_assign shape
    (k×d driver state, broadcast-centroid assignment, integer-mean
    updates); the final pivot is one keyed collect_list per id.  ADC
    search over the codes is a broadcast of the m×k codebook — the
    ann_ivf pattern with a 64×-smaller corpus side.
    """
    if m < 1 or k < 1:
        raise ValueError(f"m and k must be positive, got {m}, {k}")
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).transform(stage, eager=False)
    dim_row = base.select(F.size("__v").alias("d")).limit(1).collect()
    if not dim_row:
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, codes string, recon_err double"
        )
    dim = dim_row[0]["d"]
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} is not divisible by m={m}")
    dsub = dim // m
    # fused multi-subspace Lloyd's (round-15): one driver action per
    # iteration for ALL m sub-quantizers — see _pq_kmeans
    allp, _cents = _pq_kmeans(base, id_col, m, dsub, k, n_iter, salt, ndigits)
    return allp.groupBy(id_col).agg(
        F.to_json(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__s").alias("k"), F.col("cluster").alias("v")))
                ),
                lambda x: x["v"],
            )
        ).alias("codes"),
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__s").alias("k"), F.col("dist").alias("v")))
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ),
            ndigits,
        ).alias("recon_err"),
    )


def ann_pq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_df: DataFrame,
    q_id_col: str,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    topk: int = 5,
    salt: str = "pq",
    ndigits: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over product-quantized
    codes (Jégou et al. 2011) — the serving half of :func:`pq_encode`:
    train the per-subspace codebooks on the corpus, encode the corpus
    once, then answer each query from an m×k distance TABLE instead of
    the raw vectors.  Per (query, corpus vector) the approximate
    squared distance is Σ_s table[s][code_s] — the corpus side touches
    only 4-byte codes, which is why PQ search runs at 100 TB scale
    where exact :func:`ann_topk` cannot.

    Scale shape: the distance tables are (|queries|·m·k) rows —
    driver-built from the k×d codebooks (bounded state, the kmeans
    rule) and **broadcast**; the corpus-side cost is one code
    equi-join + one per-pair fold in subspace order + a per-query
    top-k window.  Deterministic end-to-end: table entries reproduce
    bit-for-bit (same IEEE fold the codebooks used) and rounding
    precedes every comparison.  Returns (q_id, id, adist).
    """
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    spark = df.sparkSession
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).transform(stage, eager=False)
    dim_row = base.select(F.size("__v").alias("d")).limit(1).collect()
    if not dim_row:
        return spark.createDataFrame([], f"q_id long, {id_col} long, adist double")
    dim = dim_row[0]["d"]
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} is not divisible by m={m}")
    dsub = dim // m
    qrows = query_df.select(
        F.col(q_id_col).alias("qid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    ).collect()

    # fused multi-subspace Lloyd's (round-15): one driver action per
    # iteration for ALL m sub-quantizers — see _pq_kmeans
    asg, cents_by_s = _pq_kmeans(base, id_col, m, dsub, k, n_iter, salt, ndigits)
    codes = asg.select(F.col(id_col), F.col("__s").alias("s"), "cluster")
    tbl_rows = []
    for s in range(m):
        for q in qrows:
            qs = q["qv"][s * dsub : (s + 1) * dsub]
            for ci, cv in sorted(cents_by_s[s].items()):
                d = 0.0  # same left-to-right IEEE fold as the JVM d2
                for a, b in zip(qs, cv):
                    d += (a - b) * (a - b)
                tbl_rows.append((q["qid"], s, ci, d))
    tbl = spark.createDataFrame(tbl_rows, "qid long, s int, cluster int, qd double")
    pairs = codes.join(F.broadcast(tbl), ["s", "cluster"]).select(
        "qid", F.col(id_col), "s", F.round("qd", ndigits).alias("__qd")
    )
    ad = pairs.groupBy("qid", id_col).agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(F.col("s").alias("k"), F.col("__qd").alias("v")))),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ),
            ndigits,
        ).alias("adist")
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist").asc(), F.col(id_col).asc())
    return (
        ad.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= topk)
        .select(F.col("qid").alias("q_id"), F.col(id_col), "adist")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Per-vector int8 quantization for embedding storage: each vector
    is mapped to ``q_i = floor((x_i - min) / scale + 0.5)`` in 0..255
    with ``scale = (max - min) / 255`` — 4× smaller than float32 at
    100 TB embedding scale, the standard affine scheme (per-vector
    min/max, not per-corpus, so outlier vectors don't crush everyone
    else's resolution).  ``floor(x + 0.5)`` instead of ``round`` makes
    the tie behavior identical on every engine.  Constant vectors
    (scale 0) quantize to all-zeros.

    Returns (id, scale, offset, q, max_err) — ``q`` JSON-encoded,
    ``max_err`` the worst absolute dequantization error, the number a
    recall-regression gate thresholds on.  Pure Column expressions,
    codegen'd; the scan is spread (round 15 — no-op on well-split
    layouts) because the per-row transform/to_json chain dominates and
    would otherwise run on the input's row-group count.
    """
    df = spread_scan(df.select(id_col, vec_col))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lo = F.array_min(v)
    hi = F.array_max(v)
    scale = (hi - lo) / F.lit(255.0)
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor((x - lo) / scale + F.lit(0.5)).cast("int"))
    )
    deq = F.zip_with(q, v, lambda qq, x: F.abs(qq.cast("double") * scale + lo - x))
    return df.select(
        F.col(id_col),
        F.round(scale, ndigits).alias("scale"),
        F.round(lo, ndigits).alias("offset"),
        F.to_json(q).alias("q"),
        F.round(F.array_max(deq), ndigits).alias("max_err"),
    )


def oversample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    factors: dict,
    salt: str = "over",
) -> DataFrame:
    """Deterministic source oversampling — the upsample half of corpus
    mixing (GPT-3 Table 2.2 trains high-quality sources for >1 epoch;
    :func:`temperature_sample` can only downsample): each row of group
    ``g`` is emitted ``floor(factors[g])`` times plus one more copy
    behind an ``md5_long(salt:id:copy)`` hash gate with probability
    ``frac(factors[g])``, so a factor of 2.5 yields every row twice and
    a reproducible half of rows a third time.  Groups absent from
    ``factors`` default to 1.0 (pass through once).

    Output = input rows with a ``copy`` index (1-based); feed the
    result to :func:`shuffle_order` to interleave the epochs into a
    training stream.  Pure per-row explode — shuffle-free; the copy
    blow-up is the contract, not overhead.
    """
    factor = F.lit(1.0)
    for g, r in factors.items():
        if r < 0:
            raise ValueError(f"factor for {g!r} must be >= 0, got {r}")
        factor = F.when(F.col(group_col) == g, F.lit(float(r))).otherwise(factor)
    whole = F.floor(factor).cast("int")
    frac = factor - whole
    # emit the gated extra candidate copy only when a fractional part
    # exists — otherwise every integral-factor row (the 1.0 default,
    # i.e. MOST of the corpus) would explode a doomed copy and hash it
    n_copies = whole + (frac > 0).cast("int")
    out = df.withColumn(
        "copy",
        # factor 0 -> zero copies; F.sequence(1, 0) would DESCEND, so
        # the empty case must be an explicit empty array (drops the row)
        F.explode(
            F.when(n_copies >= 1, F.sequence(F.lit(1), n_copies)).otherwise(
                F.array().cast("array<int>")
            )
        ),
    )
    gate = (
        fn.md5_long(
            F.concat(
                F.lit(salt), F.lit(":"), F.col(id_col).cast("string"),
                F.lit(":"), F.col("copy").cast("string"),
            )
        )
        % 1_000_000
    )
    return out.where(
        (F.col("copy") <= whole) | (gate < F.floor(frac * 1_000_000).cast("long"))
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    n_buckets: int = 3,
    ndigits: int = 4,
) -> DataFrame:
    """CCNet-style per-language quality bands (Wenzek et al. 2020): rank
    each language's documents by LM score and cut into ``n_buckets``
    equal bands — head/middle/tail for the default 3, the split CCNet
    uses to keep head+middle and drop tail.  The score is
    :func:`bigram_logprob`'s mean bigram log-probability (higher =
    more fluent = lower perplexity); CCNet proper scores with a KenLM
    trained on Wikipedia, whereas here the corpus scores itself — the
    honest in-engine variant when no external LM artifact exists.

    Banding is ``ntile`` over (language, score desc, id) — exact and
    deterministic on every engine, unlike percentile thresholds whose
    interpolation differs.  Docs with < 2 tokens have no bigrams and
    are absent, inherited from the scorer.

    Returns (id, lang, avg_bigram_lp, bucket, band) — bucket 1..n,
    band head/middle/tail when ``n_buckets`` is 3 else ``str(bucket)``.

    Scale posture: the scorer's keyed aggregates plus ONE window
    shuffle partitioned by language.  Per-language partitions can skew
    (English is half the web) — at 100 TB band per (lang, shard) with
    a salted partition key and merge band boundaries, or accept the
    documented single-reducer-per-language cost.
    """
    lp = bigram_logprob(df, id_col, text_col, ndigits=ndigits)
    labeled = lp.join(df.select(F.col(id_col), F.col(lang_col).alias("lang")), id_col)
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_bigram_lp").desc(), F.col(id_col).asc()
    )
    out = labeled.withColumn("bucket", F.ntile(n_buckets).over(w))
    if n_buckets == 3:
        band = (
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        band = F.col("bucket").cast("string")
    return out.select(
        F.col(id_col), "lang", "avg_bigram_lp", "bucket", band.alias("band")
    )


def trim_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring deduplication — the REMOVE half of
    :func:`dup_ngram_fraction`'s measurement: every token covered by a
    word ``n``-gram that occurs in ≥ ``min_docs`` distinct documents is
    deleted, and the document is rebuilt from the surviving tokens
    (ExactSubstr dedup, Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" — theirs is suffix-array char-level;
    word-n-gram cover is the shuffle-friendly corpus-scale variant).
    Cross-doc only: a gram repeated inside ONE doc is boilerplate for
    :func:`repetition_stats`, not this op.

    Returns (id, n_tokens, n_removed, text_clean) per doc —
    ``text_clean`` is whitespace-normalized (the op tokenizes first);
    docs shorter than ``n`` tokens have no grams and pass through whole,
    but docs whose text tokenizes to NOTHING (empty/null) have no rows
    to rebuild from and are absent — left-join the output back to the
    id universe if empty docs must survive the rewrite.

    Scale posture: grams are hashed to bigints before any shuffle (gram
    text never crosses the wire); the duplicated-gram table is
    vocabulary-sized and joins back keyed; position cover is a distinct
    on (doc, pos) — all keyed, map-combinable shuffles, and the rebuild
    is the same per-doc array_sort fold as :func:`bpe_encode`.
    """
    toks = df.select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__t")
    ).transform(stage, eager=False)
    # gram start positions, 1-based (posexplode index j -> slice start j+1)
    grams = (
        toks.select(
            F.col(id_col),
            F.posexplode(word_ngrams_from_tokens(F.col("__t"), n)).alias("__j", "__g"),
        )
        .select(F.col(id_col), (F.col("__j") + 1).alias("__start"), fn.md5_long("__g").alias("__h"))
        .transform(stage, eager=False)
    )
    dup = (
        grams.select(id_col, "__h")
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__d"))
        .where(F.col("__d") >= min_docs)
        .select("__h")
    )
    covered = (
        grams.join(dup, "__h")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("__start"), F.col("__start") + (n - 1))).alias("__pos"),
        )
        .distinct()
        .withColumn("__cov", F.lit(True))
    )
    tokpos = toks.select(
        F.col(id_col), F.posexplode("__t").alias("__p", "__tok")
    ).select(F.col(id_col), (F.col("__p") + 1).alias("__pos"), "__tok")
    return (
        tokpos.join(covered, [id_col, "__pos"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("__cov"), F.lit(False)).cast("long")).alias("n_removed"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.coalesce(F.col("__cov"), F.lit(False)) == F.lit(False),
                                F.struct(F.col("__pos").alias("k"), F.col("__tok").alias("v")),
                            )
                        )
                    ),
                    lambda x: x["v"],
                ),
            ).alias("text_clean"),
        )
    )


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_stopword_hits: int = 2,
    max_dup_ngram_frac: float = 0.6,
    ngram_n: int = 2,
    lang: str = "en",
) -> DataFrame:
    """Composite C4/Gopher quality gate (Raffel et al. 2020 §2.2, Rae
    et al. 2021 §A1.1): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio, minimum stop-word evidence, duplicate-n-gram
    cap — every rule a pure Column expression, so the whole gate is one
    shuffle-free codegen'd projection over the scan.

    Returns the per-doc stats plus ``keep`` (AND of all rules); filter
    with ``.where("keep")`` or keep the stats for threshold tuning.
    """
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks"),
    ).transform(stage, eager=False)
    base = base.withColumn(
        "__grams", word_ngrams_from_tokens(F.col("__toks"), ngram_n)
    ).transform(stage, eager=False)

    n = F.size("__toks")
    safe_n = F.greatest(n.cast("double"), F.lit(1.0))
    mean_len = F.round(
        F.aggregate(F.col("__toks"), F.lit(0.0), lambda a, t: a + F.length(t).cast("double"))
        / safe_n,
        6,
    )
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    stop_hits = F.size(F.filter(F.col("__toks"), lambda t: F.array_contains(stop, t)))
    symbol_ratio = F.round(
        F.regexp_count(F.col("__text"), F.lit(QUALITY_SYMBOLS)).cast("double") / safe_n, 6
    )
    dup_frac = F.when(F.size("__grams") <= 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("__grams")).cast("double")
            / F.size("__grams").cast("double"),
            6,
        )
    )
    stats = base.select(
        F.col(id_col),
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        stop_hits.alias("stop_hits"),
        dup_frac.alias("dup_ngram_frac"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("stop_hits") >= min_stopword_hits)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
    )
    return stats.withColumn("keep", keep)


def bpe_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 8,
) -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al. 2016 §3.2) —
    the full merge loop, not just one pair count
    (:func:`bpe_pair_counts` is the single-round primitive): each round
    counts adjacent symbol pairs over the word-frequency table weighted
    by word frequency, picks the most frequent pair (ties broken by
    lexicographically smallest — a total order, so the winner is unique
    and cross-engine deterministic), and merges every non-overlapping
    left-to-right occurrence.

    Words are represented as symbol strings joined by TWO spaces
    (``"  l  o  w  "``), so a merge is one plain
    ``replace(' l  r ', ' lr ')`` over the vocabulary: the match
    consumes one of the two delimiter spaces on each side, so adjacent
    occurrences never share a delimiter and every non-overlapping
    left-to-right occurrence merges in a single pass (a single-space
    representation under-merges runs — ``b a n a n a`` → ``b an a n a``
    — because the shared middle space is consumed by the first match).
    Identical plain-``replace`` semantics in Spark and SQL engines, no
    regex lookarounds needed (DuckDB's RE2 has none).  Per
    round: one explode + integer hash aggregate over the *vocabulary*
    (millions of rows at 100 TB where the corpus is trillions; the
    corpus itself is touched exactly once, by the word count) and a
    1-row argmax collect (bounded driver state, like the KMeans
    centroids).  All counts are integers — no float-order exposure.

    Returns the learned merge table (rank, lhs, rhs, merged, cnt).
    """
    words = (
        df.select(F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .where(F.length("word") >= 2)
    )
    seqs = words.select(
        F.concat(F.lit("  "), F.concat_ws("  ", F.split("word", "")), F.lit("  ")).alias("seq"),
        "wf",
    ).transform(stage, eager=False)

    merges: list[tuple] = []
    cuts = LoopCuts()  # persist mode: unpersist seqs >2 merge ranks old
    for rank in range(1, n_merges + 1):
        toks = F.split(F.trim("seq"), " +")
        adj = F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.when(b.isNotNull(), F.concat(a, F.lit(" "), b)),
        )
        best = (
            seqs.select("wf", F.explode(F.filter(adj, lambda p: p.isNotNull())).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("wf").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0].pair, best[0].cnt
        lhs, _, rhs = pair.partition(" ")
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        seqs = seqs.select(
            F.replace("seq", F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs + rhs} ")).alias("seq"),
            "wf",
        ).transform(cuts.cut, eager=False)

    return df.sparkSession.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, cnt bigint"
    )


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: DataFrame | None = None,
    n_merges: int = 8,
    preview: int = 8,
) -> DataFrame:
    """Encode documents with a learned BPE merge table (the output of
    :func:`bpe_train`) — the apply half of the tokenizer, so the
    train→encode loop is closed inside the engine.

    Scale design: the ranked merges are applied to the corpus's
    DISTINCT-WORD VOCABULARY (n_merges chained ``replace``s over
    millions of words — one narrow projection, no shuffle), never to
    the corpus text itself; the corpus is touched exactly twice — once
    to tokenize with position, once to join the word→pieces map back
    (AQE broadcasts the vocabulary when it fits).  Same two-space
    delimiter representation as training, so the per-word segmentation
    is exactly the one the learned merges imply.

    The merge table is collected driver-side — bounded state
    (``n_merges`` rows), like the KMeans centroids.  Per-doc piece
    arrays are O(doc length), the same posture as the text column.
    Returns (id, n_bpe, pieces_preview) — count + first ``preview``
    pieces per document.
    """
    if merges is None:
        merges = bpe_train(df, id_col, text_col, n_merges=n_merges)
    rules = [(r.lhs, r.rhs) for r in merges.orderBy("rank").collect()]

    toks = df.select(
        F.col(id_col),
        F.posexplode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("pos", "word"),
    )
    enc = toks.select("word").distinct().select(
        "word",
        F.concat(F.lit("  "), F.concat_ws("  ", F.split("word", "")), F.lit("  ")).alias("seq"),
    )
    for lhs, rhs in rules:
        enc = enc.withColumn(
            "seq", F.replace("seq", F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs + rhs} "))
        )
    enc = enc.select("word", F.split(F.trim("seq"), " +").alias("__pieces"))

    per_doc = (
        toks.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__pieces"))),
                    lambda x: x["__pieces"],
                )
            ).alias("__flat")
        )
    )
    return per_doc.select(
        F.col(id_col),
        F.size("__flat").alias("n_bpe"),
        F.slice("__flat", 1, preview).alias("pieces_preview"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split long documents into fixed-size overlapping token windows —
    the long-document complement to :func:`pack_sequences` (which packs
    short documents up to a budget): every context-length-bounded
    training pipeline needs both halves.

    Chunk starts step by ``chunk_size - overlap``; the final chunk may
    be short (kept — downstream filters decide, the splitter stays
    lossless).  Pure Column ops: one ``sequence`` of starts + ``slice``
    per chunk, exploded — per-row work is O(doc length), no shuffle at
    all (the explode is a narrow map), and every output value is an
    integer or a substring, so the oracle is exact.

    Returns (id, chunk_id, start_tok, n_tokens_chunk, chunk_text).
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap ({overlap}) must be < chunk_size ({chunk_size})")
    stride = chunk_size - overlap
    toks = F.col("__toks")
    staged = df.select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks")
    ).where(F.size("__toks") > 0)
    chunks = staged.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks), F.lit(stride)),
                lambda s: F.struct(
                    s.alias("start"), F.slice(toks, s, chunk_size).alias("piece")
                ),
            )
        ).alias("chunk_id", "__c"),
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint"),
        F.col("__c.start").cast("bigint").alias("start_tok"),
        F.size("__c.piece").alias("n_tokens_chunk"),
        F.concat_ws(" ", "__c.piece").alias("chunk_text"),
    )


def source_mix(
    df: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Corpus mixture report: per (source, lang) document counts, token
    and character volume, and share of the corpus — the first table any
    training-data curation pass produces (what goes into the mix, and
    how much).

    One keyed aggregate (map-side combined) + a broadcast 1-row total;
    all sums are integers until the final share division, so the result
    is exact at any parallelism.  Returns
    (source, lang, n_docs, n_tokens, n_chars, doc_share).
    """
    per = df.groupBy(source_col, lang_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(fn.tokenize(fn.normalize(F.col(text_col))))).alias("n_tokens"),
        F.sum(F.length(text_col)).alias("n_chars"),
    )
    total = per.agg(F.sum("n_docs").alias("__total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            source_col,
            lang_col,
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(F.col("n_docs") / F.col("__total"), ndigits).alias("doc_share"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ndigits: int = 4,
) -> DataFrame:
    """Per-document mean bigram conditional log-probability
    ``mean(ln c(w_{i-1} w_i) / c(w_{i-1}·))`` under the corpus's own
    bigram counts — the order-sensitive sibling of
    :func:`unigram_logprob` (CCNet-style quality band): shuffled or
    templated text scores far from the corpus mode even when its
    unigram profile is normal.

    ``c(w_{i-1}·)`` counts the token's occurrences *as a bigram head*
    (n_tokens - 1 per doc), so probabilities condition on exactly the
    events in the numerator table.  Bigrams come from a narrow
    ``zip_with(toks, slice(toks, 2, ...))`` — no self-join, the pair
    stream is one map pass.  Shuffle budget: one bigram aggregate + one
    head aggregate (both map-side combined), two vocabulary joins
    (AQE-broadcast), one per-doc aggregate.  The float mean folds per
    doc in fixed position order (same hash-stability rationale as
    :func:`char_entropy`).  Docs with < 2 tokens have no bigrams and
    are absent from the output, matching the oracle.
    Returns (id, n_bigrams, avg_bigram_lp).
    """
    arr = fn.tokenize(fn.normalize(F.col(text_col)))
    pairs = F.zip_with(
        arr,
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.when(
            b.isNotNull(), F.struct(a.alias("w1"), b.alias("w2"))
        ),
    )
    bi = (
        df.select(
            F.col(id_col),
            F.posexplode(F.filter(pairs, lambda p: p.isNotNull())).alias("pos", "__p"),
        )
        .select(F.col(id_col), "pos", F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .transform(stage, eager=False)
    )
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    hc = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("__ch"))
    lp = (
        bi.join(bc, ["w1", "w2"]).join(hc, "w1")
        .select(
            F.col(id_col),
            "pos",
            F.log(F.col("__cb").cast("double") / F.col("__ch").cast("double")).alias("__lp"),
        )
    )
    folded = lp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("pos").alias("k"), F.col("__lp").alias("v")))),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("__s"),
    )
    return folded.select(
        F.col(id_col),
        "n_bigrams",
        F.round(F.col("__s") / F.col("n_bigrams"), ndigits).alias("avg_bigram_lp"),
    )


def kn_bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document average log-probability under an interpolated
    Kneser-Ney bigram model trained on the corpus itself (Kneser &
    Ney 1995; the fixed-discount form of Chen & Goodman 1999):

    ``P(w2|w1) = (max(c(w1,w2) − D, 0) + D · N1+(w1,·) · Pcont(w2)) / c(w1)``
    ``Pcont(w2) = N1+(·,w2) / N1+(·,·)``

    The continuation distribution scores *how many contexts* a word
    follows, which is what separates fluent text from stuffed/repeated
    keywords — a strictly better perplexity signal than the MLE
    :func:`bigram_logprob` because no bigram gets probability zero.

    Same shuffle shape as :func:`bigram_logprob` plus two distinct-
    type aggregates (both map-side combinable, vocabulary-sized
    outputs); per-doc fold in fixed position order.  Docs with < 2
    tokens have no bigrams and are absent.  Returns
    (id, n_bigrams, avg_kn_lp).
    """
    if not (0.0 < discount < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    staged = df.select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__t")
    )
    bi = (
        staged.where(F.size("__t") >= 2)
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.struct(
                        F.element_at("__t", i).alias("w1"),
                        F.element_at("__t", i + 1).alias("w2"),
                    ),
                )
            ).alias("pos", "__p"),
        )
        .select(F.col(id_col), "pos", F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .transform(stage, eager=False)
    )
    cb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    ch = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("__ch"))
    n1_fw = cb.groupBy("w1").agg(F.count(F.lit(1)).alias("__n1fw"))
    n1_bw = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("__n1bw"))
    # type count stays in-plan as a broadcast one-row aggregate — an
    # eager .count() here would run a full corpus pass at plan-BUILD time
    n_types = cb.agg(F.count(F.lit(1)).cast("double").alias("__T"))
    d = F.lit(discount)
    lp = (
        bi.join(cb, ["w1", "w2"])
        .join(ch, "w1")
        .join(n1_fw, "w1")
        .join(n1_bw, "w2")
        .crossJoin(F.broadcast(n_types))
        .select(
            F.col(id_col),
            "pos",
            F.log(
                (
                    F.greatest(F.col("__cb") - d, F.lit(0.0))
                    + d * F.col("__n1fw") * (F.col("__n1bw") / F.col("__T"))
                )
                / F.col("__ch")
            ).alias("__lp"),
        )
    )
    folded = lp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("pos").alias("k"), F.col("__lp").alias("v")))),
            F.lit(0.0),
            lambda a, x: a + x["v"],
        ).alias("__s"),
    )
    return folded.select(
        F.col(id_col),
        "n_bigrams",
        F.round(F.col("__s") / F.col("n_bigrams"), ndigits).alias("avg_kn_lp"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 8192,
    alpha: float = 1.0,
    ndigits: int = 6,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every ``raw`` document by how much more likely its
    hashed-n-gram bag is under the ``target`` corpus' feature
    distribution than under the raw corpus' own — the published recipe
    for steering a 100 TB crawl toward a quality/domain target without
    a learned classifier (the classifier route here is
    :func:`nb_train`).

    Features are the paper's: unigrams + word bigrams of the
    normalized token stream, hashed into ``buckets`` via
    :func:`~backend_spark.functions.md5_long` (deterministic, no
    vocabulary to ship).  Both corpora induce add-``alpha`` smoothed
    bucket distributions; per document

    ``log_w = Σ_b n_b · (log p_target(b) − log p_raw(b))``

    with ``n_b`` the doc's occurrence count in bucket ``b``.  The
    actual *resampling* step is downstream composition — rank or gate
    on ``logweight`` (:func:`percentile_filter`), or feed it to
    :func:`temperature_sample` — so this op stays a pure scorer.

    Scale: the two distributions are ``buckets``-row tables built by
    one keyed count each and broadcast into the per-doc join; the raw
    corpus is touched twice (once for its distribution, once for
    scoring) and shuffles only on (doc, bucket).  The float fold runs
    in fixed bucket order per doc (hash-stability, as
    :func:`char_entropy`).  Docs with no tokens have no features and
    are absent from the output.  Returns (id, n_feats, logweight).
    """
    if buckets <= 0:
        raise ValueError(f"buckets must be positive, got {buckets}")

    def _bucketed(df: DataFrame, keep_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if keep_id else []
        # spread the text scan (round 15): tokenize + bigram + md5 per
        # feature otherwise run on the input's row-group count — this
        # serialised BOTH distribution builds and the scoring pass
        # (no-op on well-split layouts)
        src = spread_scan(df.select(*cols, F.col(text_col)))
        # stage the token array once — word_ngrams_from_tokens re-evaluates
        # its argument per reference if handed the raw expression
        staged = src.select(*cols, fn.tokenize(fn.normalize(F.col(text_col))).alias("__t"))
        grams = F.concat(F.col("__t"), word_ngrams_from_tokens(F.col("__t"), 2))
        return staged.select(*cols, F.explode(grams).alias("__g")).select(
            *cols,
            F.pmod(fn.md5_long(F.col("__g")), F.lit(buckets)).alias("__b"),
        )

    def _log_dist(feats: DataFrame, name: str):
        counts = feats.groupBy("__b").agg(F.count(F.lit(1)).alias("__c"))
        total = counts.agg(F.sum("__c")).collect()[0][0] or 0
        denom = float(total) + alpha * buckets
        lp = F.log((F.col("__c") + F.lit(alpha)) / F.lit(denom)).alias(name)
        # unseen-bucket floor as a JVM-side expression so seen and unseen
        # log-probs come out of the same libm (hash-stability vs the oracle)
        return counts.select("__b", lp), F.log(F.lit(alpha) / F.lit(denom))

    tgt_dist, tgt_floor = _log_dist(_bucketed(target, keep_id=False), "__lt")
    raw_dist, raw_floor = _log_dist(_bucketed(raw, keep_id=False), "__lr")
    doc = _bucketed(raw, keep_id=True).groupBy(id_col, "__b").agg(
        F.count(F.lit(1)).alias("__n")
    )
    per = (
        doc.join(F.broadcast(tgt_dist), "__b", "left")
        .join(F.broadcast(raw_dist), "__b", "left")
        .select(
            F.col(id_col),
            "__b",
            "__n",
            (
                F.col("__n")
                * (
                    F.coalesce(F.col("__lt"), tgt_floor)
                    - F.coalesce(F.col("__lr"), raw_floor)
                )
            ).alias("__w"),
        )
    )
    return (
        per.groupBy(id_col)
        .agg(
            F.sum("__n").alias("n_feats"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__b").alias("k"), F.col("__w").alias("v")))
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ).alias("__s"),
        )
        .select(F.col(id_col), "n_feats", F.round("__s", ndigits).alias("logweight"))
    )


def bloom_bits(
    df: DataFrame,
    text_col: str,
    n: int = 8,
    m_bits: int = 1 << 18,
    k: int = 4,
) -> DataFrame:
    """Build a Bloom filter over a corpus' distinct word ``n``-grams as
    a (word, mask) bitset table: position ``i`` of gram ``g`` is
    ``md5_long(g + '#' + i) mod m_bits``, packed 32 bits per row
    (32-bit words keep every mask a small positive BIGINT, so the
    identical bit arithmetic runs on any engine).  ≤ ``m_bits``/32
    rows — a 2^27-bit filter is 4 M rows / ~64 MB, broadcastable; this
    is how Dolma-style pipelines hold a benchmark (or a whole seen-set)
    in memory on every executor instead of shuffling the corpus
    against it.
    """
    if m_bits <= 0 or k <= 0:
        raise ValueError(f"m_bits and k must be positive, got {m_bits}, {k}")
    staged = df.select(fn.tokenize(fn.normalize(F.col(text_col))).alias("__t"))
    grams = staged.select(
        F.explode(word_ngrams_from_tokens(F.col("__t"), n)).alias("__g")
    ).distinct()
    pos = grams.select(
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"), "__g"
    ).select(
        F.pmod(
            fn.md5_long(F.concat_ws("#", F.col("__g"), F.col("__i").cast("string"))),
            F.lit(m_bits),
        ).alias("__pos")
    )
    return (
        pos.select(
            F.floor(F.col("__pos") / F.lit(32)).cast("long").alias("word"),
            # F.shiftleft takes only a literal shift count; the per-row
            # shift needs the SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 32 AS INT))").alias("__m"),
        )
        .groupBy("word")
        .agg(F.bit_or("__m").alias("mask"))
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    m_bits: int = 1 << 18,
    k: int = 4,
    threshold: float = 0.5,
    ndigits: int = 6,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter: build
    :func:`bloom_bits` from the benchmark's word ``n``-grams, probe
    every corpus document's distinct grams against it, and flag docs
    whose bloom-hit fraction reaches ``threshold``.

    vs :func:`decontaminate` (exact gram semi-join): the Bloom route
    never ships benchmark gram *text* anywhere — the filter is a fixed
    ``m_bits``-bit broadcast regardless of benchmark size, the
    production trade for huge seen-sets, at the price of a false-
    positive rate ≈ (1 − e^{−kN/m})^k that only *overestimates*
    contamination (safe direction: may drop clean docs, never keeps a
    contaminated one the exact check would catch).  Fully
    deterministic — the same md5 bit positions reproduce on any
    engine, so even the false positives are oracle-exact.

    Scale: probe joins the per-gram bit positions to the broadcast
    bitset on word id (no shuffle), then two keyed aggregates
    ((doc, gram) all-k-bits vote, then per-doc fraction).  Returns
    (id, n_grams, hit_frac, flagged); docs with fewer than ``n``
    tokens have no grams and are absent.
    """
    bits = bloom_bits(benchmark, text_col, n=n, m_bits=m_bits, k=k)
    staged = corpus.select(
        F.col(id_col), fn.tokenize(fn.normalize(F.col(text_col))).alias("__t")
    )
    grams = staged.select(
        F.col(id_col), F.explode(word_ngrams_from_tokens(F.col("__t"), n)).alias("__g")
    ).distinct()
    probe = grams.select(
        F.col(id_col),
        "__g",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"),
    ).select(
        F.col(id_col),
        "__g",
        F.pmod(
            fn.md5_long(F.concat_ws("#", F.col("__g"), F.col("__i").cast("string"))),
            F.lit(m_bits),
        ).alias("__pos"),
    ).select(
        F.col(id_col),
        "__g",
        F.floor(F.col("__pos") / F.lit(32)).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 32 AS INT))").alias("__m"),
    )
    hit = (
        probe.join(F.broadcast(bits), "word", "left")
        .select(
            F.col(id_col),
            "__g",
            F.coalesce(F.col("mask").bitwiseAND(F.col("__m")) != 0, F.lit(False)).alias("__hit"),
        )
        .groupBy(id_col, "__g")
        .agg(F.every("__hit").alias("__all"))
    )
    return (
        hit.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__all").cast("long")).alias("__h"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.round(F.col("__h") / F.col("n_grams"), ndigits).alias("hit_frac"),
            (F.col("__h") / F.col("n_grams") >= threshold).alias("flagged"),
        )
    )


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing fingerprint (Schleimer et al.): k-gram hashes → min per
    sliding window → sorted distinct mins as (id, fp array<bigint>).
    Cross-engine exact via md5_long; each stage is a materialized column
    so nothing re-evaluates inside the lambdas."""
    # barrier after normalize: the gram-builder lambda references __n per
    # element, and an inlined normalize would re-run its regex chain once
    # per gram (measured 2x the whole operator's cost at sf0.1)
    norm = (
        spread_scan(df.select(F.col(id_col), F.col(text_col)), by=id_col)
        .select(F.col(id_col), fn.normalize(F.col(text_col)).alias("__n"))
        .transform(stage, eager=False)
    )
    staged = (
        norm.withColumn(
            "__grams",
            F.when(F.length("__n") <= k, F.array(F.col("__n"))).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.length("__n") - (k - 1)),
                    lambda i: F.col("__n").substr(i, F.lit(k)),
                )
            ),
        )
        .withColumn("__hs", F.transform(F.col("__grams"), lambda g: fn.md5_long(g)))
        .select(F.col(id_col), F.col("__hs"))
        # barrier before the rolling min: 4 slice references below would
        # otherwise re-evaluate the whole gram+hash chain 4x
        .transform(stage, eager=False)
    )
    # rolling min over `window` = elementwise least of `window` shifted
    # copies — `window` slices total instead of one slice per position
    n_win = F.greatest(F.size("__hs") - (window - 1), F.lit(1))
    mins = F.slice(F.col("__hs"), 1, n_win)
    for off in range(1, window):
        # truncate to n_win so zip_with never pads mins; short arrays
        # yield nulls on the shifted side -> keep the running min
        shifted = F.slice(F.col("__hs"), off + 1, n_win)
        mins = F.zip_with(mins, shifted, lambda a, b: F.least(a, F.coalesce(b, a)))
    return staged.withColumn("fp", F.array_sort(F.array_distinct(mins))).select(id_col, "fp")


# ---------------------------------------------------------------------------
# multimodal columns (binary payload + typed metadata)
# ---------------------------------------------------------------------------

MULTIMODAL_SCHEMA = (
    "doc_id bigint, media binary, media_type string, "
    "width int, height int, sample_rate int, duration_s double"
)


def _image_dims_from_header(b: bytes) -> tuple[int, int] | None:
    """(width, height) from PNG/GIF/BMP/JPEG headers — pure Python, no
    image library (the formats' public specs put dimensions in fixed or
    marker-addressed positions).  None when the payload is not a
    recognized image."""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
        return int.from_bytes(b[16:20], "big"), int.from_bytes(b[20:24], "big")
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return int.from_bytes(b[6:8], "little"), int.from_bytes(b[8:10], "little")
    # reserved bytes 6-10 must be zero — rules out text that starts "BM"
    if len(b) >= 26 and b[:2] == b"BM" and b[6:10] == b"\x00\x00\x00\x00":
        return (
            int.from_bytes(b[18:22], "little", signed=True),
            abs(int.from_bytes(b[22:26], "little", signed=True)),
        )
    if len(b) >= 4 and b[:2] == b"\xff\xd8":  # JPEG: scan to an SOFn marker
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                return None
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                return (
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                )
            i += 2 + seg_len
    return None


def decode_image_features(df: DataFrame, media_col: str = "media", real_decode: bool = False) -> DataFrame:
    """Image feature extraction over opaque binary columns via
    mapInPandas (Arrow batches of bytes).  Three decode tiers, best
    available per payload:

    1. Pillow, when importable on the executor (full decode);
    2. pure-Python header parsing for PNG/GIF/BMP/JPEG (real
       dimensions, zero dependencies);
    3. a deterministic md5 stub for unrecognized payloads (keeps
       schema/batching/partitioning testable on synthetic bytes).

    real_decode=True demands a real decode: unrecognized payloads raise
    NotImplementedError instead of falling back to the stub.
    """
    import hashlib

    out_schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}, feat_len bigint, feat_w int, feat_h int"

    def _dims(b) -> tuple[int, int]:
        b = bytes(b) if b is not None else b""
        try:
            import io

            from PIL import Image

            with Image.open(io.BytesIO(b)) as im:
                return im.width, im.height
        except ImportError:
            pass
        except Exception:
            pass  # not decodable by PIL; try the header parser
        dims = _image_dims_from_header(b)
        if dims is not None:
            return dims
        if real_decode:
            raise NotImplementedError(
                "payload is not a recognized image (PNG/GIF/BMP/JPEG) and PIL "
                "is unavailable — plug a decoder in here when deploying"
            )
        d = hashlib.md5(b).digest()
        return 16 + d[0] % 240, 16 + d[1] % 240

    def _batches(it):
        for pdf in it:
            payload = pdf[media_col]
            pdf = pdf.copy()
            pdf["feat_len"] = payload.map(lambda b: len(b) if b is not None else 0)
            dims = payload.map(_dims)
            pdf["feat_w"] = dims.map(lambda d: d[0])
            pdf["feat_h"] = dims.map(lambda d: d[1])
            yield pdf

    return df.mapInPandas(_batches, schema=out_schema)


def _wav_pcm_samples(b: bytes):
    """Decode a RIFF/WAVE payload to mono float64 samples in [-1, 1] —
    pure stdlib + numpy, no audio library.  Walks the chunk list per
    the public WAVE spec; supports PCM (format 1) at 8/16/24/32 bit and
    IEEE float (format 3) at 32/64 bit.  Returns None when the payload
    is not a decodable WAV."""
    import numpy as np

    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        body = b[i + 8 : i + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = (
                int.from_bytes(body[0:2], "little"),  # audio format
                int.from_bytes(body[2:4], "little"),  # channels
                int.from_bytes(body[14:16], "little"),  # bits/sample
            )
        elif cid == b"data" and fmt is not None:
            if i + 8 + size > len(b):
                # truncated/corrupt data chunk: reject rather than
                # silently computing features from partial audio
                return None
            audio_format, n_ch, bits = fmt
            if n_ch < 1:
                return None
            if audio_format == 1 and bits == 8:  # 8-bit PCM is unsigned
                x = (np.frombuffer(body, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
            elif audio_format == 1 and bits == 16:
                x = np.frombuffer(body[: len(body) // 2 * 2], dtype="<i2").astype(np.float64) / 32768.0
            elif audio_format == 1 and bits == 24:
                raw = np.frombuffer(body[: len(body) // 3 * 3], dtype=np.uint8).reshape(-1, 3)
                vals = (
                    raw[:, 0].astype(np.int64)
                    | raw[:, 1].astype(np.int64) << 8
                    | raw[:, 2].astype(np.int64) << 16
                )
                vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
                x = vals.astype(np.float64) / float(1 << 23)
            elif audio_format == 1 and bits == 32:
                x = np.frombuffer(body[: len(body) // 4 * 4], dtype="<i4").astype(np.float64) / float(1 << 31)
            elif audio_format == 3 and bits == 32:
                x = np.frombuffer(body[: len(body) // 4 * 4], dtype="<f4").astype(np.float64)
            elif audio_format == 3 and bits == 64:
                x = np.frombuffer(body[: len(body) // 8 * 8], dtype="<f8").astype(np.float64)
            else:
                return None
            if n_ch > 1:  # interleaved -> mono mix
                x = x[: len(x) // n_ch * n_ch].reshape(-1, n_ch).mean(axis=1)
            return x
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return None


def extract_audio_features(
    df: DataFrame, media_col: str = "media", real_decode: bool = False
) -> DataFrame:
    """Audio feature extraction over opaque binary columns — same
    mapInPandas plumbing as :func:`decode_image_features` (Arrow byte
    batches, schema appended, partition-parallel).  Decode tiers, best
    available per payload:

    1. soundfile, when importable on the executor (any codec it knows);
    2. pure-stdlib WAV/PCM parsing (:func:`_wav_pcm_samples`) — real
       RMS and zero-crossing rate from the actual samples;
    3. a deterministic md5 stub for unrecognized payloads (keeps
       schema/batching/partitioning testable on synthetic bytes);
       real_decode=True raises NotImplementedError instead.
    """
    import hashlib

    out_schema = (
        f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema.fields)}, "
        "audio_bytes bigint, rms double, zcr double"
    )

    def _features(b) -> tuple[float, float]:
        import numpy as np

        b = bytes(b) if b is not None else b""
        x = None
        try:
            import io

            import soundfile as sf_mod

            data, _sr = sf_mod.read(io.BytesIO(b), dtype="float64", always_2d=True)
            x = data.mean(axis=1)
        except ImportError:
            pass
        except Exception:
            pass  # not decodable by soundfile; try the WAV parser
        if x is None:
            x = _wav_pcm_samples(b)
        if x is not None and len(x) > 0:
            rms = float(np.sqrt(np.mean(x * x)))
            zcr = (
                float(np.count_nonzero(np.diff(np.signbit(x)))) / (len(x) - 1)
                if len(x) > 1
                else 0.0
            )
            return round(rms, 6), round(zcr, 6)
        if real_decode:
            raise NotImplementedError(
                "payload is not a decodable WAV and soundfile is unavailable — "
                "plug a codec in here when deploying"
            )
        d = hashlib.md5(b).digest()
        return round(d[0] / 255.0, 6), round(d[1] / 255.0, 6)

    def _batches(it):
        for pdf in it:
            payload = pdf[media_col]
            pdf = pdf.copy()
            pdf["audio_bytes"] = payload.map(lambda b: len(b) if b is not None else 0)
            feats = payload.map(_features)
            pdf["rms"] = feats.map(lambda t: t[0])
            pdf["zcr"] = feats.map(lambda t: t[1])
            yield pdf

    return df.mapInPandas(_batches, schema=out_schema)


def sample_video_frames(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    n_frames: int = 4,
    real_decode: bool = False,
) -> DataFrame:
    """Frame sampling over opaque video payloads: a table-generating
    mapInPandas (one input row -> ``n_frames`` output rows), the shape
    a real ffmpeg-backed sampler would have.  The demux stage is
    STUBBED: frames are deterministic equal slices of the payload, so
    row multiplication, frame indexing and byte-slicing are testable
    end-to-end.  Output: (id, frame_idx, frame_bytes, frame binary)."""

    out_schema = f"{id_col} bigint, frame_idx int, frame_bytes bigint, frame binary"

    def _batches(it):
        import pandas as pd

        for pdf in it:
            if real_decode:
                raise NotImplementedError(
                    "video demux requires ffmpeg/pyav — plug the demuxer in here"
                )
            rows = {"id": [], "idx": [], "nb": [], "fr": []}
            for rid, payload in zip(pdf[id_col], pdf[media_col]):
                b = bytes(payload) if payload is not None else b""
                step = max(len(b) // n_frames, 1)
                for i in range(n_frames):
                    chunk = b[i * step : (i + 1) * step]
                    rows["id"].append(rid)
                    rows["idx"].append(i)
                    rows["nb"].append(len(chunk))
                    rows["fr"].append(chunk)
            yield pd.DataFrame(
                {
                    id_col: rows["id"],
                    "frame_idx": rows["idx"],
                    "frame_bytes": rows["nb"],
                    "frame": rows["fr"],
                }
            )

    return df.mapInPandas(_batches, schema=out_schema)


def url_normalize(
    df: DataFrame,
    url_col: str,
    drop_params: tuple[str, ...] = ("utm_[^=]*", "fbclid", "gclid", "msclkid", "ref"),
) -> DataFrame:
    """Canonicalize absolute URLs for web-corpus dedup and host-level
    curation (the CCNet/RefinedWeb preprocessing step: URL-keyed exact
    dedup only works after tracking noise is stripped).  Adds
    ``url_scheme``, ``url_host``, ``url_port`` (NULL when absent or the
    scheme default), ``url_path`` ('/' when empty), ``url_query``
    (tracking params dropped, rest sorted) and the rebuilt ``url_norm``.

    Pure Column regex/array work, RE2-safe (no backreferences, no
    lookaround) so the DuckDB oracle runs the same patterns; parameter
    sort is binary/ASCII in both engines.  Rows whose value has no
    ``scheme://`` prefix get empty scheme/host and pass through
    verbatim in ``url_norm`` — garbage in, tagged garbage out (filter
    on ``url_host != ''`` downstream).
    """
    name_pat = "^(" + "|".join(drop_params) + ")$"
    u = F.trim(F.col(url_col))
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    auth = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.element_at(F.split(auth, "@"), -1)
    port_s = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    host = F.lower(F.regexp_replace(hostport, r":[0-9]+$", ""))
    port = F.when(port_s != "", port_s.cast("int"))
    is_default = ((scheme == "http") & (port == 80)) | (
        (scheme == "https") & (port == 443)
    )
    port_norm = F.when(~F.coalesce(is_default, F.lit(False)), port)
    tail = F.regexp_extract(rest, r"^[^/?#]*(.*)$", 1)
    path = F.regexp_extract(tail, r"^([^?#]*)", 1)
    path_norm = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(tail, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.regexp_extract(p, "^([^=]*)", 1).rlike(name_pat),
    )
    query_norm = F.array_join(F.array_sort(params), "&")
    has_url = scheme != ""
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(port_norm.isNotNull(), F.concat(F.lit(":"), port_norm.cast("string"))).otherwise(F.lit("")),
        path_norm,
        F.when(query_norm != "", F.concat(F.lit("?"), query_norm)).otherwise(F.lit("")),
    )
    return df.select(
        "*",
        F.when(has_url, scheme).otherwise(F.lit("")).alias("url_scheme"),
        F.when(has_url, host).otherwise(F.lit("")).alias("url_host"),
        F.when(has_url, port_norm).alias("url_port"),
        F.when(has_url, path_norm).alias("url_path"),
        F.when(has_url, query_norm).alias("url_query"),
        F.when(has_url, rebuilt).otherwise(u).alias("url_norm"),
    )


def readability(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flesch reading-ease scoring — the classic text-quality feature
    (alongside quality_filter's ratio gates) for corpus curation:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``.

    Heuristics (all pure-Column regex counts, RE2-safe so the DuckDB
    oracle runs the same patterns): words = maximal ``[A-Za-z]+`` runs;
    sentences = maximal ``[.!?]+`` runs (min 1); syllables = maximal
    vowel-group runs ``[aeiouyAEIOUY]+`` (min 1 per text).  Rounded to
    4.  Empty/word-free texts score NULL rather than a fake number.

    Scale shape: shuffle-free narrow projection — three regexp_count
    expressions inside one whole-stage-codegen span; no tokenize
    explode, no aggregate.
    """
    words = F.regexp_count(F.col(text_col), F.lit("[A-Za-z]+")).cast("double")
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit("[.!?]+")), F.lit(1)
    ).cast("double")
    sylls = F.greatest(
        F.regexp_count(F.col(text_col), F.lit("[aeiouyAEIOUY]+")), F.lit(1)
    ).cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sents)
        - F.lit(84.6) * (sylls / words)
    )
    return df.select(
        F.col(id_col),
        words.cast("int").alias("n_words"),
        sents.cast("int").alias("n_sentences"),
        sylls.cast("int").alias("n_syllables"),
        F.when(words > 0, F.round(score, 4)).alias("flesch"),
    )


def sentence_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Sentence segmentation for chunking/readability pipelines: split
    on terminal-punctuation runs (``[.!?]+`` followed by whitespace or
    end), keep each sentence with its ordinal position and word count.
    RE2-safe (no lookbehind — the trailing punctuation is consumed, as
    corpus chunkers conventionally accept), so the DuckDB oracle runs
    the identical pattern.  ``sent_id`` is the pre-filter split
    position, so ids are stable even when empty segments are dropped.

    Scale shape: pure split + posexplode projection over the scan —
    no shuffle, no UDF.
    """
    parts = F.split(F.col(text_col), r"[.!?]+(\s+|$)")
    out = df.select(
        F.col(id_col), F.posexplode(parts).alias("sent_id", "__s")
    ).withColumn("sentence", F.trim(F.col("__s")))
    return (
        out.where(F.length("sentence") > 0)
        .select(
            id_col,
            "sent_id",
            "sentence",
            F.size(F.split(F.col("sentence"), r"\s+")).cast("int").alias("n_words"),
        )
    )


def budget_select(
    df: DataFrame,
    group_col: str,
    size_col: str,
    budget: int,
    priority_col: str,
    id_col: str,
) -> DataFrame:
    """Greedy per-group budgeted selection: keep rows in (priority DESC,
    id ASC) order while the group's running ``size_col`` total stays
    within ``budget`` — how a training mix takes "the best N tokens per
    source" rather than a blind fraction (the Pile/Dolma source-budget
    step).  Strict rule: a row whose size would cross the budget is
    dropped (later, smaller rows may still fit).  Adds ``cum_size``
    (the running total INCLUDING the row, deterministic via the unique
    ``id_col`` tiebreak).

    Scale shape: ONE keyed window shuffle+sort; the cumulative sum is
    running state inside the window, and the filter is a pure Column
    gate — no per-group collect, no second pass.  Sizes are taken
    as-is: a NEGATIVE size (a data bug) shrinks the running total and
    can re-admit later rows — ``quality.dq_check`` the size column
    upstream if that matters.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(priority_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("cum_size", F.sum(F.col(size_col).cast("long")).over(w))
    return out.where(F.col("cum_size") <= F.lit(int(budget)))


def group_centroid(
    df: DataFrame,
    group_col: str,
    vec_col: str,
    qscale: float = 1e6,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group mean embedding (class centroids for semdedup seeding,
    label prototypes, cluster summaries) whose values are HASH-EXACT
    cross-engine: each component is quantized to ``round(x*qscale)``
    BIGINT before summing, so the per-(group, dim) totals are exact
    integers under any partitioning, and the mean is the fixed double
    chain ``(sum/qscale)/n`` rounded to ``ndigits``.

    Scale shape: posexplode to (group, dim) rows, ONE map-side-combined
    aggregate (long sums combine in the map stage), then a per-group
    array rebuild via sorted collect_list — |groups|·dim rows after the
    combine, regardless of corpus size.  No driver state, no window.

    Returns (group, n_vecs, centroid array<double>).  Assumes
    fixed-dimension vectors per group (the embedding-table contract):
    ragged inputs average each dimension over the vectors that HAVE it
    and report ``n_vecs`` as the max — flag ragged corpora upstream
    with a ``size(vec)`` dq_check rather than here.
    """
    e = df.select(
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("__i", "__x"),
    )
    q = e.withColumn(
        "__q", F.round(F.col("__x").cast("double") * F.lit(float(qscale))).cast("long")
    )
    agg = q.groupBy("g", "__i").agg(
        F.sum("__q").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    comp = agg.select(
        "g",
        "__i",
        "__n",
        F.round(
            (F.col("__s") / F.lit(float(qscale))) / F.col("__n"), ndigits
        ).alias("__c"),
    )
    return (
        comp.groupBy("g")
        .agg(
            F.max("__n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("__i", "__c"))),
                lambda s: s["__c"],
            ).alias("centroid"),
        )
        .withColumnRenamed("g", group_col)
    )


def extract_links(
    df: DataFrame,
    id_col: str,
    html_col: str,
) -> DataFrame:
    """Outlink extraction from crawl HTML — the web-graph prep step
    (host-level curation, PageRank-style quality priors, link-spam
    filters all start from this edge list).  Pulls every ``href``
    attribute value (single-, double-, or un-quoted), keeps its
    position, and feeds naturally into :func:`url_normalize` +
    host aggregation downstream.

    RE2-safe: one alternation of three capture forms, no lookaround,
    so the DuckDB oracle runs the identical pattern.  Scale shape: a
    pure regexp_extract_all + posexplode projection over the scan —
    no shuffle, no UDF.
    """
    pat = "href\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>'\"]+))"
    # regexp_extract_all can return only ONE group per call, so extract
    # each alternative's group and merge positionally — a
    # non-participating group yields '', and at most one alternative
    # participates per match, so when-chaining picks the right one.
    l1 = F.regexp_extract_all(F.col(html_col), F.lit(pat), 1)
    l2 = F.regexp_extract_all(F.col(html_col), F.lit(pat), 2)
    l3 = F.regexp_extract_all(F.col(html_col), F.lit(pat), 3)
    merged = F.zip_with(
        F.zip_with(l1, l2, lambda a, b: F.when(a != "", a).otherwise(b)),
        l3,
        lambda a, b: F.when(a != "", a).otherwise(b),
    )
    out = df.select(
        F.col(id_col), F.posexplode(merged).alias("link_pos", "href")
    )
    return out.where(F.col("href") != "")


def source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source pair
    (a, b), the fraction of a's DISTINCT word n-grams that also occur
    in b — the corpus-level generalization of benchmark
    decontamination (a high off-diagonal cell means two "independent"
    sources share boilerplate or mirrored content and will double-count
    in training).  Returns (src_a, src_b, grams_a, shared, overlap)
    with overlap = round(shared / grams_a, 6), a != b.

    Scale shape: one distinct (group, gram) projection, then ONE
    map-side-combined groupBy(gram) collecting the gram's source SET —
    bounded by |sources|, not corpus size — whose ordered pairs explode
    to at most |sources|² rows per gram before the final tiny
    (src_a, src_b) count.  No gram-keyed self-join, no all-pairs over
    documents; the widest shuffle carries distinct (group, gram) rows.
    The per-gram source set is bounded by the GROUP cardinality — use a
    low-cardinality grouping (sources, domain rollups); for thousands
    of groups a stopword gram's set (and its pair explosion) grows
    quadratically, so roll groups up first.
    """
    toks = df.select(
        F.col(group_col).alias("src"),
        fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks"),
    ).transform(stage, eager=False)
    grams = (
        toks.select("src", F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias("g"))
        .distinct()
    )
    per_src = grams.groupBy("src").agg(F.count(F.lit(1)).alias("grams_a"))
    by_gram = grams.groupBy("g").agg(F.collect_set("src").alias("__ss"))
    pairs = by_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__ss",
                    lambda a: F.transform(
                        F.filter("__ss", lambda b: b != a),
                        lambda b: F.struct(a.alias("src_a"), b.alias("src_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(F.count(F.lit(1)).alias("shared"))
    return (
        shared.join(F.broadcast(per_src), shared.src_a == per_src.src, "inner")
        .select(
            "src_a",
            "src_b",
            "grams_a",
            "shared",
            F.round(F.col("shared") / F.col("grams_a"), 6).alias("overlap"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    id_col: str,
    group_col: str,
    lines_col: str,
    min_share: float = 0.5,
    min_docs: int = 2,
    ndigits: int = 6,
) -> DataFrame:
    """Per-group boilerplate detection (CCNet, Wenzek et al. 2020 §4.1;
    the measurement half of C4's line dedup): a line is boilerplate
    within a group (domain / source / template family) when it appears
    in at least ``min_share`` of the group's documents and at least
    ``min_docs`` documents absolutely.  :func:`dedup_lines` removes
    globally-duplicated lines; this REPORTS the per-group offenders —
    headers, footers, cookie banners — so curation can review or
    blocklist them before any destructive pass.

    ``lines_col`` is an ``array<string>``; duplicate lines within one
    document count once (document frequency, not term frequency).
    Output: (``group_col``, line, doc_freq, group_docs, share), one row
    per boilerplate line per group.  Documents with a NULL group drop
    out (the group join is null-rejecting, standard SQL key semantics)
    — bucket them explicitly upstream if ungrouped docs matter.

    Scale shape: explode → distinct on (group, line, id) → ONE
    (group, line) count aggregate, map-side combinable; the per-group
    document totals are a |groups|-row aggregate joined back via
    broadcast.  The corpus text crosses the wire once; no self-join,
    nothing quadratic.
    """
    if not (0.0 < min_share <= 1.0):
        raise ValueError(f"boilerplate_lines: min_share must be in (0, 1], got {min_share}")
    if min_docs < 1:
        raise ValueError(f"boilerplate_lines: min_docs must be >= 1, got {min_docs}")
    group_docs = (
        df.groupBy(group_col).agg(F.count_distinct(F.col(id_col)).alias("group_docs"))
    )
    doc_lines = (
        df.select(group_col, id_col, F.explode(lines_col).alias("line"))
        .where(F.col("line").isNotNull() & (F.col("line") != ""))
        .distinct()
    )
    freq = doc_lines.groupBy(group_col, "line").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    return (
        freq.join(F.broadcast(group_docs), group_col)
        .withColumn("share", F.round(F.col("doc_freq") / F.col("group_docs"), ndigits))
        .where(
            (F.col("doc_freq") >= min_docs)
            & (F.col("doc_freq") >= F.col("group_docs") * F.lit(min_share))
        )
        .select(group_col, "line", "doc_freq", "group_docs", "share")
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str,
    text_col: str,
    word_col: str = "token",
    ndigits: int = 6,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a reference
    vocabulary (:func:`build_vocab` output, a tokenizer's word list, or
    a curated lexicon) — the standard "is this text in-domain /
    well-formed enough to train on" gate that complements the
    surface-statistics :func:`quality_signals`: gibberish, wrong
    language, and OCR noise all surface as high OOV share.

    Tokenization is the house :func:`~backend_spark.functions.tokenize`
    ∘ :func:`~backend_spark.functions.normalize` chain (same as
    build_vocab, so a corpus-derived vocabulary lines up exactly).
    Output: (id, n_tokens, n_oov, oov_rate) — zero-token documents get
    n_tokens = 0 and a NULL rate rather than a division error.

    Scale shape: ONE explode over the corpus, a broadcast left-semi
    -style membership join against the (bounded) vocabulary — vocab
    ships to every executor once; the corpus never shuffles for the
    lookup — then ONE map-side-combinable per-doc count aggregate.
    """
    toks = df.select(
        F.col(id_col),
        F.explode_outer(fn.tokenize(fn.normalize(F.col(text_col)))).alias("__t"),
    )
    v = vocab.select(F.col(word_col).alias("__t")).distinct()
    hits = toks.join(
        F.broadcast(v.withColumn("__in", F.lit(1))), "__t", "left"
    )
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("__t").alias("n_tokens"),
            (F.count("__t") - F.count("__in")).alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("n_oov") / F.col("n_tokens"), ndigits),
            ).alias("oov_rate"),
        )
    )


def freq_phrases(
    df: DataFrame,
    text_col: str,
    n_min: int = 2,
    n_max: int = 4,
    min_count: int = 5,
) -> DataFrame:
    """Closed frequent phrase mining: word n-grams (``n_min..n_max``)
    with corpus count >= ``min_count``, pruned to CLOSED phrases — a
    phrase is dropped when some one-word extension occurs exactly as
    often (the extension subsumes it), so "new york" survives alone
    unless it only ever appears inside "new york city".  The standard
    compression for multi-word-vocabulary induction and boilerplate
    phrase books (Han et al., frequent-pattern mining; the tokenizer
    cousins are ``collocations``/``bpe_train``).

    Closedness needs one look-ahead level, so levels up to
    ``n_max + 1`` are counted and the top level serves only as a
    killer set.  Count monotonicity (an extension never outcounts its
    sub-phrase) makes the ``min_count`` cutoff safe to apply before the
    closedness join: a pruned extension can't have matched its
    sub-phrase's count anyway.

    Scale shape: the normalized token arrays stage once
    (localCheckpoint) and feed one map-side-combined count per level;
    killers derive from the counted phrases by string slicing (no
    re-tokenization) and meet the candidates in a keyed equi-join —
    token-count mismatch makes cross-level false joins impossible.
    The corpus itself never self-joins.
    """
    if not (1 <= n_min <= n_max):
        raise ValueError(f"freq_phrases: need 1 <= n_min <= n_max, got {n_min}..{n_max}")
    if min_count < 1:
        raise ValueError(f"freq_phrases: min_count must be >= 1, got {min_count}")
    toks = df.select(
        fn.tokenize(fn.normalize(F.col(text_col))).alias("__toks")
    ).transform(stage, eager=False)
    levels = []
    killers = []
    for n in range(n_min, n_max + 2):
        lvl = (
            toks.select(
                F.explode(word_ngrams_from_tokens(F.col("__toks"), n)).alias("phrase")
            )
            .groupBy("phrase")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") >= min_count)
        )
        if n <= n_max:
            levels.append(lvl.withColumn("n", F.lit(n)))
        if n > n_min:
            killers.append(
                lvl.select(
                    F.substring_index("phrase", " ", n - 1).alias("phrase"),
                    F.col("cnt").alias("__ext"),
                )
            )
            killers.append(
                lvl.select(
                    F.substring_index("phrase", " ", -(n - 1)).alias("phrase"),
                    F.col("cnt").alias("__ext"),
                )
            )
    cand = levels[0]
    for lvl in levels[1:]:
        cand = cand.unionByName(lvl)
    kill = killers[0]
    for k in killers[1:]:
        kill = kill.unionByName(k)
    kmax = kill.groupBy("phrase").agg(F.max("__ext").alias("__ext"))
    return (
        cand.join(kmax, "phrase", "left")
        .where(F.col("__ext").isNull() | (F.col("__ext") < F.col("cnt")))
        .select("phrase", F.col("n").cast("int").alias("n"), "cnt")
    )


def pca_top(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: int = 1000,
    n_iter: int = 30,
    ndigits: int = 6,
) -> DataFrame:
    """Top principal component of an embedding column — deterministic,
    hash-exact PCA for corpus-level embedding analytics (dominant
    variance direction; the building block for whitening checks,
    drift-of-the-embedding-space monitors, and the classic "remove the
    top component" rogue-dimension fix of Mu & Viswanath 2018).

    Two-phase, exact-arithmetic design (the ridge_train playbook):

    1. Components quantize to ``round(v·scale)`` int64; ONE
       ``mapInPandas`` pass emits per-batch integer partial Grams
       (``qᵀq``, dim×dim), component sums, and counts — Arrow-batched
       numpy matmul on int64, the documented Python-boundary exception,
       shipping ≤ (dim² + dim + 1) rows per batch instead of the
       corpus.  A keyed sum folds partials; the collect is bounded by
       dim² (dim ≤ 256 guarded).
    2. The scaled covariance ``C' = n·G − s·sᵀ`` (still exact BIGINT)
       gets ``n_iter`` driver-side power iterations from the all-ones
       vector, ascending-index accumulation, L2 normalization each
       step — a bit-reproducible trajectory the DuckDB oracle replays
       with ordered-aggregate folds (fs_em/bpe_train pattern), so the
       gate holds even BEFORE convergence.

    Integer headroom: |q| ≤ max|v|·scale; Gram entries bound by
    n·(max|v|·scale)² and C' by n²·(…)² — unit-norm embeddings at the
    default scale keep exact past 10^6 rows; beyond that lower
    ``scale`` (the trajectory changes but stays engine-exact).
    Output: (dim, loading, eigenvalue) — loadings of the unit top
    component, eigenvalue in original variance units, identical on
    every row.  Sign follows the all-ones init deterministically.
    """
    import math

    if not 1 <= dim <= 256:
        raise ValueError(f"pca_top: need 1 <= dim <= 256, got {dim}")
    if scale < 1 or n_iter < 1:
        raise ValueError(f"pca_top: scale and n_iter must be >= 1, got {scale}, {n_iter}")
    if vec_col not in df.columns:
        raise ValueError(f"pca_top: column {vec_col!r} not in df")
    d = dim

    def _gram(batches):
        import numpy as np
        import pandas as pd

        G = np.zeros((d, d), dtype=np.int64)
        s = np.zeros(d, dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.stack(pdf[vec_col].to_numpy())
            if arr.shape[1] != d:
                raise ValueError(f"pca_top: vector length {arr.shape[1]} != dim {d}")
            x = arr * float(scale)
            q = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)  # half-away
            G += q.T @ q
            s += q.sum(axis=0)
            n += len(q)
        ii, jj = np.triu_indices(d)
        out = {
            "i": np.concatenate([ii, np.arange(d), [-1]]),
            "j": np.concatenate([jj, np.full(d, -1), [-1]]),
            "v": np.concatenate([G[ii, jj], s, [n]]),
        }
        yield pd.DataFrame(out)

    parts = (
        df.select(vec_col)
        .mapInPandas(_gram, schema="i int, j int, v long")
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
        .collect()
    )
    G = [[0] * d for _ in range(d)]
    s = [0] * d
    n = 0
    for r in parts:
        if r["i"] == -1:
            n = r["v"]
        elif r["j"] == -1:
            s[r["i"]] = r["v"]
        else:
            G[r["i"]][r["j"]] = r["v"]
            G[r["j"]][r["i"]] = r["v"]
    if n < 2:
        raise ValueError(f"pca_top: need at least 2 vectors, got {n}")
    C = [[n * G[i][j] - s[i] * s[j] for j in range(d)] for i in range(d)]
    x = [1.0] * d
    norm = 0.0
    for _ in range(n_iter):
        y = [0.0] * d
        for i in range(d):
            acc = 0.0
            for j in range(d):  # ascending j — the fold the oracle replays
                acc += C[i][j] * x[j]
            y[i] = acc
        sq = 0.0
        for i in range(d):
            sq += y[i] * y[i]
        norm = math.sqrt(sq)
        if norm == 0.0:
            raise ValueError("pca_top: zero covariance (constant vectors?)")
        x = [y[i] / norm for i in range(d)]
    lam = norm / float(n * n * scale * scale)
    rows = [(i, round(x[i], ndigits), round(lam, ndigits)) for i in range(d)]
    return df.sparkSession.createDataFrame(
        rows, "dim int, loading double, eigenvalue double"
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_n: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """Zipf rank-frequency diagnostic: OLS of ln(freq) on ln(rank) over
    the corpus's ``top_n`` most frequent tokens.  Natural text sits
    near slope -1; a flat slope flags template/boilerplate floods and a
    cliff flags a vocabulary collapse — tracked per crawl snapshot the
    same way :func:`~backend_spark.features.gini` tracks source
    concentration.

    Scale shape: token counting is one map-side-combined groupBy over
    the scan; the top-n cut is a distributed TakeOrderedAndProject
    (cnt desc, token asc — total order); everything after runs on
    <= ``top_n`` rows, where the rank window's single partition is the
    point, not a bug.  The five OLS sums fold in rank order over a
    sorted array, so the double accumulation order is pinned
    cross-engine.  Returns ONE row: (n_terms, slope, intercept, r2).
    """
    if top_n < 3:
        raise ValueError(f"zipf_fit: top_n must be >= 3, got {top_n}")
    from backend_spark import functions as fn

    toks = df.select(
        F.explode(fn.tokenize(fn.normalize(F.col(text_col)))).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = top.select(
        F.row_number().over(w).cast("long").alias("r"), F.col("cnt")
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("r"),
                F.log(F.col("r").cast("double")).alias("x"),
                F.log(F.col("cnt").cast("double")).alias("y"),
            )
        )
    )
    folded = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"), arr.alias("__a")
    )

    def fold(expr):
        return F.aggregate(F.col("__a"), F.lit(0.0), lambda a, e: a + expr(e))

    stats = folded.select(
        "n_terms",
        fold(lambda e: e["x"]).alias("__sx"),
        fold(lambda e: e["y"]).alias("__sy"),
        fold(lambda e: e["x"] * e["y"]).alias("__sxy"),
        fold(lambda e: e["x"] * e["x"]).alias("__sxx"),
        fold(lambda e: e["y"] * e["y"]).alias("__syy"),
    )
    n = F.col("n_terms").cast("double")
    den = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    # den == 0 exactly when < 2 distinct ranks (a 1-token vocabulary):
    # no line exists, so slope/intercept/r2 are NULL — and the guard is
    # mandatory under ANSI mode, where a bare num/den raises
    # DIVIDE_BY_ZERO instead of returning NULL
    slope = F.when(den > 0, num / den)
    den_y = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    return stats.select(
        "n_terms",
        F.round(slope, round_to).alias("slope"),
        F.round(
            F.when(n > 0, (F.col("__sy") - slope * F.col("__sx")) / n), round_to
        ).alias("intercept"),
        F.round(
            F.when((den > 0) & (den_y > 0), (num * num) / (den * den_y)), round_to
        ).alias("r2"),
    )


# UTF-8 bytes mis-decoded as cp1252 -- the classic crawl mojibake
# sequences and their intended characters, written as escapes because
# several contain invisible control bytes.  Ordered: three-byte cp1252
# punctuation first, else their two-byte prefixes would eat them.
# Shared with the SQL oracle verbatim (plain replace, no regex).
MOJIBAKE_RULES = (
    ("\u00e2\u0080\u0099", "\u2019"),  # -> right single quote
    ("\u00e2\u0080\u009c", "\u201c"),  # -> left double quote
    ("\u00e2\u0080\u009d", "\u201d"),  # -> right double quote
    ("\u00e2\u0080\u0093", "\u2013"),  # -> en dash
    ("\u00e2\u0080\u0094", "\u2014"),  # -> em dash
    ("\u00e2\u0080\u00a6", "\u2026"),  # -> ellipsis
    ("\u00c3\u00a9", "\u00e9"),  # -> e acute
    ("\u00c3\u00a8", "\u00e8"),  # -> e grave
    ("\u00c3\u00a0", "\u00e0"),  # -> a grave
    ("\u00c3\u00a2", "\u00e2"),  # -> a circumflex
    ("\u00c3\u00a7", "\u00e7"),  # -> c cedilla
    ("\u00c3\u00a4", "\u00e4"),  # -> a umlaut
    ("\u00c3\u00b6", "\u00f6"),  # -> o umlaut
    ("\u00c3\u00bc", "\u00fc"),  # -> u umlaut
    ("\u00c3\u00b1", "\u00f1"),  # -> n tilde
    ("\u00c3\u00ad", "\u00ed"),  # -> i acute
    ("\u00c3\u00b3", "\u00f3"),  # -> o acute
    ("\u00c3\u00ba", "\u00fa"),  # -> u acute
)


def fix_mojibake(
    df: DataFrame,
    text_col: str,
    out_col: "str | None" = None,
) -> DataFrame:
    """Repair the classic UTF-8-decoded-as-cp1252 mojibake sequences
    (the A-tilde pairs for accented Latin letters, the a-circumflex
    triples for curly punctuation) -- the single most common crawl
    corruption, worth fixing BEFORE tokenization or dedup (a corrupted
    and a clean copy of the same page otherwise hash apart).  A fixed
    ordered table of plain substring replacements (``MOJIBAKE_RULES``,
    longest-first so the punctuation triples win over their two-byte
    prefixes) -- shuffle-free, regex-free, engine-neutral.  Adds
    ``out_col`` (default ``<col>_fixed``) and ``mojibake`` (True when
    anything changed).  This repairs the enumerated sequences, not
    arbitrary double-encoding -- ``char_entropy`` is the detector for
    the long tail.
    """
    if text_col not in df.columns:
        raise ValueError(f"fix_mojibake: column {text_col!r} not in df")
    out = out_col or f"{text_col}_fixed"
    if out in df.columns:
        raise ValueError(f"fix_mojibake: output column {out!r} collides with df")
    x = F.col(text_col)
    for bad, good in MOJIBAKE_RULES:
        x = F.replace(x, F.lit(bad), F.lit(good))
    return df.withColumn(out, x).withColumn(
        "mojibake", F.col(out) != F.col(text_col)
    )


def dup_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """Corpus duplication audit — the headline "how duplicated are we"
    table a crawl snapshot is judged by BEFORE anyone runs the actual
    dedup: MinHash-LSH near-dup pairs (:func:`minhash_lsh_pairs`, the
    exact same candidate machinery `dedup_minhash` removes with)
    cluster via connected components, and the report is the cluster-
    size histogram: one row per size with the cluster count, the
    documents bound in clusters of that size, and their corpus share.
    ``size=1`` rows are the unduplicated remainder; the duplication
    rate is ``1 - share(size=1) - Σ n_clusters(size>1)/corpus``
    (each cluster keeps one survivor).

    Scale shape: the pair stage is the banded-LSH equi-join (no
    all-pairs), CC is the hash-min label propagation, and everything
    after runs on |clusters| rows — two keyed aggregates and a 1-row
    total broadcast.  The default banding is 4 bands of 4 rows —
    paired with the 0.8 default threshold (s-curve midpoint
    ``(1/4)^(1/4) ≈ 0.71``); 8 bands of 2 rows would admit every pair
    above ~0.35 as a candidate and shift the real cost into the
    verify intersect (see SCALING.md, round-10 LSH pairing note).
    """
    from backend_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, num_perm=num_perm, bands=bands,
        shingle_n=shingle_n, jaccard_threshold=jaccard_threshold,
    )
    cc = connected_components(pairs, src="id1", dst="id2")
    labeled = (
        df.select(F.col(id_col))
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(F.coalesce(F.col("comp"), F.col(id_col)).alias("__c"))
    )
    sizes = labeled.groupBy("__c").agg(F.count(F.lit(1)).alias("size"))
    hist = sizes.groupBy("size").agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    tot = labeled.agg(F.count(F.lit(1)).alias("__n"))
    return hist.join(F.broadcast(tot)).select(
        "size",
        "n_clusters",
        (F.col("size") * F.col("n_clusters")).alias("n_docs"),
        F.round(
            (F.col("size") * F.col("n_clusters")).cast("double")
            / F.col("__n").cast("double"),
            round_to,
        ).alias("share"),
    )
