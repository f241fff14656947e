"""ANSI-degenerate input gate.

Spark 4 runs with ANSI mode on, where a division whose divisor is a
data-derived zero THROWS (``DIVIDE_BY_ZERO``) instead of yielding
NULL/NaN — so any operator dividing by a quantity a legal-but-degenerate
input can zero out crashes the whole query.  This bug class produced
one defect per round three rounds running (float_val r12,
cosine_similarity zero vectors r13, tfidf_cosine idf-zero norms r14);
this module institutionalizes the check: every division-bearing
operator runs here against the degenerate input that zeroes its
divisor and must COMPLETE (NULL / guarded value / filtered row — any
non-crash contract its docstring states).

These are crash gates, not value oracles — value semantics live in the
operator suites and the DuckDB cross-checks.
"""

import pytest
from pyspark.sql import functions as F


def test_cosine_similarity_zero_norm_yields_null(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame(
        [(0, [0.0, 0.0], [1.0, 2.0])], "i long, a array<double>, b array<double>"
    )
    row = df.select(
        fn.cosine_similarity(F.col("a"), F.col("b")).alias("c1"),
        fn.cosine_similarity(F.col("a"), F.col("a")).alias("c2"),
    ).collect()[0]
    assert row.c1 is None and row.c2 is None


def test_tfidf_cosine_zero_norm_docs_complete(spark):
    # max_df = N admits a term in every doc -> idf = ln(1) = 0 -> every
    # surviving weight quantizes to 0 -> zero squared norms -> 0/0
    from backend_spark import llm

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    out = llm.tfidf_cosine_pairs(docs, "doc_id", "text", threshold=0.0, max_df=3)
    assert out.collect() == []  # NULL cosine fails the threshold filter


def test_zscore_constant_column_yields_null(spark):
    from backend_spark.features import zscore

    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], "id long, v double")
    rows = zscore(df, "v", out_col="z").collect()
    assert len(rows) == 3 and all(r.z is None for r in rows)


def test_histogram_constant_column_single_bin(spark):
    from backend_spark.features import histogram

    df = spark.createDataFrame([(i, 7.0) for i in range(10)], "id long, v double")
    rows = histogram(df, "v", bins=4).collect()
    assert sum(r.cnt for r in rows) == 10  # all rows land somewhere, no crash


def test_robust_scale_constant_column_zero(spark):
    from backend_spark.features import robust_scale

    df = spark.createDataFrame([(i, 3.0) for i in range(5)], "id long, v double")
    rows = robust_scale(df, "v").collect()
    assert len(rows) == 5  # MAD = 0 guarded, no crash


def test_node_metrics_degree_one_clustering(spark):
    # a single edge: both endpoints have degree 1 -> degree*(degree-1) = 0
    from backend_spark.operators.graph import node_metrics

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = node_metrics(edges, metrics=["degree", "clustering"]).collect()
    assert {r.node for r in rows} == {1, 2}
    assert all(r.clustering == 0.0 for r in rows)


def test_auc_single_class_yields_null(spark):
    from backend_spark.ml import auc_score

    df = spark.createDataFrame(
        [(0.9, 1.0), (0.1, 1.0), (0.5, 1.0)], "score double, label double"
    )
    row = auc_score(df, "score", "label").collect()[0]
    assert row.auc is None and row.n_neg == 0


def test_gini_all_zero_values_yields_null(spark):
    from backend_spark.features import gini

    df = spark.createDataFrame(
        [("g", 0.0), ("g", 0.0), ("g", 0.0)], "grp string, v double"
    )
    row = gini(df, "grp", "v").collect()[0]
    assert row.gini is None and row.n == 3


def test_modularity_empty_edges_no_crash(spark):
    from backend_spark.operators.graph import modularity

    edges = spark.createDataFrame([], "src long, dst long")
    communities = spark.createDataFrame([(1, 1)], "node long, community long")
    rows = modularity(edges, communities).collect()
    assert len(rows) <= 1  # empty or NULL-modularity row, never a throw


def test_semdedup_cluster_cap_fails_fast(spark, monkeypatch):
    # the quadratic half of semdedup is Σ cluster_size²; the cap must
    # raise with the offending cluster before the pair join runs, and a
    # generous cap must not change results
    import pytest

    from backend_spark import llm

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="cluster"):
        llm.semdedup(emb, n_clusters=2, max_cluster_size=3).collect()
    capped = llm.semdedup(emb, n_clusters=2, max_cluster_size=1000).collect()
    uncapped = llm.semdedup(emb, n_clusters=2, max_cluster_size=None).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    # defaults match the explicit-None opt-out on an in-budget corpus
    assert sorted(map(tuple, llm.semdedup(emb, n_clusters=2).collect())) == sorted(
        map(tuple, uncapped)
    )
    # round-15 (the round-14 verdict's #1): the guard is DEFAULT-ON —
    # with the budget constant shrunk below a cluster's size, calling
    # with no max_cluster_size argument at all must fail fast (parity
    # with tfidf_cosine's default-on guard), and the documented opt-out
    # (max_cluster_size=None) must still run the quadratic plan
    monkeypatch.setattr(llm, "_SEMDEDUP_CLUSTER_LIMIT", 3)
    with pytest.raises(ValueError, match="max_cluster_size"):
        llm.semdedup(emb, n_clusters=2).collect()
    opted_out = llm.semdedup(emb, n_clusters=2, max_cluster_size=None).collect()
    assert sorted(map(tuple, opted_out)) == sorted(map(tuple, uncapped))
    # a misspelled sentinel must fail with the valid values named, not
    # an opaque str-vs-int TypeError deep inside the cap check
    with pytest.raises(ValueError, match="unrecognized"):
        llm.semdedup(emb, n_clusters=2, max_cluster_size="Auto")
    # the undersized-n_clusters raise names the actionable remedy
    with pytest.raises(ValueError, match="n_clusters"):
        llm.semdedup(emb, n_clusters=1, max_cluster_size=5).collect()


_CONSUMERS = {
    "collect": lambda df: df.collect(),
    "count": lambda df: df.count(),
    "select_first": lambda df: df.select(df.columns[0]).collect(),
}


def _guarded(spark, monkeypatch, guard):
    """(frame builder, error pattern) of each size guard, on an input
    that trips it.  An eager guard (theil_sen, unnest) raises while the
    frame is built, an in-plan one when it is consumed."""
    from backend_spark import llm
    from backend_spark.operators import er_resolve

    chain = spark.createDataFrame([(i, "x") for i in range(12)], "rid long, v string")
    links = spark.createDataFrame([(i, i + 1) for i in range(11)], "left_id long, right_id long")
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(4)],
        "doc_id long, text string",
    )
    if guard == "er_resolve_mode":
        return lambda: er_resolve(chain, links, "rid", {"v": "mode"}, max_cluster_size=5), (
            "max_cluster_size")
    if guard == "er_resolve_first":
        return lambda: er_resolve(chain, links, "rid", {"v": "first"}, max_cluster_size=5), (
            "er_resolve: cluster 0")
    if guard == "dedup_minhash":
        return lambda: llm.dedup_minhash(
            docs, "doc_id", "text", max_cluster_size=1, num_perm=16, bands=8,
            jaccard_threshold=0.5,
        ), "dedup_minhash.*max_cluster_size"
    if guard == "dedup_keep_best":
        pairs = links.select(F.col("left_id").alias("id1"), F.col("right_id").alias("id2"))
        return lambda: llm.dedup_keep_best(
            chain.withColumnRenamed("rid", "doc_id"), "doc_id", pairs, score=F.lit(1.0),
            max_cluster_size=5,
        ), "dedup_keep_best.*max_cluster_size"
    if guard == "semdedup":
        emb = spark.createDataFrame(
            [(i, [float(i % 3), 1.0]) for i in range(20)], "vec_id long, embedding array<double>"
        )
        return lambda: llm.semdedup(emb, n_clusters=2, max_cluster_size=3), (
            "semdedup.*max_cluster_size")
    if guard == "theil_sen":
        from backend_spark.features import theil_sen

        series = spark.createDataFrame(
            [("g", float(i), float(i % 2)) for i in range(3)], "g string, x double, y double"
        )
        return lambda: theil_sen(series, "g", "x", "y", max_group_rows=2), (
            "theil_sen: group.*max_group_rows=2")
    if guard == "unnest_max_keys":
        from backend_spark.operators.reshape import op_unnest

        maps = spark.createDataFrame(
            [(i, {f"k{i}": i}) for i in range(3)], "id long, m map<string,long>"
        )
        return lambda: op_unnest(maps, "m", max_keys=2), (
            "unnest: map column 'm' has more than 2")
    # tfidf_cosine_pairs' in-plan quadratic raise_error: 'hot' is in 6 of
    # 12 docs, admitted by the 0.5 fractional cap, over a limit of 2
    monkeypatch.setattr(llm, "_TFIDF_QUADRATIC_LIMIT", 2)
    text = F.concat(
        F.when(F.col("id") % 2 == 0, F.lit("hot ")).otherwise(F.lit("")),
        F.lit("tok"), F.col("id").cast("string"),
    )
    hot = spark.range(12).select(F.col("id").alias("doc_id"), text.alias("text"))
    return lambda: llm.tfidf_cosine_pairs(hot, "doc_id", "text", threshold=0.0), (
        "tfidf_cosine_pairs: term 'hot'")


@pytest.mark.parametrize("consume", sorted(_CONSUMERS))
@pytest.mark.parametrize(
    "guard",
    ["er_resolve_mode", "er_resolve_first", "dedup_minhash", "dedup_keep_best",
     "semdedup", "tfidf_quadratic", "theil_sen", "unnest_max_keys"],
)
def test_size_guard_fires_under_every_consumer(spark, monkeypatch, guard, consume):
    # a guard that a count() or a narrow select can prune away protects
    # nothing: every guard must raise however its result is consumed
    build, pattern = _guarded(spark, monkeypatch, guard)
    with pytest.raises(Exception, match=pattern):
        _CONSUMERS[consume](build())


def test_ks_test_empty_side_yields_null(spark):
    # a group whose rows all carry one sample label: n_b = 0 -> the
    # d_stat CASE guard must short-circuit the 0/0 under ANSI
    from backend_spark.features import ks_test

    df = spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "a", 2.0), ("g2", "a", 1.0), ("g2", "b", 2.0)],
        "grp string, s string, v double",
    )
    rows = {r.grp: r for r in ks_test(df, "s", "v", "a", "b", by="grp").collect()}
    assert rows["g1"].n_b == 0 and rows["g1"].d_stat is None
    assert rows["g2"].d_stat is not None


def test_levenshtein_norm_empty_strings(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame([("", ""), ("", "abc")], "a string, b string")
    rows = df.select(fn.levenshtein_norm(F.col("a"), F.col("b")).alias("s")).collect()
    assert rows[0].s is not None and rows[1].s is not None


def test_jw_empty_strings(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame([("", ""), ("", "abc")], "a string, b string")
    rows = df.select(fn.jw(F.col("a"), F.col("b")).alias("s")).collect()
    assert all(r.s is not None for r in rows)


# --- NULL group keys -------------------------------------------------------
# Every per-group statistic rejoins through scale.broadcast_back, whose rule
# is that a NULL key is a group of its own: an operator must give the same
# rows for a NULL group as for the same rows under an unused key.

_SENTINEL = "~null~"


def _null_key_ops():
    from backend_spark import features, llm, ml

    return {
        "zscore": lambda d, w: features.zscore(d, "x", group_col="grp"),
        "quantile_bins": lambda d, w: features.quantile_bins(d, "x", 3, group_col="grp"),
        "winsorize": lambda d, w: features.winsorize(d, "x", 0.25, 0.75, group_col="grp"),
        "robust_scale": lambda d, w: features.robust_scale(d, "x", group_col="grp"),
        "mad_outliers": lambda d, w: features.mad_outliers(d, "grp", "x", k=1.0),
        "seasonal_adjust": lambda d, w: features.seasonal_adjust(d, "phase", "x", by="grp"),
        "benford": lambda d, w: features.benford(d, "x", by="grp"),
        "percentile_filter": lambda d, w: llm.percentile_filter(d, "x", "grp", q=0.5),
        "temperature_sample": lambda d, w: llm.temperature_sample(d, "grp", "id", alpha=0.5),
        "boilerplate_lines": lambda d, w: llm.boilerplate_lines(d, "id", "grp", "lines"),
        "ridge_apply_by": lambda d, w: ml.ridge_apply_by(d, w, "grp", ["x", "x2"]),
    }


@pytest.mark.parametrize(
    "op",
    ["zscore", "quantile_bins", "winsorize", "robust_scale", "mad_outliers",
     "seasonal_adjust", "benford", "percentile_filter", "temperature_sample",
     "boilerplate_lines", "ridge_apply_by"],
)
def test_null_group_key_is_a_group(spark, op):
    rows = [
        (i, g, x, float(i % 3), i % 2, ["header", f"body {i}"])
        for i, (g, x) in enumerate(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 40.0)]
            + [(None, 10.0), (None, 25.0), (None, 30.0), (None, 31.0), (None, 900.0)]
        )
    ]
    df = spark.createDataFrame(
        rows, "id long, grp string, x double, x2 double, phase int, lines array<string>"
    )
    weights = spark.createDataFrame(
        [(g, f, w) for g in ("a", None) for f, w in
         (("__intercept__", 1.0 if g else 2.0), ("x", 0.5), ("x2", -1.0 if g else 3.0))],
        "grp string, feature string, weight double",
    )

    def sentinel(d):
        return d.withColumn("grp", F.coalesce(F.col("grp"), F.lit(_SENTINEL)))

    def rows_of(d):
        return sorted(repr(sorted(r.asDict().items())) for r in d.collect())

    run = _null_key_ops()[op]
    got = run(df, weights)
    want = run(sentinel(df), sentinel(weights)).withColumn(
        "grp", F.when(F.col("grp") != _SENTINEL, F.col("grp"))
    )
    assert rows_of(got) == rows_of(want)
    assert got.where(F.col("grp").isNull()).count() > 0


def test_source_overlap_null_source_is_a_source(spark):
    # one text in sources a, a, b, NULL, NULL: the NULL source pairs with
    # a and b, as the same source under an unused name does
    from backend_spark import llm

    df = spark.createDataFrame(
        [(i, s, "the quick brown fox jumps") for i, s in enumerate(["a", "a", "b", None, None])],
        "id long, src string, t string",
    )

    def matrix(d):
        return sorted(
            (repr((r.src_a, r.src_b, r.grams_a, r.shared, r.overlap))
             for r in llm.source_overlap(d, "id", "t", "src", n=3).collect())
        )

    got = matrix(df)
    want = matrix(df.withColumn("src", F.coalesce(F.col("src"), F.lit(_SENTINEL))))
    assert got == sorted(w.replace(repr(_SENTINEL), "None") for w in want)
    assert len(got) == 6 and "(None, 'a', 3, 3, 1.0)" in got
