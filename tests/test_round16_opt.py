"""Round-16 optimization internals: the AQE-floor replacement.

Round 15's session-wide 64k ``minPartitionSize`` floor was convicted as
a tax on every many-small-shuffle query (attribution 1.96x slower,
interleaved A/B); round 16 restores Spark's 1m default and instead has
the two operators that actually needed the parallelism — the PPJoin
prefix operators ``containment_pairs`` / ``ngram_jaccard_pairs`` — pin
their own hot stages with user-numbered repartitions gated on
``spread_scan``'s partition probe.  These tests pin that gate:
the repartitions fire on single-partition inputs, vanish on well-split
ones, and never change results — for every operator of the shared
similarity-join kernel.
"""

from pyspark.sql import functions as F

from backend_spark import llm


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


TEXTS = [
    (i, " ".join(f"tok{(i * 7 + j) % 23}" for j in range(18)) + f" tail{i % 4}")
    for i in range(60)
]


def _pairs_df(spark, n_parts):
    df = spark.createDataFrame(TEXTS, "doc_id long, text string")
    return df.coalesce(1) if n_parts == 1 else df.repartition(n_parts)


def test_prefix_operators_pin_only_on_degenerate_layouts(spark):
    p = spark.sparkContext.defaultParallelism
    for op in (llm.containment_pairs, llm.ngram_jaccard_pairs):
        degen = op(_pairs_df(spark, 1), "doc_id", "text", shingle_n=3, threshold=0.5)
        assert "RoundRobinPartitioning" in _plan(degen), op.__name__
        wide = op(_pairs_df(spark, p), "doc_id", "text", shingle_n=3, threshold=0.5)
        assert "RoundRobinPartitioning" not in _plan(wide), op.__name__


def test_prefix_operators_pin_is_result_neutral(spark):
    """Every similarity-join kernel operator gives identical pairs on a
    1-partition and a p-partition input (crosscorpus: the corpus side,
    against a fixed bench)."""
    p = spark.sparkContext.defaultParallelism
    bench = spark.createDataFrame(
        [(1000 + i, t) for i, t in TEXTS[:6]], "bench_id long, btext string"
    ).coalesce(1)
    for name, op, val in (
        ("containment_pairs", lambda d: llm.containment_pairs(
            d, "doc_id", "text", shingle_n=3, threshold=0.5), "containment"),
        ("ngram_jaccard_pairs", lambda d: llm.ngram_jaccard_pairs(
            d, "doc_id", "text", shingle_n=3, threshold=0.5), "jaccard"),
        ("minhash_lsh_pairs", lambda d: llm.minhash_lsh_pairs(
            d, "doc_id", "text", jaccard_threshold=0.5), "jaccard"),
        ("crosscorpus_neardup", lambda d: llm.crosscorpus_neardup(
            d, bench, "doc_id", "text", "bench_id", "btext", jaccard_threshold=0.5), "jaccard"),
        ("simhash_neardup_pairs", lambda d: llm.simhash_neardup_pairs(
            d, "doc_id", "text", max_hamming=8), "hamming"),
    ):
        degen, wide = (
            {(r[0], r[1]): r[val] for r in op(_pairs_df(spark, n)).collect()}
            for n in (1, p)
        )
        assert degen == wide and degen, name


def test_er_resolve_nonmode_cap_guard_fused_and_still_fires(spark):
    """Round-16: without a mode rule the mega-cluster guard rides the
    survivorship aggregate (no separate count job) but still fails with
    the op name and offending cluster id — at action time now."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from backend_spark.operators import er_resolve

    recs = spark.createDataFrame([(i, "x") for i in range(40)], "rid long, v string")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "left_id long, right_id long"
    )
    out = er_resolve(recs, pairs, "rid", {"v": "first"}, max_cluster_size=10)
    # the guard is a row filter, so it fires however the result is
    # consumed: ColumnPruning would drop an unread raise_error column
    # under count() or a narrow select
    for consume in (
        lambda: out.collect(),
        lambda: out.count(),
        lambda: out.select("entity_id", "v").collect(),
    ):
        with pytest.raises((SparkRuntimeException, Py4JJavaError), match="er_resolve: cluster 0"):
            consume()
    # cap raised / disabled: resolves fine, identical survivorship
    ok = er_resolve(recs, pairs, "rid", {"v": "first"}, max_cluster_size=40).collect()
    assert [(r.entity_id, r.n_members, r.v) for r in ok] == [(0, 40, "x")]
    ok = er_resolve(recs, pairs, "rid", {"v": "first"}, max_cluster_size=None).collect()
    assert [(r.entity_id, r.n_members) for r in ok] == [(0, 40)]
    # eager validation contract unchanged
    with pytest.raises(ValueError, match="must be >= 1"):
        er_resolve(recs, pairs, "rid", {"v": "first"}, max_cluster_size=0)


def test_eigenvector_nan_norm_same_rule_at_tol0_and_tol_positive(spark):
    """tol=0 divides by a literal norm, tol>0 by the in-plan column; both
    go through one divisor rule, so a NaN (or zero / null) norm gets the
    same answer in both modes."""
    import math

    from backend_spark.operators.graph import _norm_divisor

    for v in (float("nan"), 0.0, None, 4.0):
        lit = spark.range(1).select(_norm_divisor(F.lit(v)).alias("d")).first().d
        col = (
            spark.createDataFrame([(v,)], "norm double")
            .select(_norm_divisor(F.col("norm")).alias("d"))
            .first()
            .d
        )
        if v is not None and math.isnan(v):
            assert math.isnan(lit) and math.isnan(col)
        else:
            assert lit == col == (v if v else 1.0)
