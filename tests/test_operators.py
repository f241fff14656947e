"""Operator unit tests, porting the reference's edge semantics
(reference tests/test_recipes.py:37-380) onto Spark DataFrames.

Documented divergences from the reference are asserted as such:
* bad casts yield null per value (try_cast) instead of leaving the
  whole chunk unchanged (SURVEY.md §2.1 note at to_integer);
* groupby/clique are global, not per-chunk (SURVEY.md §2.3, §2.7).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.testing import assertDataFrameEqual

from backend_spark.operators import (
    op_delete,
    op_eval,
    op_exec,
    op_fillna,
    op_keep,
    op_list_to_tuple,
    op_map,
    op_nest,
    op_ngram,
    op_normalize,
    op_parsedate,
    op_pause,
    op_rename,
    op_replace,
    op_shuffle,
    op_to_float,
    op_to_integer,
    op_groupby,
    op_unfold,
    op_unnest,
)


def test_map_copies_and_array(spark):
    df = spark.createDataFrame([("a", "b")], "x string, y string")
    out = op_map(df, {"z": "x", "both": ["x", "y"]})
    assert out.collect()[0].asDict() == {"x": "a", "y": "b", "z": "a", "both": ["a", "b"]}


def test_rename_new_old(spark):
    df = spark.createDataFrame([(1,)], "old long")
    assert op_rename(df, {"new": "old"}).columns == ["new"]


def test_fillna_creates_missing_column(spark):
    # reference tests/test_recipes.py:48-60 — fillna creates the column
    df = spark.createDataFrame([("a", None), (None, "b")], "x string, y string")
    out = op_fillna(df, [{"y": "-"}, {"z": "zz"}])
    rows = [r.asDict() for r in out.orderBy("x").collect()]
    assert rows[0] == {"x": None, "y": "b", "z": "zz"}
    assert rows[1] == {"x": "a", "y": "-", "z": "zz"}


def test_keep_regex_and_where(spark):
    # reference tests/test_recipes.py:265-275
    df = spark.createDataFrame([(1, "a", 5), (2, "b", 50)], "k long, name string, v long")
    out = op_keep(df, select=r"^(k|v)$", where="v > 10")
    assert out.columns == ["k", "v"]
    assert out.collect() == [(2, 50)]


def test_delete_regex(spark):
    df = spark.createDataFrame([(1, "a")], "keepme long, dropme string")
    assert op_delete(df, "^drop").columns == ["keepme"]


def test_to_integer_empty_and_invalid_to_null(spark):
    # "" -> null (reference semantics); invalid -> null per value
    # (documented divergence from chunk-level leave-unchanged)
    df = spark.createDataFrame([("1",), ("",), ("x",), (None,)], "v string")
    vals = [r.v for r in op_to_integer(df, ["v"]).collect()]
    assert vals == [1, None, None, None]


def test_to_float_na_value(spark):
    df = spark.createDataFrame([("1.5",), ("",), ("x",)], "v string")
    vals = [r.v for r in op_to_float(df, ["v"], na_value=0.0).collect()]
    assert vals == [1.5, 0.0, 0.0]


def test_parsedate_coerce(spark):
    # reference tests/test_recipes.py:197-201 — parse errors coerce to null
    df = spark.createDataFrame([("20240131",), ("bogus",)], "d string")
    vals = [r.d for r in op_parsedate(df, ["d"], format="%Y%m%d").collect()]
    assert vals[0] is not None and vals[0].year == 2024 and vals[0].day == 31
    assert vals[1] is None


def test_replace_ordered_chain_and_backrefs(spark):
    # reference tests/test_recipes.py:285-289 — order is load-bearing
    df = spark.createDataFrame([("aab",)], "v string")
    out = op_replace(df, ["v"], [{"a": "b"}, {"bbb": "x"}])
    assert out.collect()[0].v == "x"
    df2 = spark.createDataFrame([("ab12",)], "v string")
    out2 = op_replace(df2, ["v"], [{r"([a-z]+)(\d+)": r"\2\1"}])
    assert out2.collect()[0].v == "12ab"


def test_replace_array_cells(spark):
    df = spark.createDataFrame([(["aa", "ba"],)], "v array<string>")
    out = op_replace(df, ["v"], [{"a": "x"}])
    assert out.collect()[0].v == ["xx", "bx"]


def test_normalize_accents(spark):
    # reference tests/test_recipes.py:204-209
    df = spark.createDataFrame([("ÉLODIE Straße-Nuñez",), (None,)], "v string")
    vals = [r.v for r in op_normalize(df, ["v"]).collect()]
    assert vals[0] == "elodie strae nunez"  # ß has no ASCII NFKD -> dropped
    assert vals[1] is None


def test_normalize_thorough_matches_fast_on_latin(spark):
    df = spark.createDataFrame([("Ĳsselmeer çà-et-là",)], "v string")
    fast = op_normalize(df, ["v"]).collect()[0].v
    slow = op_normalize(df, ["v"], thorough=True).collect()[0].v
    assert fast == slow == "ijsselmeer ca et la"


def test_eval_tier1_arithmetic_and_ternary(spark):
    # reference tests/test_recipes.py:317-321
    df = spark.createDataFrame([(2, 3)], "a long, b long")
    out = op_eval(df, [{"c": "a * b + 1"}, {"d": "'big' if a > 1 else 'small'"}])
    assert out.collect()[0].asDict() == {"a": 2, "b": 3, "c": 7, "d": "big"}


def test_eval_tier2_fallback_list_comprehension(spark):
    df = spark.createDataFrame([("ab cd",)], "v string")
    out = op_eval(df, [{"w": "''.join([t[0] for t in v.split()])"}])
    assert out.collect()[0].w == "ac"


def test_eval_tier1_zero_divisor_nulls_the_row(spark):
    """Division by zero poisons only ITS row (NULL), matching tier-2's
    per-row safeeval catch (reference tools.py:232-243) — a bare / in
    ANSI mode would instead kill the whole query."""
    df = spark.createDataFrame([(1.0, 0.0), (4.0, 2.0)], "x double, y double")
    out = op_eval(df, [{"z": "x / y"}, {"fd": "x // y"}, {"md": "x % y"}])
    rows = {r.x: (r.z, r.fd, r.md) for r in out.collect()}
    assert rows[1.0] == (None, None, None)
    assert rows[4.0] == (2.0, 2, 0.0)


def test_eval_tier1_out_of_range_index_nulls_the_row(spark):
    """a[i] past the end is python IndexError -> per-row marker in the
    reference; tier-1 must NULL that row, not raise ANSI
    INVALID_ARRAY_INDEX for the whole query."""
    df = spark.createDataFrame([([1, 2],), ([],)], "a array<int>")
    rows = op_eval(df, [{"z": "a[0]"}, {"w": "a[-1]"}]).collect()
    by_len = {len(r.a): (r.z, r.w) for r in rows}
    assert by_len[2] == (1, 2)
    assert by_len[0] == (None, None)


def test_eval_tier1_bad_cast_nulls_the_row(spark):
    """int('junk') is a python ValueError -> per-row marker in the
    reference; tier-1 must NULL the row (try_cast), not raise ANSI
    CAST_INVALID_INPUT for the whole query."""
    df = spark.createDataFrame([("12",), ("junk",)], "s string")
    rows = {r.s: (r.z, r.w) for r in
            op_eval(df, [{"z": "int(s)"}, {"w": "float(s)"}]).collect()}
    assert rows["12"] == (12, 12.0)
    assert rows["junk"] == (None, None)


def test_eval_error_marks_cell(spark):
    # reference keeps going and marks the cell (code/recipes.py:1680-1686)
    df = spark.createDataFrame([("x",), (None,)], "v string")
    out = op_eval(df, [{"w": "v.upper() + nonexistent_fn(v)"}])
    vals = [r.w for r in out.collect()]
    assert all(v is not None and v.startswith("Ooops") for v in vals)


def test_exec_mapinpandas(spark):
    # reference tests/test_recipes.py:310-314
    df = spark.createDataFrame([(1,), (2,)], "v long")
    out = op_exec(df, "df['w'] = df['v'] * 10", schema="v long, w long")
    assert sorted(r.w for r in out.collect()) == [10, 20]


def test_shuffle_preserves_multisets(spark):
    df = spark.createDataFrame([(i, str(i * 7)) for i in range(100)], "a long, b string")
    out = op_shuffle(df).collect()
    assert sorted(r.a for r in out) == list(range(100))
    assert sorted(r.b for r in out) == sorted(str(i * 7) for i in range(100))


def test_pause_truncates(spark):
    # reference tests/test_recipes.py:212-216
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    assert op_pause(df, head=3).count() == 3
    assert op_list_to_tuple(df) is df  # documented no-op


def test_groupby_agg_sum_and_list(spark):
    # reference tests/test_recipes.py:292-296
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "k string, v long")
    out = op_groupby(df, ["k"], agg={"v": ["sum", "list"]})
    rows = {r.k: r for r in out.collect()}
    assert rows["a"].v_sum == 3 and sorted(rows["a"].v_list) == [1, 2]
    assert rows["b"].v_sum == 5


def test_groupby_transform_and_rank(spark):
    # reference tests/test_recipes.py:328-364
    df = spark.createDataFrame([("a", 1), ("a", 3), ("b", 5)], "k string, v long")
    t = op_groupby(df, ["k"], transform={"v": "sum"})
    assert {(r.k, r.v, r.v_sum) for r in t.collect()} == {("a", 1, 4), ("a", 3, 4), ("b", 5, 5)}
    r = op_groupby(df, ["k"], rank=["v"])
    assert {(r.k, r.v, r.v_rank) for r in r.collect()} == {("a", 3, 1), ("a", 1, 2), ("b", 5, 1)}


def test_unfold_basic_and_empty_list(spark):
    # reference tests/test_recipes.py:339-380 — empty list keeps the row
    # only with fill_na; drops it otherwise
    df = spark.createDataFrame([(1, ["x", "y"]), (2, []), (3, None)], "k long, v array<string>")
    plain = op_unfold(df, "v")
    assert {(r.k, r.v) for r in plain.collect()} == {(1, "x"), (1, "y")}
    filled = op_unfold(df, "v", fill_na="-")
    assert {(r.k, r.v) for r in filled.collect()} == {(1, "x"), (1, "y"), (2, "-"), (3, "-")}


def test_unnest_struct_and_json(spark):
    # reference tests/test_recipes.py:246-259
    df = spark.createDataFrame([(1, '{"a": 5, "b": "x"}')], "k long, j string")
    out = op_unnest(df, "j", prefix="j_")
    row = out.collect()[0].asDict()
    assert row == {"k": 1, "j_a": 5, "j_b": "x"}


def test_unnest_map_key_cap_fails_fast(spark):
    # round-15 (the round-14 verdict's #2 "what's wrong"): map-key
    # discovery is bounded by max_keys, and overflowing the bound must
    # RAISE with the observed count — not silently drop columns (the
    # repo's no-silent-caps rule).  Small max_keys keeps the test cheap;
    # the production default (10k) uses the same path.
    import pytest

    df = spark.createDataFrame(
        [(1, {f"k{i:02d}": i for i in range(10)})], "id long, m map<string,int>"
    )
    with pytest.raises(ValueError, match="distinct keys"):
        op_unnest(df, "m", max_keys=5)
    # at/under the cap: full widening, sorted key order
    out = op_unnest(df, "m", prefix="m_", max_keys=10)
    row = out.collect()[0].asDict()
    assert row["m_k00"] == 0 and row["m_k09"] == 9
    assert len([c for c in out.columns if c.startswith("m_")]) == 10
    # the plan spec can forward max_keys (the overflow error's stated
    # remedy must be reachable from declarative plans, round-15 review)
    from backend_spark.plans import RecipeBook

    conf = {"recipes": {"widen": {"steps": [
        {"unnest": {"select": "m", "prefix": "p_", "max_keys": 10}}
    ]}}}
    book = RecipeBook(conf)
    got = book.run("widen", df)
    assert len([c for c in got.columns if c.startswith("p_")]) == 10


def test_nest_roundtrip(spark):
    df = spark.createDataFrame([(1, "x")], "a long, b string")
    out = op_nest(df, ["a", "b"], target="payload")
    assert out.columns == ["payload"]
    assert out.collect()[0].payload == '{"a":1,"b":"x"}'


def test_ngram_bigrams(spark):
    # reference tests/test_recipes.py:299-307
    df = spark.createDataFrame([("Paris",)], "v string")
    out = op_ngram(df, ["v"], n=2)
    assert out.collect()[0].v == ["pa", "ar", "ri", "is"]


def test_ngram_short_token_kept(spark):
    df = spark.createDataFrame([("ab x",)], "v string")
    out = op_ngram(df, ["v"], n=3)
    assert out.collect()[0].v == ["ab", "x"]


def test_tokenize_null_returns_empty_array(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame([(None,), ("a b",), ("  ",)], "v string")
    out = df.select(fn.tokenize(F.col("v")).alias("t")).collect()
    assert [r.t for r in out] == [[], ["a", "b"], []]


def test_python_regex_to_java_named_groups(spark):
    from backend_spark import functions as fn

    assert fn.python_regex_to_java(r"(?P<word>\w+)-(?P=word)") == r"(?<word>\w+)-\k<word>"
    df = spark.createDataFrame([("ab-ab",)], "v string")
    out = op_replace(df, ["v"], [{r"(?P<w>[a-z]+)-(?P=w)": r"\1!"}])
    assert out.collect()[0].v == "ab!"


def test_eval_conf_idioms_tier1(spark):
    # reference conf idioms (conf/recipes/name.yml): type-check ternary,
    # OrderedDict dedup, str join -- all compile to Columns (tier 1)
    from backend_spark.expr.compiler import compile_expr

    df = spark.createDataFrame([(["b", "a", "b"], "solo")], "names array<string>, one string")
    out = op_eval(
        df,
        [
            {"names2": "names if (type(names)==list) else [names]"},
            {"one2": "one if (type(one)==list) else [one]"},
            {"deduped": "list(OrderedDict.fromkeys(names))"},
            {"joined": "str(' ').join(names)"},
        ],
    )
    row = out.collect()[0]
    assert row.names2 == ["b", "a", "b"]
    assert row.one2 == ["solo"]
    assert row.deduped == ["b", "a"]
    assert row.joined == "b a b"
    # and they really are tier-1 (no fallback): compile_expr must not raise
    compile_expr("list(OrderedDict.fromkeys(names))", df)
    compile_expr("names if (type(names)==list) else [names]", df)


def test_eval_tier2_next_generator(spark):
    # the matching.yml workaround expression needs tier 2 (generator)
    df = spark.createDataFrame([(["", "x", "y"],)], "vals array<string>")
    out = op_eval(df, [{"first": "next(s for s in vals if s)"}])
    assert out.collect()[0].first == "x"


def test_eval_analysis_error_falls_back(spark):
    # branch types conflict at Spark analysis time -> tier 2 transparently
    df = spark.createDataFrame([(["a"], 1)], "arr array<string>, n long")
    out = op_eval(df, [{"mixed": "arr if n > 0 else 'scalar'"}])
    assert out.collect()[0].mixed == "['a']"


def test_eval_fallback_probe_logs_no_error(spark):
    import logging

    from pyspark.errors.exceptions.base import AnalysisException
    from pyspark.logger import PySparkLogger

    from backend_spark.expr.compiler import eval_expr_column

    records = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("DataFrameQueryContextLogger")
    logger.addHandler(handler)
    try:
        df = spark.createDataFrame([("bob",)], "first_name string")
        # tier 1 compiles it, analysis rejects it: an expected fallback
        col = eval_expr_column("sorted(set(str(first_name)))[0]", df)
        assert df.select(col.alias("c")).first().c == "b"
        assert records == []
        # a genuine analysis error on the same thread still logs
        with pytest.raises(AnalysisException):
            df.select("missing")
        assert [r.levelno for r in records] == [logging.ERROR]
    finally:
        logger.removeHandler(handler)


def test_eval_replace_dict_and_regex_tier1(spark):
    from backend_spark.expr.compiler import eval_expr_column

    df = spark.createDataFrame([("alpha", ["x1", "beta"])], "s string, arr array<string>")
    r = df.select(
        eval_expr_column("replace_dict(s, {'alpha': 'A'})", df).alias("a"),
        eval_expr_column("replace_dict(s, {'alph': 'NO'})", df).alias("exact_only"),
        eval_expr_column("replace_dict(arr, {'beta': 'B'})", df).alias("arr_mapped"),
        eval_expr_column("replace_regex(s, {'a+': 'X'})", df).alias("rx"),
    ).first()
    assert r.a == "A"
    assert r.exact_only == "alpha"  # whole-value match only (tools.py:90-98)
    assert r.arr_mapped == ["x1", "B"]
    assert r.rx == "XlphX"


def test_list_tuple_roundtrip_identity(spark):
    from backend_spark.operators import op_list_to_tuple, op_tuple_to_list

    # Spark arrays are group-able, so both ops are documented identities
    # (reference code/recipes.py:1929-1953 converts only for pandas
    # hashability); the roundtrip must preserve the frame exactly
    df = spark.createDataFrame([(1, ["a", "b"])], "id long, xs array<string>")
    out = op_tuple_to_list(op_list_to_tuple(df, ["xs"]), ["xs"])
    assert out.collect() == df.collect()
    assert out.schema == df.schema


def test_fwf_write_read_roundtrip(spark, tmp_path):
    from backend_spark.sources import read_dataset, write_dataset

    # reference to_fwf left-justifies each value to its width
    # (code/recipes.py:77-108); read slices+trims the same widths back
    df = spark.createDataFrame(
        [("ab", "1"), ("c", "23")], "name string, code string"
    )
    path = str(tmp_path / "fwf_out")
    widths = [("name", 5), ("code", 3)]
    write_dataset(df, path, fmt="fwf", fwf_widths=widths)
    raw = spark.read.text(path).collect()
    assert {r.value for r in raw} == {"ab   1  ", "c    23 "}
    back = read_dataset(spark, path, fmt="fwf", fwf_widths=widths)
    assert {(r.name, r.code) for r in back.collect()} == {("ab", "1"), ("c", "23")}


def test_profile_single_pass_stats(spark):
    from backend_spark.profile import profile

    df = spark.createDataFrame(
        [(1, "ab", 1.5), (2, None, 2.5), (3, "abcd", None), (3, "ab", 4.0)],
        "k long, s string, x double",
    )
    rows = {r.col_name: r for r in profile(df, exact=True).collect()}
    assert set(rows) == {"k", "s", "x"}
    k = rows["k"]
    assert (k.n, k.n_null, k.n_distinct, k.min_num, k.max_num) == (4, 0, 3, 1.0, 3.0)
    s = rows["s"]
    assert (s.n_null, s.n_distinct, s.min_len, s.max_len) == (1, 2, 2, 4)
    assert s.min_num is None
    x = rows["x"]
    assert (x.n_null, x.min_num, x.max_num) == (1, 1.5, 4.0)
    # approx path: same shape, cardinalities within HLL++ error on tiny data
    approx = {r.col_name: r.n_distinct for r in profile(df).collect()}
    assert approx["k"] == 3 and approx["s"] == 2


def test_pivot_melt_roundtrip(spark):
    from backend_spark.operators import op_melt, op_pivot

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0), ("a", "x", 4.0)],
        "k string, p string, v double",
    )
    wide = op_pivot(df, "k", "p", "v", agg="sum", values=["x", "y"])
    got = {(r.k, r.x, r.y) for r in wide.collect()}
    assert got == {("a", 5.0, 2.0), ("b", 3.0, None)}
    # inferred-values path matches the explicit one
    auto = {(r.k, r.x, r.y) for r in op_pivot(df, "k", "p", "v", agg="sum").collect()}
    assert auto == got
    back = op_melt(wide, ["k"], ["x", "y"], var_name="p", value_name="v")
    assert back.columns == ["k", "p", "v"]
    assert {(r.k, r.p, r.v) for r in back.collect()} == {
        ("a", "x", 5.0), ("a", "y", 2.0), ("b", "x", 3.0), ("b", "y", None)}
    # melt alone is a shuffle-free projection (the Exchange in `back`'s
    # plan belongs to the upstream pivot aggregate)
    plain = op_melt(df, ["k"], ["v"], var_name="p", value_name="v2")
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_rollup_agg_subtotals_and_gid(spark):
    from backend_spark.operators import rollup_agg

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)], "k1 string, k2 string, v long"
    )
    rows = {(r.k1, r.k2, r.gid): r.v_sum for r in
            rollup_agg(df, ["k1", "k2"], {"v": "sum"}).collect()}
    assert rows[("a", "x", 0)] == 1 and rows[("a", "y", 0)] == 2
    assert rows[("a", None, 1)] == 3 and rows[("b", None, 1)] == 4
    assert rows[(None, None, 3)] == 7  # grand total
    cube = rollup_agg(df, ["k1", "k2"], {"v": "sum"}, cube=True).collect()
    assert len(cube) == 8  # 3 exact + 2 k1-subtotals + 2 k2-subtotals + total
    import pytest
    with pytest.raises(ValueError):
        rollup_agg(df, ["k1"], {"v": "median"})


def test_quantile_bins_equal_frequency(spark):
    from backend_spark.features import quantile_bins

    df = spark.createDataFrame([(i, i) for i in range(1, 9)], "rid long, x long")
    out = {r.rid: r.x_bin for r in quantile_bins(df, "x", 4).collect()}
    # boundaries at q=.25/.5/.75 of 1..8 -> 2.75, 4.5, 6.25
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 3, 8: 3}
    grouped = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 100), ("b", 3, 1), ("b", 4, 100)],
        "g string, rid long, x long",
    )
    g = {r.rid: r.x_bin for r in quantile_bins(grouped, "x", 2, group_col="g").collect()}
    assert g == {1: 0, 2: 1, 3: 0, 4: 1}  # per-group medians, not global


def test_zscore_per_group_and_degenerate(spark):
    from backend_spark.features import zscore

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 4, 7.0)],
        "g string, rid long, v double",
    )
    out = {r.rid: r.v_z for r in zscore(df, "v", group_col="g").collect()}
    assert out[1] == -1.0 and out[2] == 0.0 and out[3] == 1.0
    assert out[4] is None  # single-row group: null, not an ANSI division error


def test_bpe_train_matches_reference_merge_loop(spark):
    import collections
    import re

    from backend_spark import llm

    # 'banana'/'aaaa' pin the non-overlap semantics: 'b a n a n a' must
    # merge (a,n) twice in one round and 'a a a a' must become 'aa aa'
    texts = ["low lower lowest", "new newer newest", "low low new", "banana banana aaaa"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    # independent BPE on word frequencies (Sennrich et al. merge loop);
    # the merge is token-level left-to-right non-overlapping — NOT a
    # string replace, which consumes the shared delimiter and
    # under-merges runs ('b a n a n a' -> 'b an a n a')
    def merge_toks(toks, lhs, rhs):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == lhs and toks[i + 1] == rhs:
                out.append(lhs + rhs)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    wf = collections.Counter(
        w for t in texts for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if len(w) >= 2
    )
    vocab = {tuple(w): c for w, c in wf.items()}
    expect = []
    for rank in range(1, 6):
        pairs = collections.Counter()
        for toks, c in vocab.items():
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, lhs, rhs, lhs + rhs, cnt))
        vocab = {tuple(merge_toks(list(t), lhs, rhs)): c for t, c in vocab.items()}

    got = [tuple(r) for r in llm.bpe_train(df, "doc_id", "text", n_merges=5)
           .orderBy("rank").collect()]
    assert got == expect


def test_bpe_encode_pieces_reconstruct_words(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(0, "banana banana banana"), (1, "low lower")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in llm.bpe_encode(df, "doc_id", "text", n_merges=2).collect()}
    # merges learned: (a,n) then (an,a) -> banana = [b, an, ana]
    assert out[0].pieces_preview[:3] == ["b", "an", "ana"]
    assert out[0].n_bpe == 9  # 3 pieces x 3 words
    # pieces always concatenate back to the normalized words
    assert "".join(out[1].pieces_preview[: out[1].n_bpe]) == "lowlower"


def test_chunk_documents_window_layout(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    rows = sorted(
        llm.chunk_documents(df, "doc_id", "text", chunk_size=3, overlap=1).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    got = [(r.doc_id, r.chunk_id, r.start_tok, r.n_tokens_chunk, r.chunk_text) for r in rows]
    assert got == [
        (1, 0, 1, 3, "t1 t2 t3"),
        (1, 1, 3, 3, "t3 t4 t5"),
        (1, 2, 5, 3, "t5 t6 t7"),
        (1, 3, 7, 1, "t7"),  # short tail kept: the splitter is lossless
        (2, 0, 1, 1, "a"),  # empty doc 3 emits nothing
    ]
    with pytest.raises(ValueError, match="overlap"):
        llm.chunk_documents(df, "doc_id", "text", chunk_size=3, overlap=3)


def test_source_mix_shares(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [("web", "en", "one two"), ("web", "en", "three"), ("book", "fr", "quatre cinq six"), ("web", "de", "sieben")],
        "source string, lang string, text string",
    )
    out = {(r.source, r.lang): r for r in llm.source_mix(df).collect()}
    assert out[("web", "en")].n_docs == 2 and out[("web", "en")].n_tokens == 3
    assert out[("book", "fr")].n_tokens == 3
    assert abs(sum(r.doc_share for r in out.values()) - 1.0) < 1e-9


def test_bigram_logprob_known_values(spark):
    import math

    from backend_spark import llm

    df = spark.createDataFrame([(1, "a a b"), (2, "x")], "doc_id long, text string")
    rows = {r.doc_id: r for r in llm.bigram_logprob(df, "doc_id", "text").collect()}
    # doc 1: bigrams (a,a), (a,b); head a count 2 -> each lp = ln(1/2)
    assert rows[1].n_bigrams == 2
    assert rows[1].avg_bigram_lp == round(math.log(0.5), 4)
    assert 2 not in rows  # <2 tokens: no bigrams, no row


def test_dq_check_rules(spark):
    from backend_spark.quality import dq_check

    df = spark.createDataFrame(
        [
            (1, "a@x.io", 5.0, "gold"),
            (2, "b@x.io", -1.0, "gold"),
            (2, None, 50.0, "iron"),
            (3, "not-an-email", None, "silver"),
        ],
        "id long, email string, score double, tier string",
    )
    out = dq_check(df, [
        {"col": "id", "check": "unique"},
        {"col": "email", "check": "not_null"},
        {"col": "score", "check": "min", "value": 0.0},
        {"col": "score", "check": "max", "value": 10.0},
        {"col": "tier", "check": "in_set", "values": ["gold", "silver"]},
        {"col": "email", "check": "regex", "pattern": "^[^@]+@[^@]+$"},
    ]).collect()
    by_id = {r.rule_id: r for r in out}
    assert [by_id[i].violations for i in range(6)] == [1, 1, 2, 2, 1, 2]
    assert all(r.n_rows == 4 for r in out)
    assert not any(by_id[i].passed for i in range(6))
    ok = dq_check(df.select("id"), [{"col": "id", "check": "max", "value": 100}]).collect()
    assert ok[0].passed and ok[0].violations == 0

    import pytest
    with pytest.raises(ValueError):
        dq_check(df, [{"col": "id", "check": "between"}])
    with pytest.raises(ValueError):
        dq_check(df, [{"col": "missing", "check": "not_null"}])


def test_winsorize_clips_to_group_band(spark):
    from backend_spark.features import winsorize

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 11)] + [("h", 100.0), ("h", 200.0)],
        "grp string, x double",
    )
    out = winsorize(df, "x", lower=0.1, upper=0.9, group_col="grp")
    g = sorted(r.x_w for r in out.where(F.col("grp") == "g").collect())
    # exact interpolated p10/p90 of 1..10 = 1.9 / 9.1; tails clipped, middle kept
    assert g[0] == 1.9 and g[-1] == 9.1
    assert 5.0 in g
    h = sorted(r.x_w for r in out.where(F.col("grp") == "h").collect())
    assert h == [110.0, 190.0]  # p10/p90 of {100,200}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winsorize(df, "x", lower=0.9, upper=0.1)


def test_binary_and_text_sources(spark, tmp_path):
    from backend_spark.sources import read_dataset

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x89PNG\r\n\x1a\nfakebytes")
    (d / "b.bin").write_bytes(b"RIFFxxxxWAVE")
    df = read_dataset(spark, str(d), fmt="binary")
    rows = {r.path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert rows["a.bin"].startswith(b"\x89PNG") and rows["b.bin"].startswith(b"RIFF")
    assert {r["length"] for r in df.select("length").collect()} == {17, 12}
    # metadata-only projection must not require content (column pruning)
    assert df.select("path", "length").count() == 2
    (d / "lines.txt").write_text("l1\nl2\n")
    txt = read_dataset(spark, str(d / "lines.txt"), fmt="text")
    assert sorted(r.value for r in txt.collect()) == ["l1", "l2"]


def test_robust_scale_ignores_outlier(spark):
    from backend_spark.features import robust_scale

    df = spark.createDataFrame(
        [(float(v),) for v in [1, 2, 3, 4, 5]] + [(1000.0,)], "x double"
    )
    out = {r.x: r.x_rs for r in robust_scale(df, "x").collect()}
    # median 3.5, MAD = median(|x-3.5|) = median(2.5,1.5,.5,.5,1.5,996.5) = 1.5
    assert out[3.0] == round((3 - 3.5) / (1.4826 * 1.5), 6)
    # the outlier is far out in robust units but doesn't distort the rest
    assert out[1000.0] > 100
    # constant column -> MAD 0 -> all zeros
    const = spark.createDataFrame([(7.0,)] * 4, "x double")
    assert {r.x_rs for r in robust_scale(const, "x").collect()} == {0.0}


def test_rolling_agg_trailing_window(spark):
    from backend_spark.features import rolling_agg

    us = 1_000_000
    rows = [
        (1, 0 * us, 1.0),
        (1, 30 * us, 2.0),
        (1, 61 * us, 4.0),   # 0s event has left the 60s window
        (2, 0 * us, 10.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, value double")
    out = {
        (r.user_id, r.ts_us): (r.roll_cnt, r.roll_sum, r.roll_avg)
        for r in rolling_agg(df, "user_id", "ts_us", "value", 60 * us).collect()
    }
    assert out[(1, 0)] == (1, 1.0, 1.0)
    assert out[(1, 30 * us)] == (2, 3.0, 1.5)
    assert out[(1, 61 * us)] == (2, 6.0, 3.0)  # {30s, 61s} only
    assert out[(2, 0)] == (1, 10.0, 10.0)


def test_hll_distinct_estimate_accuracy_and_merge_property(spark):
    from backend_spark.scale import hll_distinct

    # 2000 distinct values in one group, 50 in the other
    rows = [("big", i) for i in range(2000)] + [("small", i) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r.grp: r for r in hll_distinct(df, "v", group_cols=["grp"], p=8).collect()}
    # p=8 -> ~6.5% standard error; assert within 4 sigma
    assert abs(out["big"].distinct_est - 2000) < 2000 * 0.26
    assert abs(out["small"].distinct_est - 50) < 50 * 0.3
    # duplicates never change the sketch (max-merge is idempotent)
    dup = df.unionAll(df)
    out2 = {r.grp: r.distinct_est for r in hll_distinct(dup, "v", group_cols=["grp"], p=8).collect()}
    assert out2 == {g: r.distinct_est for g, r in out.items()}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hll_distinct(df, "v", p=2)


def test_soundex_canonical_vectors(spark):
    # the canonical test vectors, including the H/W collapse and the
    # first-letter-code collapse subtleties
    vectors = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Washington": "W252", "Lee": "L000",
        "Gutierrez": "G362", "Jackson": "J250", "O'Brien": "O165",
        "": "", "123": "",
    }
    from backend_spark import functions as fn

    df = spark.createDataFrame([(k,) for k in vectors], "name string")
    got = {r.name: r.sx for r in df.select("name", fn.soundex(F.col("name")).alias("sx")).collect()}
    assert got == vectors


def test_k_anonymity_flags_small_and_uniform_classes(spark):
    from backend_spark.quality import k_anonymity

    rows = (
        [("paris", "eng", 100 + i) for i in range(5)]     # k ok, l ok
        + [("lyon", "eng", 7), ("lyon", "eng", 7)]        # small AND uniform
        + [("nice", "law", i) for i in range(4)]          # small, diverse
    )
    df = spark.createDataFrame(rows, "city string, job string, salary long")
    out = {
        (r.city, r.job): r
        for r in k_anonymity(df, ["city", "job"], k=5, sensitive_col="salary", l_div=2).collect()
    }
    ok = out[("paris", "eng")]
    assert (ok.class_size, ok.n_sensitive, ok.violates_k, ok.violates_l) == (5, 5, False, False)
    bad = out[("lyon", "eng")]
    assert (bad.class_size, bad.n_sensitive, bad.violates_k, bad.violates_l) == (2, 1, True, True)
    small = out[("nice", "law")]
    assert (small.violates_k, small.violates_l) == (True, False)
    # without a sensitive column: size + k flag only
    cols = set(k_anonymity(df, ["city"], k=3).columns)
    assert cols == {"city", "class_size", "violates_k"}


def test_snapshot_diff_statuses(spark):
    from backend_spark.quality import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)], "k long, name string, v double"
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 1.0)], "k long, name string, v double"
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, "k").collect()}
    # 1 unchanged (absent), 2 changed, 3 removed, 4 added; null-safe compare
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_retention_cohorts_hand_check(spark):
    from backend_spark.features import retention_cohorts

    day = 86_400_000_000
    rows = [
        (1, 0), (1, day), (1, 2 * day),       # cohort 0, ages 0,1,2
        (2, 0), (2, 2 * day),                 # cohort 0, ages 0,2
        (3, day), (3, day + 1),               # cohort 1, age 0 (distinct once)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {(r.cohort_bucket, r.age): r.n_users for r in retention_cohorts(df, "user_id", "ts_us").collect()}
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 2, (1, 0): 1}


def test_histogram_bins_and_empty_bins(spark):
    from backend_spark.features import histogram

    df = spark.createDataFrame([(float(v),) for v in [0, 1, 2, 9, 10]], "x double")
    rows = {r.bin: r for r in histogram(df, "x", bins=5).collect()}
    assert len(rows) == 5
    # w=2: [0,2)->{0,1}, [2,4)->{2}, [4,6)->{} , [6,8)->{}, [8,10]->{9,10}
    assert [rows[i].cnt for i in range(5)] == [2, 1, 0, 0, 2]
    assert rows[0].lo == 0.0 and rows[4].hi == 10.0
    # degenerate constant column
    const = spark.createDataFrame([(5.0,)] * 3, "x double")
    crow = histogram(const, "x", bins=4).where(F.col("bin") == 0).collect()[0]
    assert crow.cnt == 3


def test_winsorize_and_robust_scale_keep_null_groups(spark):
    from backend_spark.features import robust_scale, winsorize

    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), (None, 10.0), (None, 20.0), (None, 30.0)],
        "grp string, x double",
    )
    w = winsorize(df, "x", lower=0.25, upper=0.75, group_col="grp")
    assert w.count() == 6  # null group survives
    assert w.where(F.col("grp").isNull()).count() == 3
    r = robust_scale(df, "x", group_col="grp")
    assert r.count() == 6
    # null group scales against its own median (20), not g's
    mid = {row.x: row.x_rs for row in r.where(F.col("grp").isNull()).collect()}
    assert mid[20.0] == 0.0


def test_blocklist_normalizes_terms_and_rejects_phrases(spark):
    from backend_spark import llm

    df = spark.createDataFrame([(1, "buy ViAgRa now")], "doc_id long, text string")
    out = llm.blocklist_hit_rate(df, "doc_id", "text", terms=["Viagra"]).collect()[0]
    assert out.n_hits == 1 and not out.keep
    with pytest.raises(ValueError):
        llm.blocklist_hit_rate(df, "doc_id", "text", terms=["two words"])
    with pytest.raises(ValueError):
        llm.blocklist_hit_rate(df, "doc_id", "text", terms=["!!!"])


def test_oversample_factor_zero_and_no_wasted_copy(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(i, "keep") for i in range(10)] + [(100 + i, "drop") for i in range(5)],
        "doc_id long, src string",
    )
    out = llm.oversample(df, "doc_id", "src", {"drop": 0.0, "keep": 2.0})
    rows = out.collect()
    assert all(r.src == "keep" for r in rows)
    assert len(rows) == 20  # exactly 2x, nothing from the zero group


class _FakeES:
    """Minimal in-process Elasticsearch: _bulk, sliced scroll search."""

    def __init__(self):
        import http.server
        import json
        import threading

        store = self.store = {}
        scrolls = self.scrolls = {}
        fail_once = self.fail_once = {"n": 0}

        class H(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _json(self, code, obj):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                ln = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(ln).decode()
                if fail_once["n"] > 0:
                    fail_once["n"] -= 1
                    return self._json(503, {"error": "throttled"})
                if self.path.endswith("/_bulk"):
                    lines = [json.loads(l) for l in raw.strip().split("\n")]
                    items = []
                    for i in range(0, len(lines), 2):
                        action, doc = lines[i], lines[i + 1]
                        op, meta = next(iter(action.items()))
                        _id = meta.get("_id") or str(len(store))
                        if op == "update":
                            store.setdefault(_id, {}).update(doc["doc"])
                        else:
                            store[_id] = doc
                        items.append({op: {"_id": _id, "status": 200}})
                    return self._json(200, {"errors": False, "items": items})
                if "/_search/scroll" in self.path:
                    sid = json.loads(raw)["scroll_id"]
                    ids, off, batch = scrolls[sid]
                    page = ids[off : off + batch]
                    scrolls[sid] = (ids, off + batch, batch)
                    hits = [{"_id": i, "_source": store[i]} for i in page]
                    return self._json(200, {"_scroll_id": sid, "hits": {"hits": hits}})
                if "/_search" in self.path:
                    body = json.loads(raw)
                    sl = body.get("slice", {"id": 0, "max": 1})
                    batch = body.get("size", 10)
                    ids = sorted(
                        i for i in store if int(i) % sl["max"] == sl["id"]
                    )
                    sid = f"sc{sl['id']}"
                    scrolls[sid] = (ids, batch, batch)
                    hits = [{"_id": i, "_source": store[i]} for i in ids[:batch]]
                    return self._json(200, {"_scroll_id": sid, "hits": {"hits": hits}})
                return self._json(404, {})

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        threading.Thread(target=self.httpd.serve_forever, daemon=True).start()

    def close(self):
        self.httpd.shutdown()


def test_es_rest_write_read_roundtrip_and_upsert(spark):
    from backend_spark.sources import read_es_rest, write_es_rest

    es = _FakeES()
    try:
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(25)], "k long, v string"
        ).repartition(4)
        write_es_rest(df, es.url, "idx", id_col="k", batch=7)
        assert len(es.store) == 25 and es.store["3"] == {"v": "v3"}
        back = read_es_rest(
            spark, es.url, "idx", "_id string, v string", n_slices=3, batch=4
        )
        rows = {r._id: r.v for r in back.collect()}
        assert rows == {str(i): f"v{i}" for i in range(25)}
        # update op merges into existing docs
        upd = spark.createDataFrame([(3, "patched")], "k long, w string")
        write_es_rest(upd, es.url, "idx", id_col="k", op="update")
        assert es.store["3"] == {"v": "v3", "w": "patched"}
        # transient 503s are retried, not fatal
        es.fail_once["n"] = 1
        write_es_rest(upd, es.url, "idx", id_col="k", op="update")
    finally:
        es.close()


def test_sql_local_partitioned_roundtrip(spark, tmp_path):
    import duckdb

    from backend_spark.sources import read_sql_local, write_sql_local

    db = str(tmp_path / "wh.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT i AS k, 'r' || i AS v FROM range(0, 100) r(i)")
    con.close()
    # partitioned parallel read covers all rows exactly once
    got = read_sql_local(
        spark, db, "SELECT k, v FROM t", "k long, v string",
        partition_column="k", lower=0, upper=100, num_partitions=3,
    )
    rows = {r.k: r.v for r in got.collect()}
    assert rows == {i: f"r{i}" for i in range(100)}
    # unpartitioned single-slice read
    one = read_sql_local(spark, db, "SELECT k FROM t WHERE k < 5", "k long")
    assert sorted(r.k for r in one.collect()) == [0, 1, 2, 3, 4]
    # write back: executors stage parquet, one bulk INSERT loads it
    write_sql_local(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), db, "loaded")
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM loaded").fetchone()[0] == 2
    con.close()
    write_sql_local(spark.createDataFrame([(3, "c")], "k long, v string"), db, "loaded", mode="append")
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM loaded").fetchone()[0] == 3
    con.close()


def test_join_es_msearch_attaches_topk_buckets(spark):
    import json

    from backend_spark.sources import join_es_msearch, write_es_rest

    es = _FakeES()
    # extend the fake with _msearch: exact match on a single field
    store = es.store

    def msearch(raw):
        lines = [json.loads(l) for l in raw.strip().split("\n")]
        responses = []
        for i in range(0, len(lines), 2):
            body = lines[i + 1]
            (field, value), = body["query"]["match"].items()
            hl = [
                {"_id": _id, "_score": 1.0, "_source": doc}
                for _id, doc in sorted(store.items())
                if str(doc.get(field)) == str(value)
            ][: body.get("size", 10)]
            responses.append(
                {"hits": {"hits": hl, "total": {"value": len(hl)}}}
            )
        return {"responses": responses}

    es.msearch = msearch
    # patch the handler: route /_msearch through the hook above
    orig_post = type(es.httpd.RequestHandlerClass).__call__  # noqa: F841

    import http.server

    class H2(es.httpd.RequestHandlerClass):
        def do_POST(self):
            if self.path.endswith("/_msearch"):
                ln = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(ln).decode()
                return self._json(200, msearch(raw))
            return super().do_POST()

    es.httpd.RequestHandlerClass = H2
    try:
        ref = spark.createDataFrame(
            [(i, f"name{i % 3}", i * 10) for i in range(6)], "k long, name string, score long"
        )
        write_es_rest(ref, es.url, "people", id_col="k")
        left = spark.createDataFrame([(1, "name0"), (2, "zzz")], "qid long, name string")
        out = join_es_msearch(
            left, es.url, "people", {"match": {"name": "{name}"}}, k=5
        )
        rows = {r.qid: r for r in out.collect()}
        got = json.loads(rows[1].hits)
        assert {h["_id"] for h in got} == {"0", "3"}  # name0 docs
        assert rows[1].matchid_hit_matches_unfiltered == 2
        assert rows[1].hit_max_score == 1.0
        assert json.loads(rows[2].hits) == [] and rows[2].hit_max_score is None
        # composes with op_unnest-style downstream: hits is plain JSON
    finally:
        es.close()


def test_write_es_rest_auto_ids_are_idempotent(spark):
    from backend_spark.sources import write_es_rest

    es = _FakeES()
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        write_es_rest(df, es.url, "idx")          # no id_col: row-hash ids
        first = dict(es.store)
        write_es_rest(df, es.url, "idx")          # a retry/rerun overwrites
        assert es.store == first and len(es.store) == 2
        assert all(len(k) == 64 for k in es.store)  # sha256 hex ids
    finally:
        es.close()


def test_scd2_build_runs_intervals_and_current_flag(spark):
    from backend_spark.quality import scd2_build

    df = spark.createDataFrame(
        [
            (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "a"),
            (2, 10, "x"),
            (3, None, "z"),  # null ts dropped
        ],
        "k long, ts long, v string",
    )
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_build(df, "k", "v", "ts").collect()
    }
    assert rows == {
        (1, "a", 10, 30, False),   # run collapses 10+20
        (1, "b", 30, 40, False),
        (1, "a", 40, None, True),  # same value again -> NEW run, current
        (2, "x", 10, None, True),
    }


def test_scd2_build_multi_attr_null_safe(spark):
    from backend_spark.quality import scd2_build

    df = spark.createDataFrame(
        [(1, 10, "a", None), (1, 20, "a", None), (1, 30, "a", 5)],
        "k long, ts long, v string, w int",
    )
    rows = sorted(
        (r.valid_from, r.valid_to) for r in scd2_build(df, "k", ["v", "w"], "ts").collect()
    )
    # null w == null w (null-safe) so 10..20 is one run; change at 30
    assert rows == [(10, 30), (30, None)]


def test_url_normalize_edge_cases(spark):
    from backend_spark import llm

    rows = [
        (1, "HTTPS://User:Pw@WWW.Example.COM:443/Path/?b=2&utm_source=x&a=1&fbclid=z#frag"),
        (2, "http://site.org:80"),                      # default port + empty path
        (3, "http://site.org:8080/x?=5&a=1&ref=r"),     # kept custom port, empty param name
        (4, "not a url"),                               # schemeless passthrough
        (5, "ftp://Host.Net:21/file"),                  # non-http scheme: port kept
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r for r in llm.url_normalize(df, "url").collect()}
    r1 = got[1]
    assert r1.url_scheme == "https" and r1.url_host == "www.example.com"
    assert r1.url_port is None                          # 443 is the https default
    assert r1.url_path == "/Path/" and r1.url_query == "a=1&b=2"
    assert r1.url_norm == "https://www.example.com/Path/?a=1&b=2"
    r2 = got[2]
    assert r2.url_port is None and r2.url_path == "/" and r2.url_norm == "http://site.org/"
    r3 = got[3]
    assert r3.url_port == 8080 and r3.url_query == "=5&a=1"
    r4 = got[4]
    assert r4.url_scheme == "" and r4.url_host == "" and r4.url_norm == "not a url"
    assert r4.url_port is None and r4.url_path is None
    r5 = got[5]
    assert r5.url_scheme == "ftp" and r5.url_port == 21


def test_fill_forward_locf_and_leading_nulls(spark):
    from backend_spark.features import fill_forward

    rows = [
        ("u", 1, None, None), ("u", 2, 5.0, "a"), ("u", 3, None, None),
        ("u", 4, 7.0, None), ("u", 5, None, "b"),
        ("v", 1, None, None),                       # all-null key stays null
    ]
    df = spark.createDataFrame(rows, "k string, t long, x double, s string")
    got = {(r.k, r.t): (r.x, r.s) for r in fill_forward(df, "k", "t", ["x", "s"]).collect()}
    assert got[("u", 1)] == (None, None)            # nothing before -> stays null
    assert got[("u", 3)] == (5.0, "a")
    assert got[("u", 4)] == (7.0, "a")
    assert got[("u", 5)] == (7.0, "b")
    assert got[("v", 1)] == (None, None)


def test_transition_counts_conditional_probabilities(spark):
    from backend_spark.features import transition_counts

    rows = [("u", i, s) for i, s in enumerate("AABAB")] + [("v", i, s) for i, s in enumerate("AB")]
    df = spark.createDataFrame(rows, "k string, t long, s string")
    got = {(r.src, r.dst): (r.cnt, r.p) for r in transition_counts(df, "k", "t", "s").collect()}
    # u: A->A, A->B, B->A, A->B ; v: A->B
    assert got[("A", "B")] == (3, 0.75) and got[("A", "A")] == (1, 0.25)
    assert got[("B", "A")] == (1, 1.0)


def test_feature_hash_deterministic_counts(spark):
    import pytest as _pytest

    from backend_spark.features import feature_hash

    df = spark.createDataFrame([(1, "cat cat dog"), (2, "cat")], "id long, t string")
    out = feature_hash(df, "id", "t", n_buckets=16).collect()
    assert all(0 <= r.bucket < 16 for r in out)
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, {})[r.bucket] = r.cnt
    # 'cat' hashes identically everywhere -> same bucket, count 2 in doc 1
    cat_bucket = next(iter(by_id[2]))
    assert by_id[1][cat_bucket] == 2
    with _pytest.raises(ValueError):
        feature_hash(df, "id", "t", n_buckets=0)


def test_readability_flesch_values(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, ""), (3, "???")],
        "id long, t string",
    )
    got = {r.id: r for r in llm.readability(df, "id", "t").collect()}
    r1 = got[1]
    assert r1.n_words == 6 and r1.n_sentences == 2 and r1.n_syllables == 6
    assert abs(r1.flesch - round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 4)) < 1e-9
    assert got[2].flesch is None and got[2].n_words == 0
    assert got[3].flesch is None and got[3].n_sentences == 1


def test_cdf_normalize_ranks_and_global_guard(spark):
    import pytest as _pytest

    from backend_spark.features import cdf_normalize

    rows = [("a", 10.0), ("a", 20.0), ("a", 20.0), ("a", 30.0), ("b", 1.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = sorted(
        (r.g, r.v, r.v_cdf) for r in cdf_normalize(df, "g", "v").collect()
    )
    # ties share a rank; (n-1) denominator (rounded to 6); singleton -> 0.0
    assert got == [
        ("a", 10.0, 0.0), ("a", 20.0, 0.333333), ("a", 20.0, 0.333333),
        ("a", 30.0, 1.0), ("b", 1.0, 0.0),
    ]
    with _pytest.raises(ValueError, match="group"):
        cdf_normalize(df, [], "v")


def test_mad_outliers_flags_and_degenerate_group(spark):
    from backend_spark.features import mad_outliers

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
            ("c", 5.0), ("c", 5.0), ("c", 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, "g", "v", k=3.0).collect()
    by = {(r.g, r.v): r for r in out}
    # a: med 2.5, devs [1.5, .5, .5, 97.5], MAD 1.0 -> only 100 is out
    assert by[("a", 100.0)].is_outlier and not by[("a", 3.0)].is_outlier
    assert by[("a", 2.0)].mad == 1.0
    # c: med 5, MAD 0 -> any deviation flags
    assert by[("c", 9.0)].is_outlier and not by[("c", 5.0)].is_outlier


def test_mad_outliers_keeps_null_group(spark):
    from backend_spark.features import mad_outliers

    rows = [("a", "x", 1.0), ("a", "x", 2.0), ("a", "x", 9.0), (None, None, 4.0), (None, None, 10.0)]
    df = spark.createDataFrame(rows, "g string, h string, v double")
    for groups in ("g", ["g", "h"]):
        out = {r.v: r for r in mad_outliers(df, groups, "v", k=3.0).collect()}
        assert len(out) == 5
        # the null group is a group of its own: median 7, deviations 3, 3
        assert (out[4.0].dev, out[4.0].mad, out[10.0].is_outlier) == (3.0, 3.0, False)
        # a: median 2, deviations 1, 0, 7 -> MAD 1, only 9 is out
        assert out[9.0].is_outlier and out[1.0].mad == 1.0


def test_sentence_split_positions_and_counts(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "Hello world. Bye!!  Next one?"), (2, "no terminal punct"), (3, "...")],
        "id long, t string",
    )
    got = {(r.id, r.sent_id): (r.sentence, r.n_words) for r in llm.sentence_split(df, "id", "t").collect()}
    assert got[(1, 0)] == ("Hello world", 2)
    assert got[(1, 1)] == ("Bye", 1)
    assert got[(1, 2)] == ("Next one", 2)
    assert got[(2, 0)] == ("no terminal punct", 3)
    assert (3, 0) not in got and not any(k[0] == 3 for k in got)


def test_ipv4_cidr_parsing_and_filter(spark):
    import pyspark.sql.functions as F

    from backend_spark import functions as fn
    from backend_spark.quality import cidr_filter

    ips = spark.createDataFrame(
        [(1, "10.0.0.1"), (2, "10.255.255.255"), (3, "11.0.0.1"),
         (4, "256.1.1.1"), (5, "1.2.3"), (6, "192.168.7.9")],
        "id long, ip string",
    )
    v = {r.id: r.v for r in ips.select("id", fn.ipv4_long(F.col("ip")).alias("v")).collect()}
    assert v[1] == 10 * 16777216 + 1
    assert v[4] is None and v[5] is None          # octet > 255 / wrong shape
    cidrs = spark.createDataFrame(
        [("10.0.0.0/8",), ("192.168.0.0/16",), ("10.0.0.7/8",), ("8.8.8.8/33",)],
        "cidr string",
    )
    out = [(r.id, r.cidr) for r in cidr_filter(ips, "ip", cidrs).collect()]
    # 10.0.0.7/8 masks to 10.0.0.0/8 -> ids 1,2 match BOTH 10/8 entries
    assert sorted(out) == [
        (1, "10.0.0.0/8"), (1, "10.0.0.7/8"),
        (2, "10.0.0.0/8"), (2, "10.0.0.7/8"),
        (6, "192.168.0.0/16"),
    ]
    rng = spark.createDataFrame([("10.0.0.7/8",)], "cidr string").select(
        fn.cidr_range(F.col("cidr")).alias("r")
    ).collect()[0].r
    assert rng.lo == 10 * 16777216 and rng.hi == 11 * 16777216


def test_budget_select_strict_gate_and_order(spark):
    from backend_spark import llm

    rows = [
        ("s", 1, 40, 5), ("s", 2, 40, 9), ("s", 3, 30, 9), ("s", 4, 100, 1),
        ("t", 9, 100, 1),
    ]
    df = spark.createDataFrame(rows, "src string, id long, sz long, prio long")
    out = {r.id: r.cum_size for r in llm.budget_select(df, "src", "sz", 100, "prio", "id").collect()}
    # order within s: prio desc, id asc -> 2 (40), 3 (70), 1 (110 > 100: dropped),
    # 4 would cross too; t's single row exactly fills its budget
    assert out == {2: 40, 3: 70, 9: 100}


def test_group_centroid_exact_means(spark):
    from backend_spark import llm

    rows = [
        ("a", [1.0, 2.0]), ("a", [3.0, 6.0]),
        ("b", [-1.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "lbl string, v array<double>")
    got = {r.lbl: (r.n_vecs, r.centroid) for r in llm.group_centroid(df, "lbl", "v").collect()}
    assert got["a"] == (2, [2.0, 4.0])
    assert got["b"] == (1, [-1.0, 0.5])


def test_extract_links_quote_forms_and_positions(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [
            (1, '<a href="http://x.com/a">A</a><a href=\'y.html\'>B</a><a href=z#f>C</a>'),
            (2, 'no links here'),
            (3, 'href = "spaced.html" and href=\'\' empty'),
        ],
        "id long, html string",
    )
    got = [(r.id, r.link_pos, r.href) for r in llm.extract_links(df, "id", "html").collect()]
    assert (1, 0, "http://x.com/a") in got
    assert (1, 1, "y.html") in got
    assert (1, 2, "z#f") in got
    assert not any(i == 2 for i, _, _ in got)
    assert (3, 0, "spaced.html") in got          # whitespace around '='
    assert not any(i == 3 and p == 1 for i, p, _ in got)  # empty href dropped


def test_source_overlap_containment_matrix(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [
            (1, "a", "the quick brown fox jumps"),
            (2, "b", "the quick brown cat sits"),
            (3, "c", "nothing shared here at all"),
        ],
        "id long, src string, t string",
    )
    got = {(r.src_a, r.src_b): r for r in llm.source_overlap(df, "id", "t", "src", n=3).collect()}
    # a: 3 grams, b: 3 grams, shared = {'the quick brown'} -> 1
    r = got[("a", "b")]
    assert r.grams_a == 3 and r.shared == 1 and r.overlap == 0.333333
    assert got[("b", "a")].shared == 1
    # c shares nothing -> absent from the matrix
    assert not any("c" in k for k in got)


def test_refined_soundex_vectors_and_python_reference(spark):
    import pyspark.sql.functions as F

    from backend_spark import functions as fn

    CODES = {}
    for chars, d in [("bp", "1"), ("fv", "2"), ("cks", "3"), ("gj", "4"),
                     ("qxz", "5"), ("dt", "6"), ("l", "7"), ("mn", "8"),
                     ("r", "9"), ("aeiouhwy", "0")]:
        for ch in chars:
            CODES[ch] = d

    def ref(word):
        s = "".join(ch for ch in word.lower() if ch.isalpha() and ch.isascii())
        if not s:
            return ""
        out, prev = [], None
        for ch in s:
            d = CODES[ch]
            if d != prev:
                out.append(d)
            prev = d
        return s[0].upper() + "".join(out)

    words = ["testing", "TESTING", "braz", "quick", "lorem", "aaa", "xyz",
             "Ashcraft", "Pfister", "onomatopoeia", "shh", "mississippi"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: r.rs for r in df.select("w", fn.refined_soundex(F.col("w")).alias("rs")).collect()}
    # the commons-codec javadoc example
    assert got["testing"] == "T6036084"
    for w in words:
        assert got[w] == ref(w), w


def test_xml_roundtrip_preserves_rows(spark, tmp_path):
    from backend_spark.sources import read_dataset, write_dataset

    df = spark.createDataFrame(
        [(1, "a&b <c>", 1.5), (2, "plain", None)], "id long, s string, v double"
    )
    path = str(tmp_path / "xmlds")
    write_dataset(df, path, fmt="xml")
    back = read_dataset(spark, path, fmt="xml")
    got = sorted((r.id, r.s, r.v) for r in back.collect())
    assert got == [(1, "a&b <c>", 1.5), (2, "plain", None)]


def test_boilerplate_lines_df_not_tf(spark):
    from backend_spark.llm import boilerplate_lines
    import pytest

    docs = spark.createDataFrame(
        [
            (1, "a", ["hdr", "hdr", "x"]),   # dup line in ONE doc counts once
            (2, "a", ["hdr", None, ""]),     # null/empty lines ignored
            (3, "a", ["y"]),
            (4, "b", ["hdr"]),               # below min_docs in group b
        ],
        "doc_id long, src string, lines array<string>",
    )
    out = boilerplate_lines(docs, "doc_id", "src", "lines", min_share=0.5, min_docs=2)
    got = [(r.src, r.line, r.doc_freq, r.group_docs, r.share) for r in out.collect()]
    assert got == [("a", "hdr", 2, 3, 0.666667)]
    # share gate: hdr is 2/3 but min_share=0.7 excludes it
    assert (
        boilerplate_lines(docs, "doc_id", "src", "lines", min_share=0.7).count() == 0
    )
    with pytest.raises(ValueError, match="min_share"):
        boilerplate_lines(docs, "doc_id", "src", "lines", min_share=0.0)
    with pytest.raises(ValueError, match="min_docs"):
        boilerplate_lines(docs, "doc_id", "src", "lines", min_docs=0)


def test_phone_digits_and_email_norm(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame(
        [("+33 (6) 12-34-56",), ("06.12.34.56.78",), ("0033 1 2345",),
         ("612345678",), ("+1 (555) 123 4567",), ("0",), ("",), (None,),
         ("08 00 + 12",)],  # interior + is noise
        "p string",
    )
    got = [r.s for r in df.select(fn.phone_digits(F.col("p")).alias("s")).collect()]
    assert got == [
        "336123456", "33612345678", "3312345", "612345678",
        "15551234567", "0", "", None, "3380012",
    ]
    # non-default country code
    got = [r.s for r in df.select(fn.phone_digits(F.col("p"), "49").alias("s")).collect()]
    assert got[1] == "49612345678"

    em = spark.createDataFrame(
        [(" <User1@Example.COM> ",), ("MAILTO:A@B.fr",), ("mailto:x@y.z",),
         ("plain@c.org",), ("",), (None,)],
        "e string",
    )
    got = [r.s for r in em.select(fn.email_norm(F.col("e")).alias("s")).collect()]
    assert got == ["user1@example.com", "a@b.fr", "x@y.z", "plain@c.org", "", None]


def test_oov_rate_membership_and_empty_doc(spark):
    from backend_spark.llm import oov_rate

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "THE Dog!"), (3, ""), (4, "zzz qqq")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("the",), ("cat",), ("dog",)], "token string")
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in oov_rate(docs, vocab, "doc_id", "text").collect()
    }
    assert got == {
        1: (3, 1, 0.333333),          # "sat" is OOV
        2: (2, 0, 0.0),               # normalize folds case/punct
        3: (0, 0, None),              # zero-token doc -> NULL rate
        4: (2, 2, 1.0),
    }


def test_er_incremental_match_else_create(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["er_incremental"](spark, "/root/testdata/sf0.001")
    rows = {r.rec_id: r for r in df.collect()}
    assert rows  # fixture non-empty
    for r in rows.values():
        if r.is_new:
            # created: fresh entity id = own record id, no score
            assert r.entity_id == r.rec_id and r.match_score is None
        else:
            # matched: points back at the index entity it was derived from
            assert r.entity_id == r.rec_id - 1000000
            assert r.match_score >= 0.92
    assert any(r.is_new for r in rows.values())
    assert any(not r.is_new for r in rows.values())


def test_geohash_published_vectors_and_edges(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame(
        [(57.64911, 10.40744), (42.6, -5.6), (0.0, 0.0),
         (90.0, 180.0), (-90.0, -180.0), (None, 1.0), (1.0, None)],
        "lat double, lon double",
    )

    def gh(p):
        return [r.g for r in df.select(fn.geohash(F.col("lat"), F.col("lon"), p).alias("g")).collect()]

    # canonical vectors (geohash.org example) at odd AND even precisions
    assert gh(11) == ["u4pruydqqvj", "ezs42e44yx9", "s0000000000",
                      "zzzzzzzzzzz", "00000000000", None, None]
    assert gh(8) == ["u4pruydq", "ezs42e44", "s0000000",
                     "zzzzzzzz", "00000000", None, None]
    assert gh(1) == ["u", "e", "s", "z", "0", None, None]
    import pytest
    with pytest.raises(ValueError, match="precision"):
        fn.geohash(F.col("lat"), F.col("lon"), 13)
