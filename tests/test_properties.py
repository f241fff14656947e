"""Property-based tests (hypothesis): the composite operators must
agree with brute-force reference semantics on arbitrary inputs.

SURVEY.md §7 step 3 calls for property-testing the fuzzy join against
the reference automaton algorithm — FastSS blocking + verify must find
exactly the same best-match as exhaustive search with the reference
tie-break (distance 0 first, then first in sorted order,
code/recipes.py:2200-2204).
"""

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from backend_spark import functions as fn
from backend_spark.operators.joins import fuzzy_match

WORD = st.text(alphabet="abcd", min_size=0, max_size=6)


def _brute_best(key: str, words: list[str], max_dist: int = 1):
    """Reference semantics: best dictionary word by (distance, sorted order)."""

    def lev(a, b):
        # plain Levenshtein, matching F.levenshtein
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            prev = cur
        return prev[-1]

    cands = sorted((lev(key, w), w) for w in set(words))
    return cands[0][1] if cands and cands[0][0] <= max_dist else None


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(max_examples=15, deadline=None)
@given(
    keys=st.lists(WORD, min_size=1, max_size=5, unique=True),
    words=st.lists(st.text(alphabet="abcd", min_size=1, max_size=6), min_size=1, max_size=8, unique=True),
)
def test_fuzzy_match_equals_bruteforce(_spark, keys, words):
    left = _spark.createDataFrame([(k,) for k in keys], "k string")
    ref = _spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.k: r.m for r in fuzzy_match(left, ref, "k", "w", out_col="m").collect()}
    for k in keys:
        assert got[k] == _brute_best(k, words), (k, words)


@settings(max_examples=10, deadline=None)
@given(
    keys=st.lists(WORD, min_size=1, max_size=4, unique=True),
    words=st.lists(st.text(alphabet="abcd", min_size=1, max_size=6), min_size=1, max_size=6, unique=True),
)
def test_fuzzy_match_dist2_equals_bruteforce(_spark, keys, words):
    # 2-deletion neighborhoods must be exhaustive for max_dist=2
    left = _spark.createDataFrame([(k,) for k in keys], "k string")
    ref = _spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.k: r.m for r in fuzzy_match(left, ref, "k", "w", out_col="m", max_dist=2).collect()}
    for k in keys:
        assert got[k] == _brute_best(k, words, max_dist=2), (k, words)


def _brute_jw(key: str, words: list[str]):
    """Reference match_jw (tools.py:264-277): best jaro-winkler ≥ 0.95,
    deterministic tie-break by word order (reference is scan-order)."""
    from backend_spark.functions import _jaro_winkler_py

    scored = sorted(((-_jaro_winkler_py(key, w), w) for w in set(words)))
    if scored and -scored[0][0] >= 0.95:
        return scored[0][1]
    return None


@settings(max_examples=10, deadline=None)
@given(
    keys=st.lists(st.text(alphabet="abc", min_size=1, max_size=8), min_size=1, max_size=4, unique=True),
    words=st.lists(st.text(alphabet="abc", min_size=1, max_size=8), min_size=1, max_size=6, unique=True),
)
def test_fuzzy_match_jw_equals_bruteforce(_spark, keys, words):
    # length-band prune + jw verify must equal exhaustive jw ≥ 0.95 best-match
    left = _spark.createDataFrame([(k,) for k in keys], "k string")
    ref = _spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.k: r.m for r in fuzzy_match(left, ref, "k", "w", out_col="m", method="jw").collect()}
    for k in keys:
        assert got[k] == _brute_jw(k, words), (k, words)


@settings(max_examples=25, deadline=None)
@given(a=st.text(max_size=12), b=st.text(max_size=12))
def test_levenshtein_norm_column_matches_python(_spark, a, b):
    df = _spark.createDataFrame([(a, b)], "a string, b string")
    got = df.select(fn.levenshtein_norm(F.col("a"), F.col("b")).alias("v")).collect()[0].v
    import pyspark.sql.functions as SF

    lv = df.select(SF.levenshtein("a", "b").alias("d")).collect()[0].d
    expect = round(100.0 - 100.0 * lv / (1.0 + min(len(a), len(b)))) / 100.0
    assert got == pytest.approx(expect, abs=1e-9)


@settings(max_examples=15, deadline=None)
@given(a=st.text(alphabet="abcdef ", min_size=0, max_size=10), b=st.text(alphabet="abcdef ", min_size=0, max_size=10))
def test_jw_udf_matches_python(_spark, a, b):
    from backend_spark.functions import _jaro_winkler_py

    df = _spark.createDataFrame([(a, b)], "a string, b string")
    got = df.select(fn.jw(F.col("a"), F.col("b")).alias("v")).collect()[0].v
    assert got == pytest.approx(_jaro_winkler_py(a, b), abs=1e-12)


@settings(max_examples=15, deadline=None)
@given(s=st.text(alphabet="abcß é", min_size=0, max_size=15))
def test_fold_accents_matches_nfkd(_spark, s):
    # the translate-table fast path must equal full-Unicode NFKD for
    # covered Latin inputs (backend_spark.functions.fold_accents)
    import unicodedata

    df = _spark.createDataFrame([(s,)], "v string")
    got = df.select(fn.fold_accents(F.col("v")).alias("v")).collect()[0].v
    expect = "".join(c for c in unicodedata.normalize("NFKD", s) if ord(c) < 128)
    assert got == expect


def _py_norm(s: str) -> str:
    import re

    return re.sub(r"\s+", " ", re.sub(r"[^a-z0-9]+", " ", s.lower())).strip()


def _py_shingles(s: str, n: int) -> frozenset:
    s = _py_norm(s)
    return frozenset([s]) if len(s) <= n else frozenset(s[i : i + n] for i in range(len(s) - n + 1))


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(st.text(alphabet="ab c", min_size=1, max_size=12), min_size=2, max_size=5, unique=True))
def test_ngram_jaccard_prefix_filter_is_exhaustive(_spark, texts):
    # the PPJoin prefix+positional filters must lose NOTHING: operator
    # output == brute-force all-pairs jaccard over distinct shingle sets
    from backend_spark import llm

    df = _spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {(r.id1, r.id2) for r in llm.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=3, threshold=0.5).collect()}
    expect = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = _py_shingles(texts[i], 3), _py_shingles(texts[j], 3)
            jac = len(a & b) / len(a | b)
            if round(jac, 6) >= 0.5:
                expect.add((i, j))
    assert got == expect, (texts, got, expect)


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(st.text(alphabet="ab c", min_size=1, max_size=14), min_size=2, max_size=5, unique=True))
def test_simhash_banding_is_exhaustive(_spark, texts):
    # pigeonhole banding must find every pair within the hamming budget
    from backend_spark import llm

    df = _spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    k = 20
    got = {(r.id1, r.id2): r.hamming for r in llm.simhash_neardup_pairs(df, "doc_id", "text", max_hamming=k).collect()}
    sigs = {r[0]: r.simhash for r in llm.simhash_buckets(df, "doc_id", "text").collect()}
    expect = {}
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j and bin(sigs[i] ^ sigs[j]).count("1") <= k:
                expect[(i, j)] = bin(sigs[i] ^ sigs[j]).count("1")
    assert got == expect, (texts, got, expect)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=5)
)
def test_bpe_encode_pieces_concat_to_words(_spark, texts):
    # segmentation invariant: whatever merges were learned, the encoded
    # pieces of a document concatenate back to its normalized words
    import re

    from backend_spark import llm

    df = _spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = llm.bpe_encode(df, "doc_id", "text", n_merges=3, preview=1000).collect()
    for r in out:
        norm = re.sub(r"[^a-z0-9]+", " ", texts[r.doc_id].lower()).strip()
        assert "".join(r.pieces_preview) == norm.replace(" ", "")
        assert r.n_bpe == len(r.pieces_preview)


@settings(max_examples=10, deadline=None)
@given(
    n=st.integers(1, 40),
    chunk=st.integers(2, 10),
    overlap=st.integers(0, 5),
)
def test_chunk_documents_lossless(_spark, n, chunk, overlap):
    # every chunk is the exact token slice at its start, starts step by
    # the stride, and the union of chunks covers every token
    from hypothesis import assume

    from backend_spark import llm

    assume(overlap < chunk)
    toks = [f"t{i}" for i in range(n)]
    df = _spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        llm.chunk_documents(df, "doc_id", "text", chunk_size=chunk, overlap=overlap).collect(),
        key=lambda r: r.chunk_id,
    )
    stride = chunk - overlap
    for r in rows:
        piece = r.chunk_text.split()
        assert piece == toks[r.start_tok - 1 : r.start_tok - 1 + chunk]
        assert r.n_tokens_chunk == len(piece)
    assert [r.start_tok for r in rows] == list(range(1, n + 1, stride))


@settings(max_examples=10, deadline=None)
@given(
    steps=st.lists(st.sampled_from([10.0, 60.0]), min_size=2, max_size=7),
)
def test_semdedup_prefix_rule_drops_superset_of_kept_only(_spark, steps):
    # llm.py semdedup documents a deliberate divergence from Abbas et al.:
    # a row is dropped when ANY smaller-id cluster member (kept or not)
    # is >= threshold, whereas true SemDeDup compares against KEPT members
    # only.  On a chain fixture (v1~v2~v3, v1!~v3) the prefix rule must
    # drop a superset: kept-only keeps v3 (its only near neighbor v2 was
    # itself dropped), the prefix rule drops it.  This pins the documented
    # contract rather than just narrating it.
    import math

    from backend_spark import llm

    threshold = 0.9  # step 10deg -> cos 0.985 (near); 60deg -> 0.5 (far)
    angles = [0.0]
    for s in steps:
        angles.append(angles[-1] + s)
    vecs = [
        [float(math.cos(math.radians(a))), float(math.sin(math.radians(a)))]
        for a in angles
    ]
    ids = list(range(1, len(vecs) + 1))

    def cos_r(u, v):
        num = u[0] * v[0] + u[1] * v[1]
        den = math.sqrt(u[0] ** 2 + u[1] ** 2) * math.sqrt(v[0] ** 2 + v[1] ** 2)
        return round(num / den, 6)  # the operator rounds to fn.NDIGITS = 6

    # reference kept-only SemDeDup: sequential scan in id order
    kept = []
    kept_only_dropped = set()
    for i, v in zip(ids, vecs):
        if any(cos_r(v, vecs[j - 1]) >= threshold for j in kept):
            kept_only_dropped.add(i)
        else:
            kept.append(i)

    df = _spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<double>"
    )
    out = llm.semdedup(df, "vec_id", "embedding", n_clusters=1, threshold=threshold)
    prefix_dropped = {r.vec_id for r in out.collect() if not r.keep}

    assert prefix_dropped >= kept_only_dropped
    # and on a pure near-chain (all steps small) the divergence is real:
    # everything after the head is dropped by the prefix rule
    if all(s == 10.0 for s in steps):
        assert prefix_dropped == set(ids[1:])


@settings(max_examples=8, deadline=None)
@given(texts=st.lists(st.text(alphabet="ab c", min_size=1, max_size=12), min_size=2, max_size=5, unique=True))
def test_containment_prefix_filter_is_exhaustive(_spark, texts):
    # the one-sided prefix filter must lose NOTHING: operator output ==
    # brute-force all ordered pairs containment over distinct shingles
    from backend_spark import llm

    df = _spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.id1, r.id2): r.containment
        for r in llm.containment_pairs(df, "doc_id", "text", shingle_n=3, threshold=0.5).collect()
    }
    expect = {}
    for i in range(len(texts)):
        for j in range(len(texts)):
            if i == j:
                continue
            a, b = _py_shingles(texts[i], 3), _py_shingles(texts[j], 3)
            if not a:
                continue
            c = round(len(a & b) / len(a), 6)
            if c >= 0.5:
                expect[(i, j)] = c
    assert got == expect, (texts, got, expect)


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=10,
    )
)
def test_label_propagation_matches_python_sync_lpa(_spark, edges):
    from collections import Counter

    from backend_spark.operators.graph import label_propagation

    df = _spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community for r in label_propagation(df, n_rounds=3).collect()}

    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    lbl = {n: n for n in nbrs}
    for _ in range(3):
        new = {}
        for n in nbrs:
            votes = Counter(lbl[m] for m in nbrs[n])
            top = max(votes.values())
            new[n] = min(l for l, c in votes.items() if c == top)
        lbl = new
    assert got == lbl, (edges, got, lbl)


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(st.integers(-5, 5), st.integers(-5, 5)), min_size=2, max_size=7, unique=True
    )
)
def test_kcenter_matches_python_greedy(_spark, vecs):
    from backend_spark import llm

    rows = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(vecs)]
    df = _spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = min(3, len(rows))
    got = [
        (r.vec_id, r.dist)
        for r in sorted(
            llm.kcenter_coreset(df, "vec_id", "embedding", k=k).collect(),
            key=lambda r: r.sel_rank,
        )
    ]

    # brute greedy with identical rounding/tie rules
    pts = dict(rows)
    sel = [0]
    out = [(0, 0.0)]
    mind = {}
    for _ in range(k - 1):
        c = pts[sel[-1]]
        for i, v in pts.items():
            d = round(sum((a - b) * (a - b) for a, b in zip(v, c)), 6)
            mind[i] = min(mind.get(i, float("inf")), d)
        top = max(mind.items(), key=lambda kv: (kv[1], -kv[0]))
        if top[1] == 0.0:
            break
        out.append((top[0], top[1]))
        sel.append(top[0])
    assert got == out, (vecs, got, out)


@settings(max_examples=6, deadline=None)
@given(n_extra=st.integers(15, 24))
def test_containment_prefix_survives_fp_hostile_threshold(_spark, n_extra):
    # threshold*n where float ceil(0.28*25)=8 overstates the true ceil 7:
    # a doc sharing exactly 7 of its 25 shingles with another must still
    # be found at threshold 0.28 (7/25 = 0.28 >= t)
    from backend_spark import llm

    shared = [f"sh{i:02d}" for i in range(7)]
    only_a = [f"aa{i:02d}" for i in range(18)]
    only_b = [f"bb{i:02d}" for i in range(n_extra)]
    df = _spark.createDataFrame(
        [(1, " ".join(shared + only_a)), (2, " ".join(shared + only_b))],
        "doc_id long, text string",
    )
    # 4-char tokens + 5-char shingle window => each token contributes
    # its own shingles; use shingle_n=4 so each 4-char token IS one gram
    got = {
        (r.id1, r.id2)
        for r in llm.containment_pairs(df, "doc_id", "text", shingle_n=4, threshold=0.28).collect()
    }
    assert (1, 2) in got, got


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-(2**52), max_value=2**52),
            st.floats(min_value=-1e9, max_value=1e9, allow_nan=False, width=64),
        ),
        min_size=1, max_size=8,
    ),
    width=st.integers(min_value=1, max_value=10**7),
)
def test_floor_bin_matches_python_floor_division(_spark, vals, width):
    import math

    from backend_spark.operators.joins import _floor_bin

    df = _spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = [r.b for r in df.select(_floor_bin(F.col("v"), width).alias("b")).collect()]
    # integral widths: exact Python floor semantics on floor(v)
    want = [math.floor(v) // width for v in vals]
    assert got == want, (vals, width)


@settings(max_examples=25, deadline=None)
@given(
    octets=st.lists(st.integers(min_value=0, max_value=310), min_size=4, max_size=4),
    prefix=st.integers(min_value=0, max_value=32),
)
def test_ipv4_cidr_matches_stdlib_ipaddress(_spark, octets, prefix):
    import ipaddress

    ip_s = ".".join(str(o) for o in octets)
    cidr_s = f"{ip_s}/{prefix}"
    df = _spark.createDataFrame([(ip_s, cidr_s)], "ip string, cidr string")
    row = df.select(
        fn.ipv4_long(F.col("ip")).alias("v"),
        fn.cidr_range(F.col("cidr")).alias("r"),
    ).collect()[0]
    if all(o <= 255 for o in octets):
        want = int(ipaddress.IPv4Address(ip_s))
        assert row.v == want
        net = ipaddress.ip_network(cidr_s, strict=False)
        assert row.r.lo == int(net.network_address)
        assert row.r.hi == int(net.network_address) + net.num_addresses
    else:
        assert row.v is None and row.r is None


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # key
            st.integers(min_value=0, max_value=100),    # order (may tie)
            st.one_of(st.none(), st.floats(min_value=-100, max_value=100,
                                           allow_nan=False, width=64)),
        ),
        min_size=1, max_size=12,
    )
)
def test_fill_forward_matches_pandas_ffill(_spark, rows):
    import pandas as pd

    from backend_spark.features import fill_forward

    # unique (key, order, seq) ordering via an explicit sequence column
    data = [(k, o, i, v) for i, (k, o, v) in enumerate(rows)]
    df = _spark.createDataFrame(data, "k long, o long, seq long, v double")
    got = {
        (r.k, r.seq): r.v
        for r in fill_forward(df, "k", ["o", "seq"], "v").collect()
    }
    pdf = pd.DataFrame(data, columns=["k", "o", "seq", "v"]).sort_values(["k", "o", "seq"])
    pdf["v"] = pdf.groupby("k")["v"].ffill()
    for _, r in pdf.iterrows():
        g = got[(r.k, r.seq)]
        assert (g is None and pd.isna(r.v)) or g == r.v


@settings(max_examples=15, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=-50, max_value=50, allow_nan=False, width=64),
            st.floats(min_value=-50, max_value=50, allow_nan=False, width=64),
        ),
        min_size=4, max_size=40,
    )
)
def test_ridge_train_close_to_numpy(_spark, rows):
    import numpy as np

    from backend_spark import ml

    data = [(x1, x2, 1.0 + 2.0 * x1 - 0.5 * x2) for x1, x2 in rows]
    df = _spark.createDataFrame(data, "x1 double, x2 double, y double")
    w = {r.feature: r.weight for r in ml.ridge_train(df, ["x1", "x2"], "y").collect()}
    X = np.array([[1.0, a, b] for a, b, _ in data])
    y = np.array([c for _, _, c in data])
    A = X.T @ X + 1e-3 * np.diag([0.0, 1.0, 1.0])
    if abs(np.linalg.det(A)) < 1e-9:
        return  # near-singular: quantization noise dominates, skip
    ref = np.linalg.solve(A, X.T @ y)
    for name, i in (("__intercept__", 0), ("x1", 1), ("x2", 2)):
        assert abs(w[name] - ref[i]) < 1e-3, (w, ref)


# --- round-9 third continuation: CDC / rollup invariants -----------------

@settings(max_examples=10, deadline=None)
@given(
    changes=st.lists(
        st.tuples(
            # None = the NULL key, which cdc_apply treats as one key
            # end-to-end (window AND null-safe anti-join)
            st.one_of(st.none(), st.integers(min_value=1, max_value=6)),  # key
            st.sampled_from(["I", "U", "D"]),             # op
            st.integers(min_value=1, max_value=20),       # seq
            st.integers(min_value=0, max_value=99),       # payload
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[2]),  # unique seq per key
    ),
    split_seq=st.integers(min_value=1, max_value=20),
)
def test_cdc_apply_composes_over_seq_splits(_spark, changes, split_seq):
    """cdc_apply(cdc_apply(base, early), late) == cdc_apply(base, all)
    whenever the split respects seq order — the incremental-ingest
    contract (yesterday's merge + today's batch == full replay).
    Keys include NULL, so the property also pins that a NULL-keyed row
    upserts/deletes exactly once across any batch split."""
    from backend_spark.scale import cdc_apply

    base = _spark.createDataFrame(
        [(k, -1) for k in range(1, 4)] + [(None, -1)], "k long, v long"
    )
    rows = [(k, v, op, s) for (k, op, s, v) in changes]
    schema = "k long, v long, op string, seq long"
    all_c = _spark.createDataFrame(rows, schema) if rows else _spark.createDataFrame([], schema)
    early = all_c.where(F.col("seq") < split_seq)
    late = all_c.where(F.col("seq") >= split_seq)
    key = lambda t: (t[0] is None, t[0] or 0, t[1])  # NULL keys sort last
    direct = sorted(map(tuple, cdc_apply(base, all_c, "k").collect()), key=key)
    staged = sorted(
        map(tuple, cdc_apply(cdc_apply(base, early, "k"), late, "k").collect()), key=key
    )
    assert direct == staged


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2),
                  st.floats(min_value=-100, max_value=100, allow_nan=False)),
        min_size=1, max_size=20,
    ),
    n_batches=st.integers(min_value=1, max_value=4),
)
def test_rollup_merge_invariant_to_batching(_spark, vals, n_batches):
    """ANY slicing of the rows into batches merges to the identical
    rollup — the fixed-point partial-state associativity contract."""
    from backend_spark.scale import rollup_merge, rollup_partials

    rows = [(f"g{g}", float(v), i) for i, (g, v) in enumerate(vals)]
    df = _spark.createDataFrame(rows, "g string, x double, i long")
    direct = sorted(map(tuple, rollup_merge(
        rollup_partials(df, "g", ["x"]), "g", ["x"]).collect()))
    parts = None
    for b in range(n_batches):
        p = rollup_partials(df.where(F.col("i") % n_batches == b), "g", ["x"])
        parts = p if parts is None else parts.unionByName(p)
    sliced = sorted(map(tuple, rollup_merge(parts, "g", ["x"]).collect()))
    assert direct == sliced


@settings(max_examples=8, deadline=None)
@given(
    names=st.lists(st.text(alphabet="abc", min_size=1, max_size=3),
                   min_size=1, max_size=8),
)
def test_match_cascade_partitions_input(_spark, names):
    """Every input row comes back exactly once, matched or not — the
    left-outer waterfall can neither drop nor fan out."""
    from backend_spark.operators import match_cascade

    df = _spark.createDataFrame(list(enumerate(names)), "id long, name string")
    ref = _spark.createDataFrame([(1, "a"), (2, "ab")], "rid long, rname string")
    passes = [
        {"name": "exact", "keys": [("name", "rname")]},
        {"name": "prefix", "keys": [("substring(name, 1, 1)", "substring(rname, 1, 1)")]},
    ]
    out = match_cascade(df, ref, passes, {"m": "rid"}).collect()
    assert sorted(r.id for r in out) == sorted(range(len(names)))
    matched = {r.id: r.match_pass for r in out}
    # pass priority: an exact hit never reports the later pass
    for i, n in enumerate(names):
        if n in ("a", "ab"):
            assert matched[i] == "exact"
        elif n.startswith("a"):
            assert matched[i] == "prefix"
        else:
            assert matched[i] is None


@settings(max_examples=10, deadline=None)
@given(
    facts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 60),
                  st.one_of(st.none(), st.text(alphabet="xy", max_size=2))),
        min_size=1, max_size=25,
    ),
)
def test_scd2_lookup_left_is_exactly_fact_preserving(_spark, facts):
    """how='left' partitions the facts: every fact row returns exactly
    once (never dropped, never duplicated) regardless of NULL payload
    columns, with the version the brute-force point-in-time lookup
    picks — the round-10 NULL-unequal anti-join regression class."""
    from backend_spark.quality import scd2_lookup

    versions = [(10, 25), (25, 40), (40, None)]
    dim = _spark.createDataFrame(
        [(k, f"t{k}_{i}", lo, hi)
         for k in range(3) for i, (lo, hi) in enumerate(versions)],
        "k long, tier string, valid_from long, valid_to long",
    )
    fdf = _spark.createDataFrame(
        [(i, k, ts, note) for i, (k, ts, note) in enumerate(facts)],
        "fid long, k long, ts long, note string",
    )
    out = scd2_lookup(fdf, dim, "k", "ts").collect()
    assert len(out) == len(facts)
    by_fid = {r.fid: r for r in out}
    assert len(by_fid) == len(facts)
    for i, (k, ts, note) in enumerate(facts):
        exp = None
        if k <= 2:
            for j, (lo, hi) in enumerate(versions):
                if ts >= lo and (hi is None or ts < hi):
                    exp = f"t{k}_{j}"
        assert by_fid[i].dim_tier == exp and by_fid[i].note == note, (k, ts)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 50), st.integers(0, 20)),
        min_size=1, max_size=40,
    ),
    n_tiles=st.integers(2, 5),
)
def test_rfm_tiles_match_ntile_window(_spark, rows, n_tiles):
    """The distributed prefix-sum rank + integer ntile arithmetic must
    be bit-identical to Spark's own ntile() window (the independent
    engine implementation) under the same (value, key) total order."""
    from pyspark.sql import Window

    from backend_spark.features import rfm

    df = _spark.createDataFrame(
        [(k, ts, float(a)) for k, ts, a in rows], "k long, ts long, amt double"
    )
    got = {r.k: r for r in rfm(df, "k", "ts", "amt", n_tiles=n_tiles).collect()}
    agg = df.groupBy("k").agg(
        F.max("ts").alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("amt").alias("mon"),
    )

    def w(c):
        return Window.orderBy(F.col(c), F.col("k"))

    exp = agg.select(
        "k",
        F.ntile(n_tiles).over(w("rec")).alias("r"),
        F.ntile(n_tiles).over(w("freq")).alias("f"),
        F.ntile(n_tiles).over(w("mon")).alias("m"),
    ).collect()
    assert len(exp) == len(got)
    for e in exp:
        g = got[e.k]
        assert (g.r_score, g.f_score, g.m_score) == (e.r, e.f, e.m), e.k


# --- round-10 continuation: interval / calibration / attribution / trend ---

@settings(max_examples=8, deadline=None)
@given(
    iv=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1),   # key
                  st.integers(min_value=0, max_value=30),  # lo
                  st.integers(min_value=-2, max_value=10)),  # length (<=0 drops)
        min_size=1, max_size=15,
    ),
    max_gap=st.sampled_from([0, 1, 3]),
)
def test_merge_intervals_matches_python_sweep(_spark, iv, max_gap):
    """Merged spans equal a plain Python sweep-line union with gap
    bridging: disjoint, separated by > max_gap, covering the same
    inputs, with n_merged accounting for every surviving interval."""
    from backend_spark.features import merge_intervals

    rows = [(f"k{k}", lo, lo + ln) for k, lo, ln in iv]
    df = _spark.createDataFrame(rows, "k string, lo long, hi long")
    got = sorted(
        (r.k, r.lo, r.hi, r.n_merged)
        for r in merge_intervals(df, "k", "lo", "hi", max_gap=max_gap).collect()
    )
    exp = []
    by_key = {}
    for k, lo, hi in rows:
        if lo < hi:
            by_key.setdefault(k, []).append((lo, hi))
    for k, spans in by_key.items():
        spans.sort()
        cur_lo, cur_hi, n = spans[0][0], spans[0][1], 1
        for lo, hi in spans[1:]:
            if lo > cur_hi + max_gap:
                exp.append((k, cur_lo, cur_hi, n))
                cur_lo, cur_hi, n = lo, hi, 1
            else:
                cur_hi, n = max(cur_hi, hi), n + 1
        exp.append((k, cur_lo, cur_hi, n))
    assert got == sorted(exp)


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=0.999, allow_nan=False),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=2, max_size=30,
    ),
)
def test_isotonic_matches_sequential_pav(_spark, pts):
    """The minimax-identity isotonic fit equals the classic sequential
    pool-adjacent-violators result on the binned counts."""
    from backend_spark.ml import isotonic_calibrate

    n_bins = 8
    df = _spark.createDataFrame(pts, "score double, label int")
    got = {r.bin: r.calibrated for r in
           isotonic_calibrate(df, "score", "label", n_bins=n_bins).collect()}
    # python PAV on the same fixed-width bins
    agg = {}
    for s, y in pts:
        b = min(max(int(s * n_bins), 0), n_bins - 1)
        n, t = agg.get(b, (0, 0))
        agg[b] = (n + 1, t + y)
    blocks = [[b, n, t] for b, (n, t) in sorted(agg.items())]  # bin, n, sum
    pooled = []
    for blk in blocks:
        pooled.append([[blk[0]], blk[1], blk[2]])
        while len(pooled) > 1 and (
            pooled[-2][2] * pooled[-1][1] > pooled[-1][2] * pooled[-2][1]
        ):  # mean(prev) > mean(cur) -> pool (exact integer compare)
            bs, n1, t1 = pooled.pop()
            pooled[-1][0].extend(bs)
            pooled[-1][1] += n1
            pooled[-1][2] += t1
    exp = {}
    for bs, n, t in pooled:
        for b in bs:
            exp[b] = round(t / n, 6)
    assert set(got) == set(exp)
    for b in exp:
        assert abs(got[b] - exp[b]) < 1e-9, (b, got[b], exp[b])


@settings(max_examples=8, deadline=None)
@given(
    ev=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),          # key
            st.sampled_from(["a", "b", "c"]),               # channel
            st.booleans(),                                   # conversion
        ),
        min_size=1, max_size=14,
    ),
)
def test_attribution_linear_matches_python(_spark, ev):
    """Linear attribution equals a direct Python replay of the
    journey-resetting convention, including the exact floor-division
    micro-unit credits and the (direct) fallback."""
    from backend_spark.features import attribution

    rows = [(f"k{k}", i, ch, c) for i, (k, ch, c) in enumerate(ev)]
    df = _spark.createDataFrame(rows, "k string, ts long, ch string, conv boolean")
    got = sorted(
        (r.channel, r.journeys, r.credit)
        for r in attribution(df, "k", "ts", "ch", "conv", model="linear").collect()
    )
    # python replay
    from collections import defaultdict
    micro = defaultdict(int)
    journeys = defaultdict(int)
    seqs = defaultdict(list)
    for k, ts, ch, c in rows:
        seqs[k].append((ts, ch, c))
    for k, seq in seqs.items():
        seq.sort()
        touches = []
        for _, ch, c in seq:
            if c:
                if not touches:
                    micro["(direct)"] += 1_000_000
                    journeys["(direct)"] += 1
                else:
                    per_ch = defaultdict(int)
                    for t in touches:
                        per_ch[t] += 1
                    for ch2, n_ch in per_ch.items():
                        micro[ch2] += n_ch * 1_000_000 // len(touches)
                        journeys[ch2] += 1
                touches = []
            else:
                touches.append(ch)
    exp = sorted((ch, journeys[ch], round(m / 1e6, 6)) for ch, m in micro.items())
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(
    xs=st.lists(st.integers(min_value=-20, max_value=20), min_size=3, max_size=12,
                unique=True),
    a=st.integers(min_value=-5, max_value=5),
    b=st.integers(min_value=-10, max_value=10),
)
def test_theil_sen_exact_on_linear_data(_spark, xs, a, b):
    """On exactly linear integer data every pairwise slope is the true
    slope, so Theil-Sen recovers (a, b) exactly."""
    from backend_spark.features import theil_sen

    rows = [("g", float(x), float(a * x + b)) for x in xs]
    df = _spark.createDataFrame(rows, "g string, x double, y double")
    r = theil_sen(df, "g", "x", "y").collect()[0]
    assert r.slope == float(a), r
    assert r.intercept == float(b), r


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=25),
)
def test_ks_test_identity_and_full_separation(_spark, vals):
    """D = 0 when both samples are identical; D = 1 when their supports
    are disjoint (every value of one sample below the other's)."""
    from backend_spark.features import ks_test

    same = [("a", float(v)) for v in vals] + [("b", float(v)) for v in vals]
    df = _spark.createDataFrame(same, "s string, v double")
    r = ks_test(df, "s", "v", "a", "b").collect()[0]
    assert r.d_stat == 0.0, r
    apart = [("a", float(v)) for v in vals] + [("b", float(v) + 1000.0) for v in vals]
    df2 = _spark.createDataFrame(apart, "s string, v double")
    r2 = ks_test(df2, "s", "v", "a", "b").collect()[0]
    assert r2.d_stat == 1.0, r2


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1),   # key
                  st.integers(min_value=-10, max_value=10),  # value
                  st.integers(min_value=1, max_value=5)),    # weight
        min_size=1, max_size=16,
    ),
)
def test_weighted_median_matches_python_sweep(_spark, rows):
    """Lower weighted median: smallest value whose cumulative weight
    reaches half the total — python sweep over value-aggregated
    weights must agree (equal values commute in the cumsum)."""
    from collections import defaultdict

    from backend_spark.features import weighted_median

    df = _spark.createDataFrame(
        [(f"k{k}", float(v), float(w)) for k, v, w in rows],
        "k string, v double, w double",
    )
    got = {r.k: (r.n, r.wmedian) for r in weighted_median(df, "k", "v", "w").collect()}
    per = defaultdict(lambda: defaultdict(int))
    cnt = defaultdict(int)
    for k, v, w in rows:
        per[f"k{k}"][v] += w * 1_000_000
        cnt[f"k{k}"] += 1
    for k, wm in per.items():
        tot = sum(wm.values())
        cum, med = 0, None
        for v in sorted(wm):
            cum += wm[v]
            if 2 * cum >= tot:
                med = float(v)
                break
        assert got[k] == (cnt[k], med), (k, got[k], med)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=20),
)
def test_gini_matches_python_formula(_spark, vals):
    """G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted
    values — the python fold must agree to the rounded digit."""
    from backend_spark.features import gini

    df = _spark.createDataFrame([("g", float(v)) for v in vals], "k string, v double")
    r = gini(df, "k", "v").collect()[0]
    xs = sorted(v * 1_000_000 for v in vals)
    n, s = len(xs), sum(xs)
    if s == 0:
        assert r.gini is None
    else:
        exp = round(2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) - (n + 1) / n, 6)
        assert r.gini == pytest.approx(exp, abs=1e-9), (vals, r.gini, exp)
    assert r.n == len(vals)


@settings(max_examples=8, deadline=None)
@given(
    ts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1),
                  st.integers(min_value=0, max_value=1000)),
        min_size=2, max_size=16,
    ),
    min_gap=st.sampled_from([1, 50, 200]),
)
def test_gap_report_matches_python_diffs(_spark, ts, min_gap):
    """Gaps = consecutive sorted-timestamp diffs above min_gap; ties
    contribute zero-width pairs that the filter drops, so any tie
    order yields the same value multiset."""
    from collections import defaultdict

    from backend_spark.features import gap_report

    df = _spark.createDataFrame(
        [(f"k{k}", t) for k, t in ts], "k string, ts long"
    )
    got = sorted(
        (r.k, r.gap_start, r.gap_end, r.gap_us)
        for r in gap_report(df, "k", "ts", min_gap=min_gap).collect()
    )
    series = defaultdict(list)
    for k, t in ts:
        series[f"k{k}"].append(t)
    exp = []
    for k, seq in series.items():
        seq.sort()
        for a, b in zip(seq, seq[1:]):
            if b - a > min_gap:
                exp.append((k, a, b, b - a))
    assert got == sorted(exp)


@settings(max_examples=8, deadline=None)
@given(
    lefts=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=10),
    rights=st.lists(
        st.tuples(st.integers(min_value=0, max_value=100),
                  st.integers(min_value=0, max_value=9)),
        min_size=0, max_size=10,
        unique_by=lambda t: t[0],  # unique right ts per key group
    ),
    tolerance=st.sampled_from([None, 10, 40]),
)
def test_asof_join_matches_python_backward_scan(_spark, lefts, rights, tolerance):
    """Backward as-of semantics: each left row attaches the right row
    with the greatest right_ts <= left_ts (exact match allowed),
    dropped when older than left_ts - tolerance."""
    from backend_spark.operators.joins import asof_join

    l = _spark.createDataFrame(
        [("g", i, t) for i, t in enumerate(lefts)], "k string, lid long, lts long"
    )
    r = _spark.createDataFrame([("g", t, v) for t, v in rights], "k string, rts long, val long")
    out = asof_join(l, r, "k", "lts", "rts", tolerance=tolerance)
    got = {row.lid: row.asof_val for row in out.collect()}
    assert set(got) == set(range(len(lefts)))  # exactly fact-preserving
    for i, t in enumerate(lefts):
        cands = [(rt, v) for rt, v in rights
                 if rt <= t and (tolerance is None or rt >= t - tolerance)]
        exp = max(cands)[1] if cands else None
        assert got[i] == exp, (i, t, rights, tolerance, got[i], exp)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-8, max_value=8), min_size=1, max_size=20),
)
def test_cusum_matches_python_recursion(_spark, vals):
    """The closed-form two-window CUSUM (cum - min prior dip) equals
    the textbook sequential recursion S_t = max(0, S_{t-1} + d_t) on
    both sides.  Integer values/targets make quantization exact."""
    from backend_spark.features import cusum

    target, k, h = 1.0, 0.5, 3.0
    rows = [("g", i, float(v)) for i, v in enumerate(vals)]
    df = _spark.createDataFrame(rows, "k string, ts long, v double")
    got = {r.ts: (r.cusum_hi, r.cusum_lo, r.cusum_alarm)
           for r in cusum(df, "k", "ts", "v", target=target, k=k, h=h).collect()}
    s_hi = s_lo = 0.0
    for i, v in enumerate(vals):
        s_hi = max(0.0, s_hi + (v - target - k))
        s_lo = max(0.0, s_lo + (target - v - k))
        alarm = 1 if (s_hi > h or s_lo > h) else 0
        assert got[i] == (round(s_hi, 6), round(s_lo, 6), alarm), (i, vals, got[i])


@settings(max_examples=8, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=6),
                  st.integers(min_value=0, max_value=6)),
        min_size=2, max_size=15,
    ),
)
def test_rank_corr_matches_python_spearman(_spark, pts):
    """Spearman with textbook average-rank ties == Pearson over
    average ranks computed in plain Python."""
    import math

    from backend_spark.features import rank_corr

    df = _spark.createDataFrame(
        [("g", float(x), float(y)) for x, y in pts], "k string, x double, y double"
    )
    r = rank_corr(df, "k", "x", "y").collect()[0]

    def avg_ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        ranks = [0.0] * len(xs)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for t in range(i, j + 1):
                ranks[order[t]] = avg
            i = j + 1
        return ranks

    ra = avg_ranks([p[0] for p in pts])
    rb = avg_ranks([p[1] for p in pts])
    n = len(pts)
    ma, mb = sum(ra) / n, sum(rb) / n
    num = sum((a - ma) * (b - mb) for a, b in zip(ra, rb))
    da = math.sqrt(sum((a - ma) ** 2 for a in ra))
    db = math.sqrt(sum((b - mb) ** 2 for b in rb))
    if da == 0 or db == 0:
        assert r.rho is None, r
    else:
        assert r.rho == pytest.approx(num / (da * db), abs=1e-6), (pts, r.rho)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-5000, max_value=5000), min_size=1, max_size=25),
)
def test_benford_matches_python_histogram(_spark, vals):
    """First-decimal-digit histogram equals a python string scan;
    zeros and |v| < 1 excluded."""
    from collections import Counter

    from backend_spark.features import benford

    df = _spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = {r.digit: (r.n, r.observed_p) for r in benford(df, "v").collect()}
    digits = [int(str(abs(v))[0]) for v in vals if abs(v) >= 1]
    c = Counter(digits)
    assert set(got) == set(c)
    for d, n in c.items():
        assert got[d] == (n, round(n / len(digits), 6)), (d, got[d])


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-10, max_value=10), min_size=3, max_size=18),
)
def test_acf_matches_python_formula(_spark, vals):
    """r_k = sum (x_t - m)(x_{t+k} - m) / sum (x_t - m)^2 over the
    observed sequence — python float fold must agree to the rounding
    tolerance (integer inputs, exact quantization)."""
    from backend_spark.features import acf

    rows = [("g", i, float(v)) for i, v in enumerate(vals)]
    df = _spark.createDataFrame(rows, "k string, ts long, v double")
    max_lag = 2
    got = {r.lag: r.acf for r in acf(df, "k", "ts", "v", max_lag=max_lag).collect()}
    n = len(vals)
    m = sum(vals) / n
    den = sum((v - m) ** 2 for v in vals)
    for k in range(1, max_lag + 1):
        if den == 0 or n <= k:
            assert got.get(k) is None or got[k] is None
        else:
            exp = sum((vals[t] - m) * (vals[t + k] - m) for t in range(n - k)) / den
            assert got[k] == pytest.approx(exp, abs=1e-6), (k, vals, got[k])


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=7),
                  st.integers(min_value=0, max_value=7)),
        min_size=1, max_size=16,
    ),
    k=st.sampled_from([2, 3]),
)
def test_k_core_matches_python_peeling(_spark, edges, k):
    """Distributed peeling reaches the same fixpoint as the sequential
    networkx-style peel on the simple undirected graph."""
    from collections import defaultdict

    from backend_spark.operators.graph import k_core

    e = [(a, b) for a, b in edges if a != b]
    if not e:
        return
    df = _spark.createDataFrame(e, "src long, dst long")
    got = {r.node: r.core_degree for r in k_core(df, k=k).collect()}
    # python peel on the simple graph
    adj = defaultdict(set)
    for a, b in e:
        adj[a].add(b)
        adj[b].add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj[n]:
                    adj[m].discard(n)
                del adj[n]
                changed = True
    exp = {n: len(nb) for n, nb in adj.items()}
    assert got == exp, (e, k, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    recs=st.lists(st.text(alphabet="ab", min_size=0, max_size=3),
                  min_size=2, max_size=12),
    window=st.sampled_from([2, 3, 5]),
)
def test_sorted_neighborhood_is_exhaustive(_spark, recs, window):
    """The bucketed candidate join must emit EXACTLY the pairs within
    rank distance < window of the (key, id)-sorted order — no misses
    at bucket boundaries, no duplicates, correct rank_dist."""
    from backend_spark.operators.er import sorted_neighborhood

    rows = [(i, s) for i, s in enumerate(recs)]
    df = _spark.createDataFrame(rows, "rid long, name string")
    got = sorted(
        (r.left_id, r.right_id, r.rank_dist)
        for r in sorted_neighborhood(df, "rid", "name", window=window).collect()
    )
    order = [i for _, i in sorted((s, i) for i, s in rows)]
    exp = sorted(
        (order[a], order[b], b - a)
        for a in range(len(order))
        for b in range(a + 1, min(a + window, len(order)))
    )
    assert got == exp, (recs, window, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    ev=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2),        # key
                  st.sampled_from(["a", "b", "c"])),            # event type
        min_size=1, max_size=18,
    ),
)
def test_funnel_matches_python_replay(_spark, ev):
    """Each step's timestamp = earliest occurrence strictly after the
    previous step's — a per-key Python scan must agree, including the
    reached count and null-propagation after a break."""
    from collections import defaultdict

    from backend_spark.features import funnel

    rows = [(f"k{k}", i, t) for i, (k, t) in enumerate(ev)]
    df = _spark.createDataFrame(rows, "k string, ts long, et string")
    steps = ["a", "b", "c"]
    got = {r.k: (r.step_0_ts, r.step_1_ts, r.step_2_ts, r.reached)
           for r in funnel(df, "k", "ts", "et", steps).collect()}
    series = defaultdict(list)
    for k, ts, t in rows:
        series[k].append((ts, t))
    for k, seq in series.items():
        seq.sort()
        prev, out = None, []
        for step in steps:
            cand = [ts for ts, t in seq if t == step and (prev is None or ts > prev)]
            cur = min(cand) if cand else None
            out.append(cur)
            if cur is None:
                out.extend([None] * (len(steps) - len(out)))
                break
            prev = cur
        reached = sum(1 for o in out if o is not None)
        assert got[k] == (*out, reached), (k, seq, got[k], out)


@settings(max_examples=8, deadline=None)
@given(
    ev=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1),
                  st.sampled_from(["x", "y", None])),
        min_size=2, max_size=16,
    ),
)
def test_seq_patterns_matches_python_windows(_spark, ev):
    """Every complete length-2 consecutive window counts once; windows
    touching a NULL state drop whole; share uses the pre-cut total."""
    from collections import Counter, defaultdict

    from backend_spark.features import seq_patterns

    rows = [(f"k{k}", i, s) for i, (k, s) in enumerate(ev)]
    df = _spark.createDataFrame(rows, "k string, ts long, s string")
    got = {r.pattern: (r.cnt, r.share)
           for r in seq_patterns(df, "k", "ts", "s", length=2, min_count=1).collect()}
    series = defaultdict(list)
    for k, ts, s in rows:
        series[k].append((ts, s))
    c = Counter()
    for k, seq in series.items():
        seq.sort()
        for (t1, a), (t2, b) in zip(seq, seq[1:]):
            if a is not None and b is not None:
                c[f"{a}>{b}"] += 1
    tot = sum(c.values())
    exp = {p: (n, round(n / tot, 6)) for p, n in c.items()}
    assert got == exp, (ev, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    ts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1),
                  st.integers(min_value=0, max_value=500)),
        min_size=1, max_size=16,
    ),
    gap=st.sampled_from([1, 50, 150]),
)
def test_session_stats_matches_python_islands(_spark, ts, gap):
    """Gaps-and-islands sessionization: a Python scan over sorted
    timestamps must produce the same sessions, depths, bounds, and
    bounce flags (ties give zero spacing, so any tie order agrees)."""
    from collections import defaultdict

    from backend_spark.features import session_stats

    df = _spark.createDataFrame([(f"k{k}", t) for k, t in ts], "k string, ts long")
    got = sorted(
        (r.k, r.session, r.n_events, r.session_start, r.session_end,
         r.duration_us, r.bounce)
        for r in session_stats(df, "k", "ts", gap_us=gap).collect()
    )
    series = defaultdict(list)
    for k, t in ts:
        series[f"k{k}"].append(t)
    exp = []
    for k, seq in series.items():
        seq.sort()
        sessions, cur = [], [seq[0]]
        for prev, t in zip(seq, seq[1:]):
            if t - prev > gap:
                sessions.append(cur)
                cur = [t]
            else:
                cur.append(t)
        sessions.append(cur)
        for i, s in enumerate(sessions, start=1):
            exp.append((k, i, len(s), s[0], s[-1], s[-1] - s[0], len(s) == 1))
    assert got == sorted(exp), (ts, gap, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    ev=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),        # user
                  st.integers(min_value=0, max_value=40)),      # time
        min_size=1, max_size=20,
    ),
)
def test_retention_cohorts_matches_python(_spark, ev):
    """Cohort = bucket of first activity; (cohort, age) distinct-user
    counts must match a Python fold (bucket width 10)."""
    from collections import defaultdict

    from backend_spark.features import retention_cohorts

    df = _spark.createDataFrame([(f"u{u}", t) for u, t in ev], "u string, ts long")
    got = sorted(
        (r.cohort_bucket, r.age, r.n_users)
        for r in retention_cohorts(df, "u", "ts", bucket_us=10).collect()
    )
    first = {}
    for u, t in ev:
        b = t // 10
        first[f"u{u}"] = min(first.get(f"u{u}", b), b)
    cells = defaultdict(set)
    for u, t in ev:
        uu = f"u{u}"
        cells[(first[uu], t // 10 - first[uu])].add(uu)
    exp = sorted((c, a, len(us)) for (c, a), us in cells.items())
    assert got == exp, (ev, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["p", "q", None]),   # feature value
                  st.sampled_from([0, 1])),            # label
        min_size=1, max_size=20,
    ),
)
def test_mutual_info_matches_python_formula(_spark, rows):
    """I(X;Y) = sum p(x,y) ln(p(x,y)/(p(x)p(y))) with NULL as a real
    category — python float fold must agree to the rounding digit."""
    import math
    from collections import Counter

    from backend_spark.features import mutual_info

    df = _spark.createDataFrame(rows, "f string, y int")
    r = mutual_info(df, ["f"], "y").collect()[0]
    n = len(rows)
    cxy = Counter(rows)
    cx = Counter(x for x, _ in rows)
    cy = Counter(y for _, y in rows)
    mi = sum(
        (c / n) * math.log(c * n / (cx[x] * cy[y]))
        for (x, y), c in cxy.items()
    )
    assert r.n == n
    assert r.mi == pytest.approx(mi, abs=1e-6), (rows, r.mi, mi)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]),
                  st.integers(min_value=-5, max_value=5)),
        min_size=1, max_size=16,
    ),
    smoothing=st.sampled_from([1.0, 10.0]),
)
def test_target_encode_matches_python_loo(_spark, rows, smoothing):
    """Leave-one-out encoding replays exactly: quantized integer sums,
    then the fixed double chain ((cs - y_i) + m*prior)/(n - 1 + m)."""
    from collections import defaultdict

    from backend_spark.features import target_encode

    df = _spark.createDataFrame(
        [(i, c, float(y)) for i, (c, y) in enumerate(rows)],
        "id long, cat string, y double",
    )
    out = target_encode(df, "cat", "y", smoothing=smoothing)
    got = {r.id: r.encoded for r in out.collect()}
    scale = 10**6
    cs, cn = defaultdict(int), defaultdict(int)
    gs = gn = 0
    for c, y in rows:
        q = round(y * scale)
        cs[c] += q
        cn[c] += 1
        gs += q
        gn += 1
    prior = gs / gn
    for i, (c, y) in enumerate(rows):
        q = round(y * scale)
        enc = ((cs[c] - q) + smoothing * prior) / (cn[c] - 1 + smoothing) / scale
        assert got[i] == pytest.approx(enc, abs=1e-6), (i, rows, got[i], enc)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=20),
    bins=st.sampled_from([1, 4, 7]),
)
def test_histogram_matches_python_binning(_spark, vals, bins):
    """Fixed-width bins over [min, max]: counts equal the python
    binning (max folds into the last bin; degenerate range -> bin 0),
    and empty bins appear with count 0."""
    from backend_spark.features import histogram

    df = _spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = {r.bin: r.cnt for r in histogram(df, "v", bins=bins).collect()}
    lo, hi = min(vals), max(vals)
    exp = {b: 0 for b in range(bins)}
    for v in vals:
        if hi == lo:
            b = 0
        else:
            w = (hi - lo) / bins
            b = min(int((v - lo) // w), bins - 1)
        exp[b] += 1
    assert got == exp, (vals, bins, got, exp)


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab c", min_size=1, max_size=20),
                   min_size=1, max_size=8),
)
def test_zipf_fit_matches_python_ols(_spark, texts):
    """ln(freq)-on-ln(rank) OLS over the top-n tokens replays in
    python with the same (cnt desc, token asc) rank order."""
    import math
    from collections import Counter

    from backend_spark.llm import zipf_fit

    df = _spark.createDataFrame([(t,) for t in texts], "text string")
    r = zipf_fit(df, "text", top_n=50).collect()[0]
    c = Counter()
    for t in texts:
        for tok in _py_norm(t).split():
            if tok:
                c[tok] += 1
    if not c:
        assert r.n_terms == 0
        return
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    n = len(top)
    assert r.n_terms == n
    if n < 2:
        assert r.slope is None
        return
    xs = [math.log(i + 1) for i in range(n)]
    ys = [math.log(cnt) for _, cnt in top]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    den = n * sxx - sx * sx
    if den == 0:
        assert r.slope is None
        return
    slope = (n * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / n
    assert r.slope == pytest.approx(slope, abs=1e-6), (texts, r.slope, slope)
    assert r.intercept == pytest.approx(intercept, abs=1e-6)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["x", "y", "z", None]),   # name value
                  st.integers(min_value=0, max_value=9)),   # numeric value
        min_size=1, max_size=10,
    ),
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),
                  st.integers(min_value=0, max_value=9)),
        max_size=12,
    ),
)
def test_er_resolve_matches_python_cc_and_rules(_spark, vals, edges):
    """Golden records == python union-find clustering + rule replay:
    entity = min member id; first = min-id record's value; mode = most
    frequent non-null, ties smallest; sum over the cluster."""
    from collections import Counter

    from backend_spark.operators import er_resolve

    n = len(vals)
    recs = [(i, name, float(v)) for i, (name, v) in enumerate(vals)]
    pair_rows = [(a, b) for a, b in edges if a < n and b < n]
    df = _spark.createDataFrame(recs, "rid long, name string, v double")
    pairs = (
        _spark.createDataFrame(pair_rows, "left_id long, right_id long")
        if pair_rows else
        _spark.createDataFrame([], "left_id long, right_id long")
    )
    out = er_resolve(df, pairs, "rid", {"name": "first", "v": "sum"})
    got = {r.entity_id: (r.n_members, r.name, r.v) for r in out.collect()}
    # python union-find over ids 0..n-1 with the same edges
    parent = list(range(n))
    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a
    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for i in range(n):
        clusters.setdefault(find(i), []).append(i)
    exp = {}
    for members in clusters.values():
        eid = min(members)
        name = vals[eid][0]                      # first = min-id record's value
        total = float(sum(vals[i][1] for i in members))
        exp[eid] = (len(members), name, total)
    assert got == exp, (vals, pair_rows, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.sampled_from(["x", "y", "z", None]), min_size=2, max_size=10),
)
def test_er_resolve_mode_ties_to_smallest(_spark, vals):
    """mode = most frequent non-null value, ties to the smallest —
    over one all-connected cluster."""
    from collections import Counter

    from backend_spark.operators import er_resolve

    n = len(vals)
    df = _spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid long, name string"
    )
    pairs = _spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "left_id long, right_id long"
    )
    out = er_resolve(df, pairs, "rid", {"name": "mode"}).collect()
    assert len(out) == 1
    c = Counter(v for v in vals if v is not None)
    exp = min((-cnt, v) for v, cnt in c.items())[1] if c else None
    assert out[0].name == exp, (vals, out[0].name, exp)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),   # key
                  st.integers(min_value=0, max_value=5),   # ts (ties likely)
                  st.integers(min_value=0, max_value=99)), # tiebreak/payload
        min_size=1, max_size=20,
        unique_by=lambda t: (t[0], t[1], t[2]),
    ),
)
def test_compact_latest_matches_python_argmax(_spark, rows):
    """Newest row per key with (ts, tiebreak) ordering == python argmax
    — ties on ts resolve by the highest tiebreak, deterministically."""
    from backend_spark.operators.groupby import compact_latest

    df = _spark.createDataFrame(rows, "k long, ts long, tb long")
    got = {r.k: (r.ts, r.tb)
           for r in compact_latest(df, "k", "ts", tiebreak_col="tb").collect()}
    exp = {}
    for k, ts, tb in rows:
        if k not in exp or (ts, tb) > exp[k]:
            exp[k] = (ts, tb)
    assert got == exp, (rows, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-20, max_value=20), min_size=1, max_size=18),
    n_bins=st.sampled_from([2, 4]),
)
def test_quantile_bins_matches_numpy_percentile(_spark, vals, n_bins):
    """bin = number of interior linear-interpolation quantile
    boundaries <= x; numpy's 'linear' percentile is the same
    definition as F.percentile, exact in doubles for integer input."""
    import numpy as np

    from backend_spark.features import quantile_bins

    df = _spark.createDataFrame([(float(v),) for v in vals], "v double")
    got = [
        (r.v, r.v_bin)
        for r in quantile_bins(df, "v", n_bins=n_bins).collect()
    ]
    qs = [100.0 * i / n_bins for i in range(1, n_bins)]
    bounds = [float(np.percentile(np.array(vals, dtype=float), q)) for q in qs]
    for v, b in got:
        exp = sum(1 for t in bounds if t <= v)
        assert b == exp, (vals, n_bins, bounds, v, b, exp)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["g1", "g2", None]),
                  st.integers(min_value=-50, max_value=50)),
        min_size=1, max_size=18,
    ),
)
def test_winsorize_matches_numpy_clip(_spark, rows):
    """Per-group winsorized clip == numpy percentile clip, with the
    NULL group as a real group and every row preserved."""
    import numpy as np
    from collections import defaultdict

    from backend_spark.features import winsorize

    df = _spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "g string, v double"
    )
    out = winsorize(df, "v", lower=0.25, upper=0.75, group_col="g").collect()
    assert len(out) == len(rows)  # keeps every row
    series = defaultdict(list)
    for g, v in rows:
        series[g].append(float(v))
    lohi = {
        g: (float(np.percentile(vs, 25)), float(np.percentile(vs, 75)))
        for g, vs in series.items()
    }
    for r in out:
        lo, hi = lohi[r.g]
        assert r.v_w == pytest.approx(min(max(r.v, lo), hi), abs=1e-9), (rows, r)


@settings(max_examples=8, deadline=None)
@given(
    ev=st.lists(
        st.tuples(st.integers(min_value=0, max_value=1),
                  st.sampled_from(["a", "b", "c"])),
        min_size=2, max_size=18,
    ),
)
def test_transition_counts_matches_python_markov(_spark, ev):
    """(src -> dst) adjacency counts per key + conditional p == a
    python fold over the sorted sequences."""
    from collections import Counter, defaultdict

    from backend_spark.features import transition_counts

    rows = [(f"k{k}", i, s) for i, (k, s) in enumerate(ev)]
    df = _spark.createDataFrame(rows, "k string, ts long, s string")
    got = {(r.src, r.dst): (r.cnt, r.p)
           for r in transition_counts(df, "k", "ts", "s").collect()}
    series = defaultdict(list)
    for k, ts, s in rows:
        series[k].append((ts, s))
    c = Counter()
    for k, seq in series.items():
        seq.sort()
        for (_, a), (_, b) in zip(seq, seq[1:]):
            c[(a, b)] += 1
    src_tot = Counter()
    for (a, _), n in c.items():
        src_tot[a] += n
    exp = {(a, b): (n, round(n / src_tot[a], 6)) for (a, b), n in c.items()}
    assert got == exp, (ev, got, exp)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),  # score/10 -> forces ties
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1, max_size=30,
    ),
)
def test_auc_score_matches_python_mann_whitney(_spark, rows):
    """Tie-aware ROC-AUC through the distributed prefix-sum == the
    brute-force pairwise Mann-Whitney count (wins + half-ties), and the
    degenerate one-class inputs yield NULL auc."""
    from backend_spark.ml import auc_score

    data = [(s / 10.0, float(y)) for s, y in rows]
    df = _spark.createDataFrame(data, "score double, label double")
    got = auc_score(df, "score", "label").collect()[0]
    pos = [s for s, y in data if y == 1.0]
    neg = [s for s, y in data if y == 0.0]
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    if not pos or not neg:
        assert got.auc is None
    else:
        wins = sum(
            1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
        )
        assert got.auc == pytest.approx(wins / (len(pos) * len(neg)), abs=1e-6), (
            rows, got,
        )


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # key
            st.integers(min_value=0, max_value=40),         # ts
            st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
        ),
        min_size=1, max_size=20,
    ),
)
def test_interpolate_linear_matches_python_blend(_spark, rows):
    """Per-key linear gap interpolation == a python two-pointer replay
    (observed rows pass through; interior nulls blend by position; no
    extrapolation past either end; coincident anchors take backward).
    A seq tiebreak pins tied-ts ordering so the replay is total."""
    from backend_spark.features import interpolate_linear

    data = [
        (f"k{k}", ts, i, None if v is None else float(v))
        for i, (k, ts, v) in enumerate(rows)
    ]
    df = _spark.createDataFrame(data, "k string, ts long, seq long, v double")
    got = {
        r.seq: r.v_interp
        for r in interpolate_linear(df, "k", "ts", "v", tiebreak_col="seq").collect()
    }
    from collections import defaultdict

    series = defaultdict(list)
    for k, ts, seq, v in data:
        series[k].append((ts, seq, v))
    exp = {}
    for k, seq_rows in series.items():
        seq_rows.sort(key=lambda r: (r[0], r[1]))
        for i, (ts, seq, v) in enumerate(seq_rows):
            if v is not None:
                exp[seq] = round(v, 6)
                continue
            prev = next(
                ((t, x) for t, _, x in reversed(seq_rows[:i]) if x is not None), None
            )
            nxt = next(((t, x) for t, _, x in seq_rows[i + 1:] if x is not None), None)
            if prev is None or nxt is None:
                exp[seq] = None
            elif nxt[0] > prev[0]:
                pt, pv = prev
                nt, nv = nxt
                exp[seq] = round(pv + (nv - pv) * (ts - pt) / (nt - pt), 6)
            else:
                exp[seq] = round(prev[1], 6)  # coincident anchors -> backward
    assert got == {s: (pytest.approx(v, abs=1e-9) if v is not None else None)
                   for s, v in exp.items()}, (rows, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),           # key
            st.integers(min_value=0, max_value=100),         # ts (unique-ified below)
            st.integers(min_value=-50, max_value=50),        # value
        ),
        min_size=1, max_size=15,
    ),
)
def test_twap_matches_python_integral(_spark, rows):
    """Duration-weighted mean == python piecewise-constant integral
    over the holding periods (last observation holds nothing)."""
    from collections import defaultdict

    from backend_spark.features import twap

    # unique (key, ts): tied stamps are a documented tie_break case
    seen = set()
    data = []
    for k, ts, v in rows:
        if (k, ts) in seen:
            continue
        seen.add((k, ts))
        data.append((f"k{k}", ts, float(v)))
    df = _spark.createDataFrame(data, "k string, ts long, v double")
    got = {r.k: (r.n, r.span, r.twap) for r in twap(df, "k", "ts", "v").collect()}
    series = defaultdict(list)
    for k, ts, v in data:
        series[k].append((ts, v))
    for k, obs in series.items():
        obs.sort()
        n, span = len(obs), obs[-1][0] - obs[0][0]
        assert got[k][0] == n and got[k][1] == span
        if span == 0:
            assert got[k][2] is None
        else:
            integral = sum(
                v * (obs[i + 1][0] - t) for i, (t, v) in enumerate(obs[:-1])
            )
            assert got[k][2] == pytest.approx(integral / span, abs=1e-6), (data, k)


@settings(max_examples=8, deadline=None)
@given(
    exp_scores=st.lists(st.floats(min_value=0.0, max_value=0.999), min_size=0, max_size=15),
    act_scores=st.lists(st.floats(min_value=0.0, max_value=0.999), min_size=0, max_size=15),
)
def test_psi_matches_python_formula(_spark, exp_scores, act_scores):
    """Per-bin PSI terms == python histogram + (p-q)ln(p/q) with the
    same eps floor, including the zero-total degenerate side."""
    import math

    from backend_spark.ml import psi

    n_bins, eps = 5, 1e-6
    e_df = _spark.createDataFrame([(s,) for s in exp_scores] or [(None,)], "s double").where("s is not null")
    a_df = _spark.createDataFrame([(s,) for s in act_scores] or [(None,)], "s double").where("s is not null")
    got = {r.bin: (r.p_expected, r.p_actual, r.psi_term)
           for r in psi(e_df, a_df, "s", n_bins=n_bins, eps=eps).collect()}
    assert set(got) == set(range(n_bins))

    def hist(scores):
        c = [0] * n_bins
        for s in scores:
            c[min(int(s * n_bins), n_bins - 1)] += 1
        return c

    he, ha = hist(exp_scores), hist(act_scores)
    te, ta = sum(he), sum(ha)
    for b in range(n_bins):
        p = max(he[b] / te if te else 0.0, eps)
        q = max(ha[b] / ta if ta else 0.0, eps)
        assert got[b][0] == pytest.approx(round(p, 6), abs=1e-9)
        assert got[b][1] == pytest.approx(round(q, 6), abs=1e-9)
        assert got[b][2] == pytest.approx((p - q) * math.log(p / q), abs=1e-5), (b, he, ha)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=0.999),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1, max_size=25,
    ),
)
def test_ece_matches_python_binning(_spark, rows):
    """ECE == python Σ (n_b/N)·|acc_b − conf_b| over the same
    fixed-width score bins (confidence via the same fixed-point
    quantization)."""
    from collections import defaultdict

    from backend_spark.ml import ece

    n_bins, scale = 5, 1_000_000
    df = _spark.createDataFrame([(s, y) for s, y in rows], "s double, y int")
    got = ece(df, "s", "y", n_bins=n_bins, scale=scale).collect()[0]
    bins = defaultdict(lambda: [0, 0, 0])  # n, pos, conf_scaled
    for s, y in rows:
        b = min(int(s * n_bins), n_bins - 1)
        bins[b][0] += 1
        bins[b][1] += y
        bins[b][2] += math.floor(s * scale + 0.5)
    n = sum(v[0] for v in bins.values())
    expected = sum(
        v[0] * abs(v[1] / v[0] - v[2] / scale / v[0]) for v in bins.values()
    ) / n
    assert got.n == n and got.n_bins_used == len(bins)
    assert got.ece == pytest.approx(expected, abs=1e-5), (rows, got)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # group id
            st.integers(min_value=1, max_value=60),     # value
        ),
        min_size=1, max_size=30,
    ),
    ps=st.lists(st.sampled_from([1, 25, 50, 75, 95, 100]), min_size=1, max_size=3, unique=True),
)
def test_bucket_quantiles_matches_python_rank(_spark, rows, ps):
    """Exact lower-rank percentile == python sorted[ceil(p*n/100)-1]
    per group."""
    import math as _math
    from collections import defaultdict

    from backend_spark.features import bucket_quantiles

    df = _spark.createDataFrame(
        [(f"g{g}", float(v)) for g, v in rows], "g string, v double"
    )
    out = {r.g: r.asDict() for r in bucket_quantiles(df, "g", "v", percentiles=ps).collect()}
    series = defaultdict(list)
    for g, v in rows:
        series[f"g{g}"].append(float(v))
    for g, vs in series.items():
        vs.sort()
        assert out[g]["n"] == len(vs)
        for p in ps:
            rank = _math.ceil(p * len(vs) / 100)
            assert out[g][f"p{p}"] == vs[rank - 1], (rows, ps, g)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["ref", "a", "b"]),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1, max_size=25,
    ),
)
def test_disparate_impact_matches_python_ratio(_spark, rows):
    """Four-fifths-rule readout == python per-group rate / reference
    rate, NULL ratio when the reference rate is 0 or absent-side
    groups only."""
    from collections import defaultdict

    from backend_spark.quality import disparate_impact

    df = _spark.createDataFrame([(g, y) for g, y in rows], "g string, y int")
    got = {r.group: r for r in disparate_impact(df, "g", "y", reference="ref").collect()}
    stats = defaultdict(lambda: [0, 0])
    for g, y in rows:
        stats[g][0] += 1
        stats[g][1] += y
    ref_rate = (stats["ref"][1] / stats["ref"][0]) if "ref" in stats else None
    for g, (n, pos) in stats.items():
        if g == "ref":
            assert g not in got
            continue
        if ref_rate is None:
            # no reference row at all -> the broadcast ref is empty ->
            # the cross join yields nothing
            assert g not in got
            continue
        r = got[g]
        assert (r.n, r.positives) == (n, pos)
        if ref_rate == 0:
            assert r.di_ratio is None and r.adverse is None
        else:
            ratio = (pos / n) / ref_rate
            assert r.di_ratio == pytest.approx(ratio, abs=1e-5)
            assert r.adverse == (ratio < 0.8)


@settings(max_examples=8, deadline=None)
@given(
    big_keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
    small_keys=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=10),
)
def test_bloom_filter_join_equals_exact_join(_spark, big_keys, small_keys):
    """The Bloom prefilter must be exactness-preserving: no false
    negatives means semi/inner results equal the plain joins on any
    key distribution (tiny m_bits forces heavy false-positive load,
    which the exact join must absorb)."""
    from backend_spark.scale import bloom_filter_join

    big = _spark.createDataFrame([(k, f"r{i}") for i, k in enumerate(big_keys)], "k long, payload string")
    small = _spark.createDataFrame([(k,) for k in small_keys], "k long")
    semi = sorted((r.k, r.payload) for r in bloom_filter_join(big, small, "k", m_bits=64, k=2).collect())
    exact_semi = sorted((r.k, r.payload) for r in big.join(small.distinct(), "k", "left_semi").collect())
    assert semi == exact_semi, (big_keys, small_keys)


@settings(max_examples=15, deadline=None)
@given(s=st.text(alphabet="abÃ©Â¢â€™ ÂŸÃ©â", min_size=0, max_size=20))
def test_fix_mojibake_matches_python_replace_chain(_spark, s):
    """The mojibake repair == the same ordered MOJIBAKE_RULES table
    folded as python str.replace — order matters and must match."""
    from backend_spark import llm

    df = _spark.createDataFrame([(s,)], "t string")
    got = llm.fix_mojibake(df, "t").collect()[0]
    exp = s
    for bad, good in llm.MOJIBAKE_RULES:
        exp = exp.replace(bad, good)
    assert got.t_fixed == exp, (repr(s), repr(got.t_fixed), repr(exp))


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2"]),
            st.one_of(st.none(), st.integers(min_value=0, max_value=1000)),
        ),
        min_size=1, max_size=20,
    ),
    max_lag=st.integers(min_value=0, max_value=500),
)
def test_freshness_matches_python_lag(_spark, rows, max_lag):
    """Per-source latest/lag/stale == python max + global-max diff;
    NULL timestamps carry no evidence."""
    from collections import defaultdict

    from backend_spark.quality import freshness

    df = _spark.createDataFrame(rows, "src string, ts long")
    got = {r.source: r for r in freshness(df, "src", "ts", max_lag_us=max_lag).collect()}
    per = defaultdict(list)
    for s, ts in rows:
        if ts is not None:
            per[s].append(ts)
    if not per:
        assert got == {}
        return
    top = max(max(v) for v in per.values())
    assert set(got) == set(per)
    for s, tss in per.items():
        r = got[s]
        assert (r.n, r.latest, r.lag_us) == (len(tss), max(tss), top - max(tss))
        assert r.stale == (top - max(tss) > max_lag)


@settings(max_examples=8, deadline=None)
@given(
    fact_keys=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=12)),
        min_size=1, max_size=25,
    ),
    dim_keys=st.lists(st.integers(min_value=0, max_value=12), min_size=0, max_size=8),
    top_k=st.integers(min_value=1, max_value=4),
)
def test_ri_check_matches_python_orphans(_spark, fact_keys, dim_keys, top_k):
    """Orphan totals, null accounting, and the top-k heaviest orphan
    keys (cnt desc, key-text asc ties) == a python replay."""
    from collections import Counter

    from backend_spark.quality import ri_check

    facts = _spark.createDataFrame([(k,) for k in fact_keys], "k long")
    dim = _spark.createDataFrame([(k,) for k in dim_keys] or [(None,)], "k long").where(
        "k is not null"
    )
    out = ri_check(facts, dim, "k", top_k=top_k).collect()
    summary = next(r for r in out if r.kind == "summary")
    nullrow = next(r for r in out if r.kind == "null")
    orphan_rows = [(r.key, r.n) for r in out if r.kind == "orphan"]

    dset = set(dim_keys)
    nulls = sum(1 for k in fact_keys if k is None)
    c = Counter(k for k in fact_keys if k is not None and k not in dset)
    n_orph = sum(c.values())
    assert summary.n == len(fact_keys)
    assert summary.orphan_rate == pytest.approx(
        round((n_orph + nulls) / len(fact_keys), 6), abs=1e-9
    )
    assert nullrow.n == nulls
    exp_top = sorted(c.items(), key=lambda kv: (-kv[1], str(kv[0])))[:top_k]
    assert orphan_rows == [(str(k), n) for k, n in exp_top], (fact_keys, dim_keys)


@settings(max_examples=6, deadline=None)
@given(
    base=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=20, unique=True),
    added=st.lists(st.integers(min_value=61, max_value=90), min_size=0, max_size=6, unique=True),
    dropped=st.integers(min_value=0, max_value=5),
)
def test_sync_plan_reconciles_old_to_new(_spark, base, added, dropped):
    """The emitted bucket work-list is complete and minimal: replacing
    exactly the flagged buckets' rows in `old` with `new`'s yields
    `new`, and unflagged buckets are byte-identical on both sides."""
    from backend_spark import functions as fn
    from backend_spark.quality import sync_plan

    n_buckets = 8
    old_rows = base
    new_rows = base[dropped:] + added   # drop a prefix, add fresh keys
    old = _spark.createDataFrame([(v,) for v in old_rows], "v long")
    new = _spark.createDataFrame([(v,) for v in new_rows], "v long")
    plan = sync_plan(old, new, n_buckets=n_buckets).collect()
    flagged = {r.bucket for r in plan}

    bucket_of = F.pmod(
        fn.md5_long(F.coalesce(F.col("v").cast("string"), F.lit("\x00null"))),
        F.lit(n_buckets),
    ).cast("long")
    ob = {r.v: r.b for r in old.select("v", bucket_of.alias("b")).collect()}
    nb = {r.v: r.b for r in new.select("v", bucket_of.alias("b")).collect()}
    reconciled = sorted(
        [v for v, b in ob.items() if b not in flagged]
        + [v for v, b in nb.items() if b in flagged]
    )
    assert reconciled == sorted(new_rows), (base, added, dropped, flagged)
    # minimality: an unflagged bucket has identical content on both sides
    for b in set(ob.values()) | set(nb.values()):
        if b not in flagged:
            assert sorted(v for v, x in ob.items() if x == b) == sorted(
                v for v, x in nb.items() if x == b
            )


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),     # key
            st.integers(min_value=0, max_value=5),     # period
            st.integers(min_value=-30, max_value=30),  # value
        ),
        min_size=1, max_size=25,
    ),
)
def test_pop_change_matches_python_lag(_spark, rows):
    """Period-over-period sums, deltas, and pct vs the previous
    period-with-data == a python groupby + lag replay (zero base ->
    NULL pct)."""
    from collections import defaultdict

    from backend_spark.features import pop_change

    df = _spark.createDataFrame(
        [(f"k{k}", p, float(v)) for k, p, v in rows], "k string, p long, v double"
    )
    got = {
        (r.k, r.p): (r.value, r.prev_value, r.change, r.pct_change)
        for r in pop_change(df, "k", "p", "v").collect()
    }
    sums = defaultdict(float)
    for k, p, v in rows:
        sums[(f"k{k}", p)] += float(v)
    series = defaultdict(list)
    for (k, p), v in sums.items():
        series[k].append((p, round(v, 6)))
    exp = {}
    for k, pv in series.items():
        pv.sort()
        for i, (p, v) in enumerate(pv):
            prev = pv[i - 1][1] if i else None
            change = round(v - prev, 6) if prev is not None else None
            pct = (
                round((v - prev) / prev, 6)
                if prev is not None and prev != 0
                else None
            )
            exp[(k, p)] = (v, prev, change, pct)
    assert set(got) == set(exp)
    for key in exp:
        for a, b in zip(got[key], exp[key]):
            if b is None:
                assert a is None, (key, got[key], exp[key])
            else:
                assert a == pytest.approx(b, abs=1e-6), (key, got[key], exp[key])


@settings(max_examples=6, deadline=None)
@given(
    group_sizes=st.lists(st.integers(min_value=1, max_value=4), min_size=1, max_size=5),
)
def test_dup_report_histogram_on_exact_copies(_spark, group_sizes):
    """With pairwise token-disjoint base texts and exact copies, the
    LSH+CC cluster-size histogram must equal the copy-group histogram:
    identical docs always pair (identical signatures, Jaccard 1) and
    disjoint docs never survive the exact-Jaccard verify."""
    from collections import Counter

    from backend_spark.llm import dup_report

    rows = []
    doc_id = 0
    for g, size in enumerate(group_sizes):
        # disjoint vocabularies across groups -> cross-group Jaccard 0
        text = " ".join(f"tok{g}x{w} " * 2 for w in range(6))
        for _ in range(size):
            rows.append((doc_id, text))
            doc_id += 1
    df = _spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.size: (r.n_clusters, r.n_docs, r.share) for r in dup_report(df, "doc_id", "text").collect()}
    hist = Counter(group_sizes)
    n = sum(group_sizes)
    exp = {s: (c, s * c, round(s * c / n, 6)) for s, c in hist.items()}
    assert got.keys() == exp.keys(), (group_sizes, got)
    for s in exp:
        assert got[s][0] == exp[s][0] and got[s][1] == exp[s][1]
        assert got[s][2] == pytest.approx(exp[s][2], abs=1e-9)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),        # key
            st.integers(min_value=0, max_value=50),       # ts
            st.integers(min_value=-10, max_value=10),     # value
        ),
        min_size=1, max_size=20,
    ),
    bucket=st.sampled_from([1, 3, 7]),
)
def test_resample_gapfill_matches_python_grid(_spark, rows, bucket):
    """Bucketed counts/sums plus the dense empty-bucket grid == a
    python floor-div histogram over each key's [min, max] span."""
    from collections import defaultdict

    from backend_spark.features import resample_gapfill

    data = [(f"k{k}", ts, float(v)) for k, ts, v in rows]
    df = _spark.createDataFrame(data, "k string, ts long, v double")
    got = {
        (r.k, r.bucket): (r.n_events, r.v_sum)
        for r in resample_gapfill(df, "k", "ts", bucket, value_col="v").collect()
    }
    per = defaultdict(list)
    for k, ts, v in data:
        per[k].append(((ts // bucket) * bucket, v))
    exp = {}
    for k, evs in per.items():
        lo = min(b for b, _ in evs)
        hi = max(b for b, _ in evs)
        for b in range(lo, hi + 1, bucket):
            hits = [v for bb, v in evs if bb == b]
            exp[(k, b)] = (len(hits), round(sum(hits), 2) if hits else None)
    assert set(got) == set(exp), (rows, bucket)
    for key in exp:
        assert got[key][0] == exp[key][0], (key, rows)
        if exp[key][1] is None:
            assert got[key][1] is None
        else:
            assert got[key][1] == pytest.approx(exp[key][1], abs=1e-9)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),       # key
            st.integers(min_value=0, max_value=100),     # ts
            st.integers(min_value=-20, max_value=20),    # value
        ),
        min_size=1, max_size=20,
    ),
    halflife=st.sampled_from([5.0, 20.0]),
)
def test_decay_agg_matches_python_fold(_spark, rows, halflife):
    """Exponential recency weighting == python Σ v·0.5^(Δt/h) with the
    same per-row fixed-point quantization (t_ref = global max ts)."""
    from collections import defaultdict

    from backend_spark.features import decay_agg

    scale = 10**6
    data = [(f"k{k}", ts, float(v)) for k, ts, v in rows]
    df = _spark.createDataFrame(data, "k string, ts long, v double")
    got = {
        r.k: (r.n_events, r.decayed_sum, r.decayed_weight)
        for r in decay_agg(df, "k", "ts", "v", halflife=halflife).collect()
    }
    ref = max(ts for _, ts, _ in data)
    per = defaultdict(list)
    for k, ts, v in data:
        per[k].append((ts, v))
    for k, evs in per.items():
        qs = qw = 0
        for ts, v in evs:
            f = 0.5 ** ((ref - ts) / halflife)
            # round-half-up like F.round on .5 boundaries is banker-free
            qs += int(round(v * f * scale))
            qw += int(round(f * scale))
        assert got[k][0] == len(evs)
        assert got[k][1] == pytest.approx(round(qs / scale, 6), abs=2e-6), (rows, k)
        assert got[k][2] == pytest.approx(round(qw / scale, 6), abs=2e-6), (rows, k)


@settings(max_examples=10, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30, unique=True),
    rate_ppm=st.sampled_from([0, 137_000, 500_000, 905_000, 1_000_000]),
)
def test_deterministic_sample_matches_python_md5(_spark, ids, rate_ppm):
    """The hash-gate sample is bit-reproducible OUTSIDE Spark too:
    python hashlib.md5 replays the exact keep set (the property that
    makes the sample identical across engines and reruns)."""
    import hashlib

    from backend_spark.llm import deterministic_sample

    rate = rate_ppm / 1_000_000
    df = _spark.createDataFrame([(i,) for i in ids], "id long")
    got = sorted(r.id for r in deterministic_sample(df, "id", rate).collect())
    exp = sorted(
        i
        for i in ids
        if int(hashlib.md5(f"sample:{i}".encode()).hexdigest()[:15], 16) % 1_000_000
        < int(rate * 1_000_000)
    )
    assert got == exp, (ids, rate)


@settings(max_examples=10, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=25, unique=True),
)
def test_shuffle_order_matches_python_md5_rank(_spark, ids):
    """The global deterministic shuffle position == python rank in
    md5(salt:id) order — engine-independent training order."""
    import hashlib

    from backend_spark.llm import shuffle_order

    df = _spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r.id: r.shuffle_pos for r in shuffle_order(df, "id").collect()}

    def h(i):
        return int(hashlib.md5(f"shuf:{i}".encode()).hexdigest()[:15], 16)

    exp = {i: pos for pos, i in enumerate(sorted(ids, key=lambda i: (h(i), str(i))), 1)}
    assert got == exp, (ids, got, exp)

# ---------------------------------------------------------------------------
# corpus-prep replays: pack_sequences / temperature_sample / oversample /
# source_mix / unigram_logprob / nb_train+nb_score — each operator's
# deterministic contract re-derived in pure python (hashlib + IEEE floats),
# the same cross-engine-reproducibility argument as the det_sample replay.
# ---------------------------------------------------------------------------


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_normalize(s: str) -> str:
    import re
    import unicodedata

    folded = "".join(
        ch for ch in unicodedata.normalize("NFKD", s) if not unicodedata.combining(ch)
    )
    return re.sub(r"[^a-z0-9]+", " ", folded.lower()).strip()


def _py_tokens(s: str) -> list:
    n = _py_normalize(s)
    return n.split() if n else []


def _round_half_up(x: float, digits: int) -> float:
    """Replay F.round on doubles: java BigDecimal.valueOf(d) parses the
    shortest decimal repr (== python repr) then setScale(HALF_UP)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9999),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([1, 7, 64]),
    shards=st.sampled_from([1, 3, 8]),
)
def test_pack_sequences_matches_python_replay(_spark, rows, budget, shards):
    """Shard assignment (md5 gate), per-shard id-ordered cumulative
    offsets and shard-prefixed bin ids all replay in pure python — the
    packed layout is engine- and parallelism-independent."""
    from backend_spark.llm import pack_sequences

    df = _spark.createDataFrame(rows, "id long, n long")
    got = {
        r.id: (r.n_tokens, r.shard, r.start_offset, r.bin_id)
        for r in pack_sequences(df, "id", "n", budget=budget, shards=shards).collect()
    }
    exp = {}
    by_shard = {}
    for i, n in rows:
        by_shard.setdefault(_md5_60(f"pack:{i}") % shards, []).append((i, n))
    for shard, docs in by_shard.items():
        off = 0
        for i, n in sorted(docs):
            exp[i] = (n, shard, off, shard * 2**33 + off // budget)
            off += n
    assert got == exp, (rows, budget, shards)


@settings(max_examples=10, deadline=None)
@given(
    groups=st.lists(
        st.sampled_from(["web", "code", "wiki"]), min_size=1, max_size=40
    ),
    alpha=st.sampled_from([1.0, 2.0]),
)
def test_temperature_sample_matches_python_replay(_spark, groups, alpha):
    """With alpha in {1, 2} every float step (pow with an integral
    exponent, double division, HALF_UP rounding, md5 gate) is
    bit-replayable in python: the kept id set and per-row sample_rate
    must match exactly.  alpha=1 additionally must be a no-op."""
    from backend_spark.llm import temperature_sample

    rows = [(i, g) for i, g in enumerate(groups)]
    df = _spark.createDataFrame(rows, "id long, grp string")
    got = {
        r.id: r.sample_rate
        for r in temperature_sample(df, "grp", "id", alpha=alpha).collect()
    }

    counts = {}
    for _, g in rows:
        counts[g] = counts.get(g, 0) + 1
    tot = len(rows)
    r_by_g = {g: (n / tot) ** (alpha - 1.0) for g, n in counts.items()}
    rmax = max(r_by_g.values())
    rate = {g: _round_half_up(r / rmax, 6) for g, r in r_by_g.items()}
    exp = {}
    for i, g in rows:
        thr = int(_round_half_up(rate[g] * 1_000_000, 0))
        if _md5_60(f"ts:{i}") % 1_000_000 < thr:
            exp[i] = rate[g]
    assert got == exp, (groups, alpha, got, exp)
    if alpha == 1.0:
        assert set(got) == {i for i, _ in rows}


@settings(max_examples=10, deadline=None)
@given(
    groups=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=25),
    factor_b=st.sampled_from([0.0, 0.5, 1.25, 2.0, 3.5]),
)
def test_oversample_matches_python_replay(_spark, groups, factor_b):
    """Copy multiplicity replays exactly: floor(factor) whole copies
    plus one md5-gated fractional copy; groups outside the factor map
    pass through once; factor 0 drops the group."""
    import math

    from backend_spark.llm import oversample

    rows = [(i, g) for i, g in enumerate(groups)]
    df = _spark.createDataFrame(rows, "id long, grp string")
    out = oversample(df, "id", "grp", {"b": factor_b}).collect()
    got = sorted((r.id, r.copy) for r in out)

    exp = []
    for i, g in rows:
        f = factor_b if g == "b" else 1.0
        whole = math.floor(f)
        frac = f - whole
        for c in range(1, int(whole) + 1):
            exp.append((i, c))
        if frac > 0:
            c = int(whole) + 1
            gate = _md5_60(f"over:{i}:{c}") % 1_000_000
            if gate < math.floor(frac * 1_000_000):
                exp.append((i, c))
    assert got == sorted(exp), (groups, factor_b)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["cc", "books"]),
            st.sampled_from(["en", "fr"]),
            st.text(alphabet="ab Eé.,", max_size=12),
        ),
        min_size=1,
        max_size=25,
    ),
)
def test_source_mix_matches_python(_spark, docs):
    """The mixture report's integer sums are exact and the doc_share
    HALF_UP rounding replays via the shortest-repr decimal rule."""
    from backend_spark.llm import source_mix

    rows = [(s, l, t) for s, l, t in docs]
    df = _spark.createDataFrame(rows, "source string, lang string, text string")
    got = {
        (r.source, r.lang): (r.n_docs, r.n_tokens, r.n_chars, r.doc_share)
        for r in source_mix(df).collect()
    }
    agg = {}
    for s, l, t in rows:
        d, tk, ch = agg.get((s, l), (0, 0, 0))
        agg[(s, l)] = (d + 1, tk + len(_py_tokens(t)), ch + len(t))
    exp = {
        k: (d, tk, ch, _round_half_up(d / len(rows), 6))
        for k, (d, tk, ch) in agg.items()
    }
    assert got == exp, (docs, got, exp)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc ", max_size=16), min_size=1, max_size=15),
)
def test_unigram_logprob_matches_python(_spark, texts):
    """Per-doc mean unigram log-prob under the corpus's own unigram
    distribution replays in python (fixed position-order fold, then
    round-to-4) — docs with no tokens are absent."""
    import math

    from backend_spark.llm import unigram_logprob

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_tokens, r.avg_logprob) for r in unigram_logprob(df, "id", "text").collect()}

    tf = {}
    toks_by_id = {}
    for i, t in rows:
        toks = _py_tokens(t)
        toks_by_id[i] = toks
        for w in toks:
            tf[w] = tf.get(w, 0) + 1
    total = sum(tf.values())
    exp_ids = {i for i, toks in toks_by_id.items() if toks}
    assert set(got) == exp_ids, texts
    for i in exp_ids:
        toks = toks_by_id[i]
        mean = sum(math.log(tf[w] / total) for w in toks) / len(toks)
        assert got[i][0] == len(toks)
        assert got[i][1] == pytest.approx(round(mean, 4), abs=2e-4), (texts, i)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["spam", "ham"]),
            st.lists(st.sampled_from(["aa", "ab", "ba", "cc"]), min_size=1, max_size=6),
        ),
        min_size=2,
        max_size=12,
    ).filter(lambda d: len({l for l, _ in d}) == 2),
)
def test_nb_train_and_score_match_python(_spark, docs):
    """Multinomial NB with add-one smoothing replays in python: the
    dense (label, token) model carries ln((c+1)/(N_label+V)) and the
    document prior; scoring is prior + sum of in-vocab log_conds with
    the argmax/margin tie-break on label order."""
    import math

    from backend_spark.llm import nb_score, nb_train

    rows = [(label, " ".join(toks)) for label, toks in docs]
    df = _spark.createDataFrame(rows, "label string, text string")
    model = nb_train(df, "label", "text")
    got_model = {(r.label, r.token): (r.log_cond, r.log_prior) for r in model.collect()}

    # python replay of the dense model
    c = {}
    n_label = {}
    d_label = {}
    vocab = set()
    for label, text in rows:
        d_label[label] = d_label.get(label, 0) + 1
        for w in _py_tokens(text):
            c[(label, w)] = c.get((label, w), 0) + 1
            n_label[label] = n_label.get(label, 0) + 1
            vocab.add(w)
    v = len(vocab)
    d_tot = len(rows)
    labels = sorted(d_label)
    exp_keys = {(l, w) for l in labels for w in vocab}
    assert set(got_model) == exp_keys
    for (l, w), (log_cond, log_prior) in got_model.items():
        assert log_cond == pytest.approx(
            math.log((c.get((l, w), 0) + 1) / (n_label.get(l, 0) + v)), rel=1e-12
        )
        assert log_prior == pytest.approx(math.log(d_label[l] / d_tot), rel=1e-12)

    # scoring replay on the training docs themselves
    sdf = _spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)], "id long, text string"
    )
    got_scores = {r.id: (r.label, r.score, r.margin) for r in nb_score(sdf, model, "id", "text").collect()}
    for i, (_, text) in enumerate(rows):
        toks = [w for w in _py_tokens(text) if w in vocab]
        if not toks:
            assert i not in got_scores
            continue
        per = []
        for l in labels:
            s = math.log(d_label[l] / d_tot) + sum(
                math.log((c.get((l, w), 0) + 1) / (n_label.get(l, 0) + v)) for w in toks
            )
            per.append((-s, l))
        per.sort()
        best_s, best_l = -per[0][0], per[0][1]
        margin = best_s - (-per[1][0]) if len(per) > 1 else None
        gl, gs, gm = got_scores[i]
        assert gl == best_l, (docs, i)
        assert gs == pytest.approx(round(best_s, 4), abs=2e-4)
        if margin is None:
            assert gm is None
        else:
            assert gm == pytest.approx(round(margin, 4), abs=2e-4)


@settings(max_examples=10, deadline=None)
@given(
    cand=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
        max_size=30,
    ),
    gold=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
        max_size=15,
    ),
)
def test_blocking_eval_matches_python(_spark, cand, gold):
    """Pair completeness / reduction ratio replay: orientation-normalize
    both sides, dedup, count the intersection; ratios HALF_UP-round."""
    from backend_spark.operators.er import blocking_eval

    total_pairs = 13 * 12 // 2
    cdf = _spark.createDataFrame(cand or [(0, 1)], "left_id long, right_id long")
    gdf = _spark.createDataFrame(gold or [(0, 1)], "left_id long, right_id long")
    if not cand:
        cdf = cdf.limit(0)
    if not gold:
        gdf = gdf.limit(0)
    row = blocking_eval(cdf, gdf, total_pairs).collect()[0]

    cset = {(min(a, b), max(a, b)) for a, b in cand}
    gset = {(min(a, b), max(a, b)) for a, b in gold}
    found = len(gset & cset)
    assert (row.n_candidates, row.n_gold, row.n_found) == (len(cset), len(gset), found)
    if gset:
        assert row.pair_completeness == _round_half_up(found / len(gset), 6)
    else:
        assert row.pair_completeness is None
    assert row.reduction_ratio == _round_half_up(1.0 - len(cset) / float(total_pairs), 6)


@settings(max_examples=10, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.sampled_from([0, 1, None]),  # feature f1 agreement
            st.sampled_from([0, 1]),        # feature f2 agreement
            st.sampled_from([0, 1]),        # label
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_fs_weights_matches_python(_spark, pairs):
    """Fellegi-Sunter m/u probabilities and log2 weights replay from
    the agreement/label cross-counts with Laplace smoothing; NULL
    agreement counts as disagreement."""
    import math

    from backend_spark.operators.er import fs_weights

    df = _spark.createDataFrame(pairs, "f1 int, f2 int, label int")
    got = {r.feature: (r.m_prob, r.u_prob, r.w_agree, r.w_disagree)
           for r in fs_weights(df, ["f1", "f2"], "label").collect()}

    nm = sum(1 for *_, l in pairs if l)
    nu = len(pairs) - nm
    s = 0.5
    for fi, name in ((0, "f1"), (1, "f2")):
        am = sum(1 for t in pairs if (t[fi] or 0) != 0 and t[2])
        au = sum(1 for t in pairs if (t[fi] or 0) != 0 and not t[2])
        m = (am + s) / (nm + 2 * s)
        u = (au + s) / (nu + 2 * s)
        gm, gu, gwa, gwd = got[name]
        assert gm == pytest.approx(round(m, 6), abs=2e-6)
        assert gu == pytest.approx(round(u, 6), abs=2e-6)
        assert gwa == pytest.approx(round(math.log2(m / u), 6), abs=2e-6)
        assert gwd == pytest.approx(round(math.log2((1 - m) / (1 - u)), 6), abs=2e-6)


@settings(max_examples=10, deadline=None)
@given(
    recs=st.lists(
        st.tuples(st.text(alphabet="ab", max_size=4), st.integers(0, 50)),
        min_size=2,
        max_size=10,
    ),
    links=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12),
)
def test_pair_features_exact_absdiff_match_python(_spark, recs, links):
    """exact (null-safe equality) and abs_diff feature columns replay
    per pair; pairs referencing absent ids drop out of the inner join."""
    from backend_spark.operators.er import pair_features

    rows = [(i, nm, ag) for i, (nm, ag) in enumerate(recs)]
    rdf = _spark.createDataFrame(rows, "id long, name string, age long")
    pdf = _spark.createDataFrame(links or [(0, 1)], "left_id long, right_id long")
    if not links:
        pdf = pdf.limit(0)
    out = pair_features(
        rdf, pdf, "id", {"name": "exact", "age": "abs_diff"}
    ).collect()
    got = sorted((r.left_id, r.right_id, r.f_name_exact, r.f_age_abs_diff) for r in out)

    by_id = {i: (nm, ag) for i, nm, ag in rows}
    exp = sorted(
        (
            l,
            r,
            int(by_id[l][0] == by_id[r][0]),
            _round_half_up(abs(float(by_id[l][1]) - float(by_id[r][1])), 6),
        )
        for l, r in links
        if l in by_id and r in by_id
    )
    assert got == exp, (recs, links)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc ", max_size=20), min_size=1, max_size=12),
)
def test_bigram_logprob_matches_python(_spark, texts):
    """Mean bigram conditional log-prob replays: numerator = corpus
    bigram count, denominator = the head token's occurrences AS a
    bigram head; docs with < 2 tokens are absent."""
    import math

    from backend_spark.llm import bigram_logprob

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_bigrams, r.avg_bigram_lp) for r in bigram_logprob(df, "id", "text").collect()}

    bigrams_by_id = {}
    bc = {}
    hc = {}
    for i, t in rows:
        toks = _py_tokens(t)
        bgs = list(zip(toks, toks[1:]))
        bigrams_by_id[i] = bgs
        for b in bgs:
            bc[b] = bc.get(b, 0) + 1
            hc[b[0]] = hc.get(b[0], 0) + 1
    exp_ids = {i for i, bgs in bigrams_by_id.items() if bgs}
    assert set(got) == exp_ids, texts
    for i in exp_ids:
        bgs = bigrams_by_id[i]
        mean = sum(math.log(bc[b] / hc[b[0]]) for b in bgs) / len(bgs)
        assert got[i][0] == len(bgs)
        assert got[i][1] == pytest.approx(round(mean, 4), abs=2e-4), (texts, i)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abe .!?XY", max_size=25), min_size=1, max_size=12
    ),
)
def test_readability_matches_python_flesch(_spark, texts):
    """The Flesch heuristic's three regex counts and the score formula
    replay in python re; word-free texts score NULL."""
    import re

    from backend_spark.llm import readability

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_words, r.n_sentences, r.n_syllables, r.flesch)
        for r in readability(df, "id", "text").collect()
    }
    for i, t in rows:
        w = len(re.findall(r"[A-Za-z]+", t))
        s = max(len(re.findall(r"[.!?]+", t)), 1)
        y = max(len(re.findall(r"[aeiouyAEIOUY]+", t)), 1)
        gw, gs, gy, gf = got[i]
        assert (gw, gs, gy) == (w, s, y), (t,)
        if w == 0:
            assert gf is None
        else:
            score = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
            assert gf == pytest.approx(round(score, 4), abs=2e-4), (t,)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.lists(st.sampled_from(["hdr", "foot", "x", "y", ""]), max_size=5),
        ),
        min_size=1,
        max_size=12,
    ),
    min_share=st.sampled_from([0.5, 0.75, 1.0]),
)
def test_boilerplate_lines_matches_python(_spark, docs, min_share):
    """Per-group boilerplate = line document-frequency within the group
    crossing both the absolute and the share threshold; within-doc
    duplicates count once, empty lines drop."""
    from backend_spark.llm import boilerplate_lines

    rows = [(i, g, lines) for i, (g, lines) in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, grp string, lines array<string>")
    got = {
        (r.grp, r.line): (r.doc_freq, r.group_docs, r.share)
        for r in boilerplate_lines(df, "id", "grp", "lines", min_share=min_share).collect()
    }
    gd = {}
    freq = {}
    for i, g, lines in rows:
        gd[g] = gd.get(g, 0) + 1
        for ln in {l for l in lines if l}:
            freq[(g, ln)] = freq.get((g, ln), 0) + 1
    exp = {
        k: (c, gd[k[0]], _round_half_up(c / gd[k[0]], 6))
        for k, c in freq.items()
        if c >= 2 and c >= gd[k[0]] * min_share
    }
    assert got == exp, (docs, min_share)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc ", max_size=16), min_size=1, max_size=10),
    vocab=st.lists(st.sampled_from(["a", "b", "c", "aa", "ab", "abc"]), max_size=5),
)
def test_oov_rate_matches_python(_spark, texts, vocab):
    """OOV share per doc replays from the token/vocab membership; the
    zero-token doc keeps n_tokens=0 with a NULL rate."""
    from backend_spark.llm import oov_rate

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    vdf = _spark.createDataFrame([(w,) for w in vocab] or [("zz",)], "token string")
    if not vocab:
        vdf = vdf.limit(0)
    got = {r.id: (r.n_tokens, r.n_oov, r.oov_rate) for r in oov_rate(df, vdf, "id", "text").collect()}
    vset = set(vocab)
    for i, t in rows:
        toks = _py_tokens(t)
        oov = sum(1 for w in toks if w not in vset)
        gn, go, gr = got[i]
        assert (gn, go) == (len(toks), oov), (t, vocab)
        if toks:
            assert gr == _round_half_up(oov / len(toks), 6)
        else:
            assert gr is None


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=2, max_size=6),
        ),
        min_size=1,
        max_size=12,
    ),
    n_buckets=st.sampled_from([2, 3]),
)
def test_perplexity_buckets_matches_python_ntile(_spark, docs, n_buckets):
    """The per-language band assignment replays as python ntile over
    (score desc, id asc) — exact equal-split banding, no interpolation."""
    import math

    from backend_spark.llm import perplexity_buckets

    rows = [(i, l, " ".join(toks)) for i, (l, toks) in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, lang string, text string")
    got = {r.id: (r.lang, r.bucket, r.band) for r in perplexity_buckets(df, "id", "text", "lang", n_buckets=n_buckets).collect()}

    # replay the bigram score (same as test_bigram_logprob) then ntile
    bc, hc = {}, {}
    bgs_by_id = {}
    for i, _, t in rows:
        toks = _py_tokens(t)
        bgs = list(zip(toks, toks[1:]))
        bgs_by_id[i] = bgs
        for b in bgs:
            bc[b] = bc.get(b, 0) + 1
            hc[b[0]] = hc.get(b[0], 0) + 1
    scores = {
        i: round(sum(math.log(bc[b] / hc[b[0]]) for b in bgs) / len(bgs), 4)
        for i, bgs in bgs_by_id.items()
        if bgs
    }
    by_lang = {}
    for i, l, _ in rows:
        if i in scores:
            by_lang.setdefault(l, []).append(i)
    for l, ids in by_lang.items():
        ids.sort(key=lambda i: (-scores[i], i))
        n = len(ids)
        base, rem = divmod(n, n_buckets)
        pos = 0
        for b in range(1, n_buckets + 1):
            size = base + (1 if b <= rem else 0)
            for i in ids[pos : pos + size]:
                glang, gbucket, gband = got[i]
                assert (glang, gbucket) == (l, b), (docs, i)
                if n_buckets == 3:
                    assert gband == {1: "head", 2: "middle", 3: "tail"}[b]
                else:
                    assert gband == str(b)
            pos += size
    assert set(got) == set(scores), docs


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=30)),
        min_size=1,
        max_size=30,
    ),
)
def test_dq_check_matches_python_counts(_spark, vals):
    """not_null / min / max / in_set / unique violation counts replay:
    min/max count NULL as violating, in_set skips NULLs (documented
    asymmetry), unique counts EXCESS duplicate rows with NULL as one
    value (Deequ-style)."""
    from backend_spark.quality import dq_check

    df = _spark.createDataFrame([(v,) for v in vals], "x int")
    rules = [
        {"col": "x", "check": "not_null"},
        {"col": "x", "check": "min", "value": 0},
        {"col": "x", "check": "max", "value": 10},
        {"col": "x", "check": "in_set", "values": [0, 1, 2, 3]},
        {"col": "x", "check": "unique"},
    ]
    got = {r.rule_id: (r.violations, r.n_rows, r.passed) for r in dq_check(df, rules).collect()}
    n = len(vals)
    nn = sum(1 for v in vals if v is None)
    below = sum(1 for v in vals if v is None or v < 0)
    above = sum(1 for v in vals if v is None or v > 10)
    outside = sum(1 for v in vals if v is not None and v not in (0, 1, 2, 3))
    distinct_nonnull = len({v for v in vals if v is not None})
    has_null = 1 if nn else 0
    uniq_viol = n - distinct_nonnull - has_null
    exp = {0: nn, 1: below, 2: above, 3: outside, 4: uniq_viol}
    for rid, v in exp.items():
        assert got[rid] == (v, n, v == 0), (vals, rid, got)


def test_dq_check_empty_table_all_rules_pass(_spark):
    """Zero-row input: every rule type must report violations=0 /
    passed=True (SUM over no rows is NULL — the coalesce guard), and
    the report still carries one row per rule."""
    from backend_spark.quality import dq_check

    df = _spark.createDataFrame([], "x int")
    rules = [
        {"col": "x", "check": "not_null"},
        {"col": "x", "check": "min", "value": 0},
        {"col": "x", "check": "max", "value": 10},
        {"col": "x", "check": "in_set", "values": [0, 1]},
        {"col": "x", "check": "unique"},
    ]
    rows = dq_check(df, rules).collect()
    assert len(rows) == len(rules)
    for r in rows:
        assert (r.violations, r.n_rows, r.passed) == (0, 0, True), r


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc ", max_size=20), min_size=1, max_size=10),
    discount=st.sampled_from([0.25, 0.75]),
)
def test_kn_bigram_logprob_matches_python(_spark, texts, discount):
    """Interpolated Kneser-Ney bigram scores replay: fixed discount,
    continuation distribution over distinct-predecessor counts."""
    import math

    from backend_spark.llm import kn_bigram_logprob

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_bigrams, r.avg_kn_lp) for r in kn_bigram_logprob(df, "id", "text", discount=discount).collect()}

    cb, ch, n1fw, n1bw = {}, {}, {}, {}
    bgs_by_id = {}
    for i, t in rows:
        toks = _py_tokens(t)
        bgs = list(zip(toks, toks[1:]))
        bgs_by_id[i] = bgs
        for b in bgs:
            if b not in cb:
                n1fw[b[0]] = n1fw.get(b[0], 0) + 1
                n1bw[b[1]] = n1bw.get(b[1], 0) + 1
            cb[b] = cb.get(b, 0) + 1
            ch[b[0]] = ch.get(b[0], 0) + 1
    n_types = float(len(cb))
    exp_ids = {i for i, bgs in bgs_by_id.items() if bgs}
    assert set(got) == exp_ids, texts
    for i in exp_ids:
        bgs = bgs_by_id[i]
        s = 0.0
        for w1, w2 in bgs:
            p = (
                max(cb[(w1, w2)] - discount, 0.0)
                + discount * n1fw[w1] * (n1bw[w2] / n_types)
            ) / ch[w1]
            s += math.log(p)
        assert got[i][0] == len(bgs)
        assert got[i][1] == pytest.approx(round(s / len(bgs), 6), abs=2e-6), (texts, i)


@settings(max_examples=8, deadline=None)
@given(
    raw=st.lists(st.text(alphabet="ab ", max_size=14), min_size=1, max_size=8),
    target=st.lists(st.text(alphabet="ab ", max_size=14), min_size=1, max_size=8),
    buckets=st.sampled_from([4, 64]),
)
def test_dsir_weights_matches_python(_spark, raw, target, buckets):
    """DSIR importance log-weights replay: hashed unigram+bigram bag,
    add-one-smoothed bucket distributions for both corpora, per-doc
    count-weighted log-ratio fold."""
    import math

    from backend_spark.llm import dsir_weights

    rdf = _spark.createDataFrame([(i, t) for i, t in enumerate(raw)], "id long, text string")
    tdf = _spark.createDataFrame([(t,) for t in target], "text string")
    got = {r.id: (r.n_feats, r.logweight) for r in dsir_weights(rdf, tdf, "id", "text", buckets=buckets).collect()}

    def feats(t):
        toks = _py_tokens(t)
        grams = toks + [" ".join(p) for p in zip(toks, toks[1:])]
        return [_md5_60(g) % buckets for g in grams]

    def dist(texts):
        c = {}
        for t in texts:
            for b in feats(t):
                c[b] = c.get(b, 0) + 1
        total = sum(c.values())
        denom = float(total) + 1.0 * buckets
        return lambda b: math.log((c.get(b, 0) + 1.0) / denom)

    lt, lr = dist(target), dist(raw)
    for i, t in enumerate(raw):
        fs = feats(t)
        if not fs:
            assert i not in got
            continue
        w = sum(lt(b) - lr(b) for b in fs)
        assert got[i][0] == len(fs)
        assert got[i][1] == pytest.approx(round(w, 6), abs=2e-6), (raw, target, i)


@settings(max_examples=6, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=9999), min_size=1, max_size=25, unique=True),
    n_shards=st.sampled_from([1, 4]),
)
def test_training_shards_manifest_matches_python(_spark, ids, n_shards, tmp_path_factory):
    """The shard export replays end-to-end: round-robin shard = md5
    shuffle rank mod n_shards, manifest counts and xor checksums match
    a python fold, and the written parquet carries exactly the corpus."""
    import hashlib
    from functools import reduce

    from backend_spark.llm import write_training_shards

    path = str(tmp_path_factory.mktemp("shards"))
    df = _spark.createDataFrame([(i,) for i in ids], "id long")
    manifest = {
        r.shard: (r.n_rows, r.id_checksum)
        for r in write_training_shards(df, path, "id", n_shards=n_shards).collect()
    }

    def h(i):
        return int(hashlib.md5(f"shuf:{i}".encode()).hexdigest()[:15], 16)

    by_shard = {}
    for pos, i in enumerate(sorted(ids, key=lambda i: (h(i), str(i))), 1):
        by_shard.setdefault(pos % n_shards, []).append(i)
    # the manifest checksum xors the UNSALTED id hash (md5_long(str(id)))
    # — only the shuffle rank uses the salt
    exp = {
        s: (len(members), reduce(lambda a, i: a ^ _md5_60(str(i)), members, 0))
        for s, members in by_shard.items()
    }
    assert manifest == exp, (ids, n_shards)
    back = sorted(r.id for r in _spark.read.parquet(path).collect())
    assert back == sorted(ids)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 999), st.sampled_from(["en", "fr", "de"])),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    n=st.sampled_from([1, 3]),
)
def test_stratified_topn_matches_python(_spark, rows, n):
    """Exact-count stratified sampling replays: per stratum, the n
    smallest (md5(salt:id), id) ranks are kept — uniform within the
    stratum and engine-independent."""
    import hashlib

    from backend_spark.llm import stratified_topn

    df = _spark.createDataFrame(rows, "id long, lang string")
    got = sorted((r.id, r.lang) for r in stratified_topn(df, "id", "lang", n).collect())

    def h(i):
        return int(hashlib.md5(f"strat:{i}".encode()).hexdigest()[:15], 16)

    by_s = {}
    for i, s in rows:
        by_s.setdefault(s, []).append(i)
    exp = sorted(
        (i, s)
        for s, members in by_s.items()
        for i in sorted(members, key=lambda i: (h(i), i))[:n]
    )
    assert got == exp, (rows, n)


@settings(max_examples=8, deadline=None)
@given(
    bench=st.lists(st.text(alphabet="ab ", max_size=16), min_size=1, max_size=6),
    corpus=st.lists(st.text(alphabet="ab ", max_size=16), min_size=1, max_size=8),
)
def test_bloom_bits_and_decontaminate_match_python(_spark, bench, corpus):
    """The Bloom bitset packs replayable md5 positions into 32-bit
    words, and the probe's hit fraction — INCLUDING false positives —
    replays bit-for-bit; benchmark grams can never miss (no false
    negatives)."""
    from backend_spark.llm import bloom_bits, bloom_decontaminate

    N, M, K = 2, 64, 2
    bdf = _spark.createDataFrame([(t,) for t in bench], "text string")
    got_bits = {r.word: r.mask for r in bloom_bits(bdf, "text", n=N, m_bits=M, k=K).collect()}

    def grams_of(t):
        toks = _py_tokens(t)
        return {" ".join(toks[i : i + N]) for i in range(len(toks) - N + 1)}

    bench_grams = set().union(*(grams_of(t) for t in bench)) if bench else set()
    words = {}
    positions = set()
    for g in bench_grams:
        for i in range(K):
            p = _md5_60(f"{g}#{i}") % M
            positions.add(p)
            words[p // 32] = words.get(p // 32, 0) | (1 << (p % 32))
    assert got_bits == words, (bench,)

    cdf = _spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "id long, text string")
    got = {
        r.id: (r.n_grams, r.hit_frac, r.flagged)
        for r in bloom_decontaminate(cdf, bdf, "id", "text", n=N, m_bits=M, k=K).collect()
    }
    for i, t in enumerate(corpus):
        gs = grams_of(t)
        if not gs:
            assert i not in got
            continue
        hits = sum(
            1
            for g in gs
            if all((_md5_60(f"{g}#{j}") % M) in positions for j in range(K))
        )
        frac = hits / len(gs)
        assert got[i] == (len(gs), _round_half_up(frac, 6), frac >= 0.5), (bench, t)
        # no false negatives: a gram also in the benchmark always hits,
        # so the hit fraction is bounded below by the true-overlap share
        if gs & bench_grams:
            assert got[i][1] >= _round_half_up(len(gs & bench_grams) / len(gs), 6)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 999),                  # id
            st.sampled_from(["s1", "s2"]),        # group
            st.integers(0, 20),                   # size
            st.integers(0, 5),                    # priority
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([0, 10, 40]),
)
def test_budget_select_matches_python_greedy(_spark, rows, budget):
    """Per-group greedy budget replay: (priority desc, id asc) order,
    keep while the running size INCLUDING the row stays <= budget.
    cum_size accumulates over ALL preceding rows (kept or not), so a
    row that crosses the budget is dropped and the gate never re-opens
    for a group once the running total exceeds budget."""
    from backend_spark.llm import budget_select

    df = _spark.createDataFrame(rows, "id long, grp string, sz long, prio long")
    got = sorted((r.id, r.cum_size) for r in budget_select(df, "grp", "sz", budget, "prio", "id").collect())

    exp = []
    by_g = {}
    for i, g, s, p in rows:
        by_g.setdefault(g, []).append((i, s, p))
    for g, members in by_g.items():
        cum = 0
        for i, s, p in sorted(members, key=lambda t: (-t[2], t[0])):
            cum += s
            if cum <= budget:
                exp.append((i, cum))
    assert got == sorted(exp), (rows, budget)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab .!?", max_size=25), min_size=1, max_size=10),
)
def test_sentence_split_matches_python(_spark, texts):
    """Sentence segmentation replays with re.split on the identical
    pattern (non-capturing — java's split drops captured groups);
    sent_id is the pre-filter split position."""
    import re

    from backend_spark.llm import sentence_split

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = sorted(
        (r.id, r.sent_id, r.sentence, r.n_words)
        for r in sentence_split(df, "id", "text").collect()
    )
    exp = []
    for i, t in rows:
        parts = re.split(r"[.!?]+(?:\s+|$)", t)
        for j, p in enumerate(parts):
            s = p.strip()
            if s:
                exp.append((i, j, s, len(re.split(r"\s+", s))))
    assert got == sorted(exp), texts


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=8), min_size=1, max_size=8
    ),
    n=st.sampled_from([2, 3]),
)
def test_trim_duplicate_spans_matches_python(_spark, docs, n):
    """ExactSubstr-style span removal replays: tokens covered by any
    word n-gram present in >= min_docs distinct documents are deleted,
    the doc is rebuilt from survivors in order."""
    from backend_spark.llm import trim_duplicate_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_tokens, r.n_removed, r.text_clean)
        for r in trim_duplicate_spans(df, "id", "text", n=n, min_docs=2).collect()
    }
    gram_docs = {}
    for i, toks in enumerate(docs):
        for j in range(len(toks) - n + 1):
            gram_docs.setdefault(tuple(toks[j : j + n]), set()).add(i)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    for i, toks in enumerate(docs):
        if not toks:
            assert i not in got
            continue
        covered = set()
        for j in range(len(toks) - n + 1):
            if tuple(toks[j : j + n]) in dup:
                covered.update(range(j, j + n))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        assert got[i] == (len(toks), len(covered), " ".join(kept)), (docs, n, i)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abC é!", max_size=15), min_size=1, max_size=10),
)
def test_char_entropy_matches_python(_spark, texts):
    """H = ln(n) − Σ c·ln c / n over the normalized char histogram
    replays; the empty normalized string splits to one '' char."""
    import math

    from backend_spark.llm import char_entropy

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_chars_norm, r.entropy) for r in char_entropy(df, "id", "text").collect()}
    for i, t in rows:
        norm = _py_normalize(t)
        chars = list(norm) if norm else [""]
        c = {}
        for ch in chars:
            c[ch] = c.get(ch, 0) + 1
        nn = len(chars)
        s = sum(v * math.log(v) for v in c.values())
        ent = math.log(nn) - s / nn
        gn, ge = got[i]
        assert gn == nn, (t,)
        assert ge == pytest.approx(round(ent, 4), abs=2e-4), (t,)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc ", max_size=16), min_size=1, max_size=10),
    k=st.sampled_from([1, 2]),
)
def test_tfidf_topk_matches_python(_spark, texts, k):
    """Per-doc top-k TF-IDF terms replay: score = round(tf·ln(N/df), 4)
    with (score desc, term asc) ranking."""
    import math

    from backend_spark.llm import tfidf_topk_terms

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = sorted(
        (r.id, r.term, r.score, r.rank)
        for r in tfidf_topk_terms(df, "id", "text", k=k).collect()
    )
    tf = {}
    for i, t in rows:
        for w in _py_tokens(t):
            tf[(i, w)] = tf.get((i, w), 0) + 1
    dfreq = {}
    for (i, w), _c in tf.items():
        dfreq[w] = dfreq.get(w, 0) + 1
    n_docs = len({i for i, _ in rows})
    exp = []
    by_doc = {}
    for (i, w), c in tf.items():
        by_doc.setdefault(i, []).append((w, _round_half_up(c * math.log(n_docs / dfreq[w]), 4)))
    for i, terms in by_doc.items():
        terms.sort(key=lambda t: (-t[1], t[0]))
        for r, (w, s) in enumerate(terms[:k], 1):
            exp.append((i, w, s, r))
    assert got == sorted(exp), (texts, k)


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.text(alphabet="abA é.", max_size=8)),
        min_size=1,
        max_size=20,
    ),
)
def test_key_collision_matches_python(_spark, vals):
    """OpenRefine-style fingerprint clustering replays: key = sorted
    distinct normalized tokens, canonical = most frequent original
    variant with lexicographic tie-break; empty keys and NULLs drop."""
    from backend_spark.operators.er import key_collision

    df = _spark.createDataFrame([(v,) for v in vals], "name string")
    got = {
        r.key: (r.n_rows, r.n_variants, r.canonical)
        for r in key_collision(df, "name", min_variants=1).collect()
    }
    counts = {}
    for v in vals:
        if v is None:
            continue
        key = " ".join(sorted(set(_py_tokens(v))))
        if not key:
            continue
        counts.setdefault(key, {})
        counts[key][v] = counts[key].get(v, 0) + 1
    exp = {}
    for key, variants in counts.items():
        canon = sorted(variants.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        exp[key] = (sum(variants.values()), len(variants), canon)
    assert got == exp, (vals,)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=7), min_size=1, max_size=8
    ),
    n=st.sampled_from([2, 3]),
)
def test_dup_ngram_fraction_matches_python(_spark, docs, n):
    """Per-doc duplicate n-gram fraction replays: distinct word n-grams
    per doc, a gram is 'dup' when >= 2 docs contain it; short docs are
    absent."""
    from backend_spark.llm import dup_ngram_fraction

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_grams, r.dup_frac) for r in dup_ngram_fraction(df, "id", "text", n=n).collect()}

    gsets = {
        i: {tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        for i, toks in enumerate(docs)
    }
    owners = {}
    for i, gs in gsets.items():
        for g in gs:
            owners[g] = owners.get(g, 0) + 1
    for i, gs in gsets.items():
        if not gs:
            assert i not in got
            continue
        dup = sum(1 for g in gs if owners[g] > 1)
        assert got[i] == (len(gs), _round_half_up(dup / len(gs), 6)), (docs, n, i)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["en", "fr"]), st.integers(-20, 20)),
        min_size=1,
        max_size=25,
    ),
    q=st.sampled_from([0.25, 0.5, 0.9]),
)
def test_percentile_filter_matches_python(_spark, rows, q):
    """The per-group exact-percentile floor replays with numpy's linear
    interpolation (the same definition as Spark's percentile())."""
    import numpy as np

    from backend_spark.llm import percentile_filter

    data = [(i, g, float(v)) for i, (g, v) in enumerate(rows)]
    df = _spark.createDataFrame(data, "id long, grp string, score double")
    got = sorted(r.id for r in percentile_filter(df, "score", "grp", q=q).collect())

    by_g = {}
    for i, g, v in data:
        by_g.setdefault(g, []).append((i, v))
    exp = []
    for g, members in by_g.items():
        thr = float(np.percentile([v for _, v in members], q * 100, method="linear"))
        exp.extend(i for i, v in members if v >= thr)
    assert got == sorted(exp), (rows, q)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["the", "of", "el", "la", "der", "und", "le", "les", "zzz", "qqq"]),
            max_size=8,
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_language_id_matches_python_vote(_spark, texts):
    """Stopword-vote language id replays: per-language hit counts,
    argmax with first-language tie-break, zero hits -> 'und'."""
    from backend_spark.llm import STOPWORDS, language_id

    rows = [(i, " ".join(toks)) for i, toks in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.lang for r in df.select("id", language_id(F.col("text")).alias("lang")).collect()}
    langs = ("en", "es", "de", "fr")
    for i, toks in enumerate(texts):
        votes = {l: sum(1 for t in toks if t in STOPWORDS[l]) for l in langs}
        best = max(votes.values()) if votes else 0
        exp = "und" if best <= 0 else next(l for l in langs if votes[l] == best)
        assert got[i] == exp, (toks, votes)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab1 .,!", max_size=20), min_size=1, max_size=15),
)
def test_token_count_bpe_matches_python(_spark, texts):
    """The BPE-ish pre-tokenizer count replays with the identical regex
    in python re (ASCII input keeps java/python \\w in agreement)."""
    import re

    from backend_spark.llm import token_count_bpe

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.n for r in df.select("id", token_count_bpe(F.col("text")).alias("n")).collect()}
    for i, t in rows:
        assert got[i] == len(re.findall(r"\w+|[^\w\s]", t)), (t,)


_PII_FRAGS = [
    "bob@x.com", "a.b@mail.org", "10.0.0.1", "1.2.3.4", "123-45-6789",
    "555-123.4567", "555.123.4567", "plain", "word", "a@b", "1.2.3",
]


@settings(max_examples=10, deadline=None)
@given(
    frags=st.lists(st.sampled_from(_PII_FRAGS), min_size=0, max_size=8),
)
def test_pii_scan_matches_python(_spark, frags):
    """PII counts and the in-order redaction chain replay with python
    re on the same RE2-safe patterns."""
    import re

    from backend_spark.llm import PII_PATTERNS, pii_scan

    text = " ".join(frags)
    df = _spark.createDataFrame([(0, text)], "id long, text string")
    row = pii_scan(df, "id", "text").collect()[0]
    total = 0
    for name, pat, _ in PII_PATTERNS:
        c = len(re.findall(pat, text))
        assert row[f"n_{name}"] == c, (text, name)
        total += c
    assert row.pii_total == total
    red = text
    for _, pat, tok in PII_PATTERNS:
        red = re.sub(pat, tok, red)
    assert row.text_redacted == red, (text,)


@settings(max_examples=8, deadline=None)
@given(
    corpus=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=6), min_size=1, max_size=8
    ),
    bench=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=5), min_size=1, max_size=4
    ),
)
def test_decontaminate_matches_python(_spark, corpus, bench):
    """Benchmark decontamination replays: per-doc count of DISTINCT
    word n-grams shared with the benchmark set; gram-free docs report
    0/False (never absent)."""
    from backend_spark.llm import decontaminate

    N = 2
    cdf = _spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(corpus)], "id long, text string"
    )
    bdf = _spark.createDataFrame([(" ".join(t),) for t in bench], "text string")
    got = {
        r.id: (r.n_contaminated_ngrams, r.contaminated)
        for r in decontaminate(cdf, "id", "text", bdf, n=N).collect()
    }

    def grams(toks):
        return {tuple(toks[j : j + N]) for j in range(len(toks) - N + 1)}

    bench_grams = set().union(*(grams(t) for t in bench)) if bench else set()
    assert set(got) == set(range(len(corpus)))
    for i, toks in enumerate(corpus):
        n_hit = len(grams(toks) & bench_grams)
        assert got[i] == (n_hit, n_hit > 0), (corpus, bench, i)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab the of,.", max_size=25), min_size=1, max_size=10),
)
def test_text_stats_matches_python(_spark, texts):
    """token count / mean token length / stopword ratio / punctuation
    ratio replay — note text_stats tokenizes the RAW text (whitespace
    split, no normalize), and punct counts [^\\w\\s] over raw chars."""
    import re

    from backend_spark.llm import text_stats

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_tokens, r.mean_token_len, r.stopword_ratio, r.punct_ratio)
        for r in df.select("id", *text_stats(df, "text")).collect()
    }
    stop_en = {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"}
    for i, t in rows:
        trimmed = t.strip()
        toks = re.split(r"\s+", trimmed) if trimmed else []
        n = len(toks)
        safe = max(float(n), 1.0)
        mean_len = _round_half_up(sum(len(w) for w in toks) / safe, 6)
        stop = _round_half_up(sum(1 for w in toks if w in stop_en) / safe, 6)
        punct = _round_half_up(
            len(re.findall(r"[^\w\s]", t)) / max(float(len(t)), 1.0), 6
        )
        assert got[i] == (n, mean_len, stop, punct), (t, got[i])


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=8), min_size=1, max_size=10
    ),
)
def test_repetition_stats_matches_python(_spark, docs):
    """Gopher repetition fractions replay: duplicate-word/-bigram
    fractions from distinct counts, modal-bigram share from the per-doc
    gram histogram; empty docs score all-zero."""
    from backend_spark.llm import repetition_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_words, r.dup_word_frac, r.dup_ngram_frac, r.top_ngram_frac)
        for r in repetition_stats(df, "id", "text").collect()
    }
    for i, toks in enumerate(docs):
        grams = [tuple(toks[j : j + 2]) for j in range(len(toks) - 1)]

        def dup_frac(xs):
            return 0.0 if not xs else _round_half_up(1.0 - len(set(xs)) / len(xs), 6)

        if grams:
            c = {}
            for g in grams:
                c[g] = c.get(g, 0) + 1
            top = _round_half_up(max(c.values()) / len(grams), 6)
        else:
            top = 0.0
        assert got[i] == (len(toks), dup_frac(toks), dup_frac(grams), top), (docs, i)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                [
                    "Good line with many words here.",
                    "short.",
                    "no terminal punct at all",
                    "uses javascript inside a long line.",
                    'quoted line with enough words here"',
                    "lorem ipsum marker in this line.",
                    "curly { brace line with words here.",
                ]
            ),
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_c4_line_filter_matches_python(_spark, docs):
    """C4 line rules replay: terminal punctuation, >= min_words words,
    no line-drop terms; doc gate on drop terms anywhere in the raw
    text or < min_kept_lines survivors."""
    import re

    from backend_spark.llm import c4_line_filter

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_lines, r.n_kept, r.keep_doc, r.text_clean)
        for r in c4_line_filter(df, "id", "text").collect()
    }
    for i, _lines in enumerate(docs):
        text = "\n".join(_lines)
        lines = text.split("\n")

        def ok(ln):
            t = ln.strip()
            return (
                bool(re.search(r'[.!?"]$', t))
                and len(re.split(r"\s+", t)) >= 5
                and "javascript" not in ln.lower()
            )

        kept = [ln for ln in lines if ok(ln)]
        keep_doc = (
            len(kept) >= 3
            and "lorem ipsum" not in text.lower()
            and "{" not in text.lower()
        )
        assert got[i] == (len(lines), len(kept), keep_doc, "\n".join(kept)), (docs, i)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab c!", max_size=16), min_size=1, max_size=12),
    max_rate=st.sampled_from([0.0, 0.5]),
)
def test_blocklist_hit_rate_matches_python(_spark, texts, max_rate):
    """Blocklist token-hit fraction replays over the normalized token
    stream; empty docs score 0 and keep."""
    from backend_spark.llm import blocklist_hit_rate

    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_tokens, r.n_hits, r.hit_rate, r.keep)
        for r in blocklist_hit_rate(df, "id", "text", ["c", "ab"], max_rate=max_rate).collect()
    }
    for i, t in rows:
        toks = _py_tokens(t)
        hits = sum(1 for w in toks if w in ("c", "ab"))
        rate = _round_half_up(hits / len(toks), 6) if toks else 0.0
        assert got[i] == (len(toks), hits, rate, rate <= max_rate), (t, max_rate)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=6), min_size=1, max_size=8
    ),
)
def test_ngram_novelty_matches_python(_spark, docs):
    """First-occurrence novelty replays: a doc's distinct n-gram is
    novel iff the minimum doc id containing it is this doc."""
    from backend_spark.llm import ngram_novelty

    N = 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: (r.n_grams, r.novel_frac) for r in ngram_novelty(df, "id", "text", n=N).collect()}

    gsets = {
        i: {tuple(toks[j : j + N]) for j in range(len(toks) - N + 1)}
        for i, toks in enumerate(docs)
    }
    first = {}
    for i in sorted(gsets):
        for g in gsets[i]:
            first.setdefault(g, i)
    for i, gs in gsets.items():
        if not gs:
            assert i not in got
            continue
        nov = sum(1 for g in gs if first[g] == i)
        assert got[i] == (len(gs), _round_half_up(nov / len(gs), 6)), (docs, i)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=10), min_size=1, max_size=10
    ),
    min_count=st.sampled_from([2, 3]),
)
def test_freq_phrases_matches_python_closed_mining(_spark, docs, min_count):
    """Closed frequent-phrase mining replays: level counts with the
    min_count cutoff, then prune any phrase whose one-word prefix- or
    suffix-extension (itself above the cutoff) occurs >= as often."""
    from backend_spark.llm import freq_phrases

    N_MIN, N_MAX = 2, 3
    df = _spark.createDataFrame([(" ".join(t),) for t in docs], "text string")
    got = sorted(
        (r.phrase, r.n, r.cnt)
        for r in freq_phrases(df, "text", n_min=N_MIN, n_max=N_MAX, min_count=min_count).collect()
    )

    counts = {}
    for n in range(N_MIN, N_MAX + 2):
        for toks in docs:
            for j in range(len(toks) - n + 1):
                p = " ".join(toks[j : j + n])
                counts.setdefault(n, {})
                counts[n][p] = counts[n].get(p, 0) + 1
    passed = {n: {p: c for p, c in lvl.items() if c >= min_count} for n, lvl in counts.items()}
    kill = {}
    for n in range(N_MIN + 1, N_MAX + 2):
        for p, c in passed.get(n, {}).items():
            ws = p.split(" ")
            for sub in (" ".join(ws[: n - 1]), " ".join(ws[1:])):
                kill[sub] = max(kill.get(sub, 0), c)
    exp = sorted(
        (p, n, c)
        for n in range(N_MIN, N_MAX + 1)
        for p, c in passed.get(n, {}).items()
        if kill.get(p, 0) < c
    )
    assert got == exp, (docs, min_count, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="ab the of#. ", max_size=30), min_size=1, max_size=8),
)
def test_quality_filter_matches_python(_spark, texts):
    """The composite C4/Gopher gate replays rule-by-rule: word bounds,
    mean word length, symbol-to-word ratio, stopword evidence, dup-
    bigram cap, and keep = AND of all (thresholds loosened so both
    branches exercise)."""
    import re

    from backend_spark.llm import quality_filter

    kw = dict(
        min_words=2, max_words=20, min_mean_word_len=1.0, max_mean_word_len=3.0,
        max_symbol_word_ratio=0.5, min_stopword_hits=1, max_dup_ngram_frac=0.5,
    )
    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.n_words, r.mean_word_len, r.symbol_word_ratio, r.stop_hits, r.dup_ngram_frac, r.keep)
        for r in quality_filter(df, "id", "text", **kw).collect()
    }
    stop_en = {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for"}
    for i, t in rows:
        toks = _py_tokens(t)
        n = len(toks)
        safe = max(float(n), 1.0)
        mean_len = _round_half_up(sum(map(len, toks)) / safe, 6)
        sym = _round_half_up(len(re.findall(r"[#%@$^*+=~|<>]", t)) / safe, 6)
        hits = sum(1 for w in toks if w in stop_en)
        grams = [tuple(toks[j : j + 2]) for j in range(n - 1)]
        dup = 0.0 if not grams else _round_half_up(1.0 - len(set(grams)) / len(grams), 6)
        keep = (
            kw["min_words"] <= n <= kw["max_words"]
            and kw["min_mean_word_len"] <= mean_len <= kw["max_mean_word_len"]
            and sym <= kw["max_symbol_word_ratio"]
            and hits >= kw["min_stopword_hits"]
            and dup <= kw["max_dup_ngram_frac"]
        )
        assert got[i] == (n, mean_len, sym, hits, dup, keep), (t, got[i])


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.lists(
                st.floats(min_value=-5, max_value=5, allow_nan=False, width=32),
                min_size=3,
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=15,
    ),
)
def test_group_centroid_matches_python_quantized(_spark, rows):
    """The hash-exact centroid replays: per-component quantize to
    round(x*qscale) BIGINT, integer sums, then the fixed double chain
    (sum/qscale)/n rounded to 6."""
    from backend_spark.llm import group_centroid

    data = [(g, [float(x) for x in v]) for g, v in rows]
    df = _spark.createDataFrame(data, "grp string, vec array<double>")
    got = {r.grp: (r.n_vecs, list(r.centroid)) for r in group_centroid(df, "grp", "vec").collect()}

    by_g = {}
    for g, v in data:
        by_g.setdefault(g, []).append(v)
    for g, vecs in by_g.items():
        comps = []
        for d in range(3):
            s = sum(int(_round_half_up(v[d] * 1e6, 0)) for v in vecs)
            comps.append(_round_half_up((s / 1e6) / len(vecs), 6))
        assert got[g][0] == len(vecs)
        assert got[g][1] == pytest.approx(comps, abs=2e-6), (rows, g)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc", min_size=1, max_size=12), min_size=2, max_size=10, unique=True),
    threshold=st.sampled_from([0.3, 0.8]),
)
def test_minhash_lsh_pairs_full_bit_replay(_spark, texts, threshold):
    """The entire LSH pair pipeline replays bit-for-bit in python:
    md5 shingle hashes, XOR-min permutations with md5('perm#i')
    constants, band keys, candidate generation, exact-Jaccard verify.
    LSH recall randomness is fully deterministic here — even missed
    pairs must be missed identically."""
    from backend_spark.llm import minhash_lsh_pairs

    NUM_PERM, BANDS, SH_N = 8, 4, 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = sorted(
        (r.id1, r.id2, r.jaccard)
        for r in minhash_lsh_pairs(
            df, "id", "text", num_perm=NUM_PERM, bands=BANDS,
            shingle_n=SH_N, jaccard_threshold=threshold,
        ).collect()
    )

    def shingles(t):
        s = _py_normalize(t)
        if len(s) <= SH_N:
            return [s] if s or True else []
        seen, out = set(), []
        for j in range(len(s) - SH_N + 1):
            g = s[j : j + SH_N]
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    perm = [_md5_60(f"perm#{i}") for i in range(NUM_PERM)]
    hs = {i: [_md5_60(g) for g in shingles(t)] for i, t in rows}
    sig = {i: [min(h ^ p for h in hlist) for p in perm] for i, hlist in hs.items() if hlist}
    rpb = NUM_PERM // BANDS
    buckets = {}
    for i, s in sig.items():
        for b in range(BANDS):
            key = (b, "-".join(str(x) for x in s[b * rpb : (b + 1) * rpb]))
            buckets.setdefault(key, []).append(i)
    cands = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    cands.add((a, b))
    exp = []
    for a, b in sorted(cands):
        s1, s2 = set(hs[a]), set(hs[b])
        inter = len(s1 & s2)
        jac = _round_half_up(inter / (len(s1) + len(s2) - inter), 6)
        if jac >= threshold:
            exp.append((a, b, jac))
    assert got == sorted(exp), (texts, threshold, got, exp)


@settings(max_examples=8, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.integers(-5, 5), min_size=4, max_size=4),
        min_size=3,
        max_size=12,
        unique_by=lambda v: tuple(v),
    ),
    k=st.sampled_from([1, 3]),
)
def test_ann_topk_bruteforce_matches_numpy(_spark, vecs, k):
    """Exact cosine top-k replays against numpy: per query, neighbors
    ranked by (cosine desc, id asc); zero vectors produce NULL cosine
    and sort last (Spark desc places NULL last)."""
    import numpy as np

    from backend_spark.llm import ann_topk_bruteforce

    data = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = _spark.createDataFrame(data, "vec_id long, embedding array<double>")
    qdf = df.limit(2)
    got = sorted(
        (r.query_id, r.neighbor_id, r.cosine)
        for r in ann_topk_bruteforce(df, qdf, k=k).collect()
    )

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na == 0 or nb == 0:
            return None
        return _round_half_up(float(np.dot(a, b) / (na * nb)), 6)

    arr = {i: np.array(v, dtype=float) for i, v in data}
    exp = []
    for q in sorted(arr)[:2]:
        scored = [(cos(arr[q], arr[n]), n) for n in arr if n != q]
        # cosine desc with NULL last, neighbor id asc
        scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        for c, n in scored[:k]:
            exp.append((q, n, c))
    assert got == sorted(exp), (vecs, k, got, exp)


def test_cosine_zero_vector_is_null_not_crash(_spark):
    """Deterministic regression for the round-13 ANSI DIVIDE_BY_ZERO bug
    (functions/__init__.py cosine_similarity): a zero-norm embedding must
    yield NULL cosine (try_divide), sort last under desc, and never abort
    the query — the exact case hypothesis drew in the property test above,
    pinned so it runs on every suite pass without the fuzz budget."""
    from backend_spark.llm import ann_topk_bruteforce

    data = [
        (0, [0.0, 0.0, 0.0]),  # zero-norm query AND corpus vector
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [1.0, 1.0, 0.0]),
    ]
    df = _spark.createDataFrame(data, "vec_id long, embedding array<double>")
    got = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in ann_topk_bruteforce(df, df, k=3).collect()
    }
    # zero-vector query: every cosine NULL, all neighbors still returned
    assert got[(0, 1)] is None and got[(0, 2)] is None and got[(0, 3)] is None
    # zero-vector corpus entry is NULL for other queries and ranks last
    assert got[(1, 0)] is None
    assert got[(1, 3)] == 0.707107 and got[(1, 2)] == 0.0


# -- eval tier-1 compiler fuzz: random expression trees rendered to
# -- source, compiled to Columns, and cross-checked against python eval
# -- row-by-row (the reference's semantics ARE python eval).

_EXPR_LEAVES_NUM = ["a", "b", "0", "1", "2", "5", "len(s)"]
_EXPR_LEAVES_BOOL = ["a < b", "a == b", "b >= 2", "s == 'ab'", "'a' in s"]


def _num_expr(depth):
    if depth <= 0:
        return st.sampled_from(_EXPR_LEAVES_NUM)
    sub = _num_expr(depth - 1)
    return st.one_of(
        st.sampled_from(_EXPR_LEAVES_NUM),
        st.tuples(sub, st.sampled_from(["+", "-", "*", "/"]), sub).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        st.tuples(_bool_expr(depth - 1), sub, sub).map(
            lambda t: f"({t[1]} if {t[0]} else {t[2]})"
        ),
        sub.map(lambda e: f"(-{e})"),
    )


def _bool_expr(depth):
    if depth <= 0:
        return st.sampled_from(_EXPR_LEAVES_BOOL)
    sub = _bool_expr(depth - 1)
    n = _num_expr(depth - 1)
    return st.one_of(
        st.sampled_from(_EXPR_LEAVES_BOOL),
        st.tuples(sub, st.sampled_from(["and", "or"]), sub).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
        sub.map(lambda e: f"(not {e})"),
        st.tuples(n, st.sampled_from(["<", "<=", ">", ">=", "==", "!="]), n).map(
            lambda t: f"({t[0]} {t[1]} {t[2]})"
        ),
    )


@settings(max_examples=30, deadline=None)
@given(expr=st.one_of(_num_expr(3), _bool_expr(3)))
def test_eval_tier1_compiler_matches_python_eval(_spark, expr):
    """Fuzz the tier-1 AST->Column compiler: any expression in the
    grammar (arithmetic incl. try_divide'd /, ternaries, boolean logic,
    comparisons, len, string equality/membership) must produce exactly
    python eval's value per row — with ZeroDivisionError mapping to
    NULL (the reference's safeeval per-row error contract)."""
    from backend_spark.expr.compiler import compile_expr

    rows = [
        (0, 0, ""), (1, 2, "ab"), (2, 1, "ba"), (3, 3, "abc"), (5, 0, "a"), (6, 4, "ab"),
    ]
    df = _spark.createDataFrame(rows, "a long, b long, s string")
    got = [r.v for r in df.select(compile_expr(expr, df).alias("v")).collect()]

    exp = []
    for a, b, s in rows:
        try:
            v = eval(expr, {"__builtins__": {"len": len}}, {"a": a, "b": b, "s": s})
        except ZeroDivisionError:
            v = None
        exp.append(v)

    assert len(got) == len(exp)
    for g, e, row in zip(got, exp, rows):
        if e is None:
            assert g is None, (expr, row, g)
        elif isinstance(e, bool):
            assert bool(g) == e, (expr, row, g)
        elif isinstance(e, float) or isinstance(g, float):
            assert g == pytest.approx(e, rel=1e-12, abs=1e-12), (expr, row, g)
        else:
            assert g == e, (expr, row, g)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abcd ", max_size=20), min_size=1, max_size=8),
    window=st.sampled_from([2, 4]),
)
def test_doc_fingerprint_matches_python_winnowing(_spark, texts, window):
    """Winnowing replays: char k-gram md5 hashes, rolling window min,
    sorted distinct mins — including the short-text whole-string gram
    and the shorter-than-window rolling edge."""
    from backend_spark.llm import doc_fingerprint

    K = 5
    rows = [(i, t) for i, t in enumerate(texts)]
    df = _spark.createDataFrame(rows, "id long, text string")
    got = {r.id: list(r.fp) for r in doc_fingerprint(df, "id", "text", k=K, window=window).collect()}
    for i, t in rows:
        s = _py_normalize(t)
        grams = [s] if len(s) <= K else [s[j : j + K] for j in range(len(s) - K + 1)]
        hs = [_md5_60(g) for g in grams]
        n_win = max(len(hs) - (window - 1), 1)
        mins = [min(hs[j : j + window]) for j in range(n_win)]
        assert got[i] == sorted(set(mins)), (t, window)


@settings(max_examples=10, deadline=None)
@given(
    toks=st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=8),
)
def test_simhash64_matches_python_bit_replay(_spark, toks):
    """The simhash pack replays bit-for-bit: per-bit +-1 votes from the
    60-bit md5 hash of each token, sign-packed into a bigint."""
    from backend_spark import functions as fn

    df = _spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(fn.simhash64(F.col("toks")).alias("h")).collect()[0].h

    bits = 60
    votes = [0] * bits
    for t in toks:
        h = _md5_60(t)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    exp = 0
    for i in range(bits):
        if votes[i] > 0:
            exp |= 1 << i
    assert got == exp, (toks, got, exp)


_STREAM_SEQ = [0]


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                                   # key
            st.one_of(st.none(), st.integers(-10, 10)),          # value
        ),
        min_size=2,
        max_size=16,
    ),
    n_files=st.sampled_from([2, 3]),
)
def test_locf_stream_multibatch_equals_batch(_spark, rows, n_files, tmp_path_factory):
    """State carried across micro-batches: LOCF over an in-order stream
    split at arbitrary batch boundaries equals batch fill_forward —
    the second batch's leading NULLs fill from the first batch's tail."""
    import os

    from backend_spark import streaming
    from backend_spark.features import fill_forward

    data = [
        (i, k, i * 10, None if v is None else float(v))
        for i, (k, v) in enumerate(rows)
    ]
    root = str(tmp_path_factory.mktemp("locf"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    per = max(1, len(data) // n_files)
    for fi in range(0, len(data), per):
        _spark.createDataFrame(
            data[fi : fi + per],
            "event_id long, user_id long, us long, value double",
        ).coalesce(1).write.parquet(f"{src}/f{fi:04d}")
    sdf = streaming.read_stream(
        _spark, src + "/*", max_files_per_trigger=1,
        schema="event_id long, user_id long, us long, value double",
    )
    _STREAM_SEQ[0] += 1
    name = f"t_locf_prop_{_STREAM_SEQ[0]}"
    out = streaming.locf_stream(sdf, "user_id", "us", "value", tiebreak_col="event_id")
    streaming.run_to_memory(out, name, checkpoint=os.path.join(root, "ck"))
    got = {
        (r.user_id, r.us): r.value
        for r in _spark.sql(f"SELECT user_id, us, value FROM {name}").collect()
    }
    bdf = _spark.createDataFrame(data, "event_id long, user_id long, us long, value double")
    want = {
        (r.user_id, r.us): r.value
        for r in fill_forward(bdf, "user_id", ["us", "event_id"], "value").collect()
    }
    assert got == want, (rows, n_files)


@settings(max_examples=5, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-6, 6)), min_size=2, max_size=14
    ),
    n_files=st.sampled_from([2, 3]),
)
def test_cusum_stream_multibatch_matches_python_recursion(_spark, vals, n_files, tmp_path_factory):
    """The exact-integer CUSUM recursion survives micro-batch
    boundaries: S_hi/S_lo carried in the state store reproduce the
    single-pass python fold regardless of where batches split; NULLs
    carry the standing statistic."""
    import math
    import os

    from backend_spark import streaming

    TARGET, K, H, SCALE = 1.0, 0.5, 3.0, 1_000_000
    data = [(i, 0, i * 10, None if v is None else float(v)) for i, v in enumerate(vals)]
    root = str(tmp_path_factory.mktemp("cusum"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    per = max(1, len(data) // n_files)
    for fi in range(0, len(data), per):
        _spark.createDataFrame(
            data[fi : fi + per],
            "event_id long, user_id long, us long, value double",
        ).coalesce(1).write.parquet(f"{src}/f{fi:04d}")
    sdf = streaming.read_stream(
        _spark, src + "/*", max_files_per_trigger=1,
        schema="event_id long, user_id long, us long, value double",
    )
    _STREAM_SEQ[0] += 1
    name = f"t_cusum_prop_{_STREAM_SEQ[0]}"
    out = streaming.cusum_stream(
        sdf, "user_id", "us", "value", target=TARGET, k=K, h=H,
        scale=SCALE, tiebreak_col="event_id",
    )
    streaming.run_to_memory(out, name, checkpoint=os.path.join(root, "ck"))
    got = {
        r.us: (r.cusum_hi, r.cusum_lo, r.cusum_alarm)
        for r in _spark.sql(f"SELECT us, cusum_hi, cusum_lo, cusum_alarm FROM {name}").collect()
    }

    def half_up(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))

    s_hi = s_lo = 0
    h_scaled = int(round(H * SCALE))
    for i, v in enumerate(vals):
        if v is not None:
            s_hi = max(0, s_hi + half_up((v - TARGET - K) * SCALE))
            s_lo = max(0, s_lo + half_up((TARGET - v - K) * SCALE))
        exp = (
            round(s_hi / SCALE, 6),
            round(s_lo / SCALE, 6),
            int(s_hi > h_scaled or s_lo > h_scaled),
        )
        assert got[i * 10] == exp, (vals, i, got[i * 10], exp)


# -- function-catalog tail: exports with no in-repo caller still carry
# -- the reference contract (tools.py semantics) and must stay correct.


@settings(max_examples=15, deadline=None)
@given(
    a=st.text(alphabet="abcd", max_size=7),
    b=st.text(alphabet="abcd", max_size=7),
)
def test_damerau_levenshtein_udf_matches_python_osa(_spark, a, b):
    """The Arrow Damerau UDF equals an independently written OSA DP,
    and transposition costs exactly 1 where plain Levenshtein says 2."""
    from backend_spark import functions as fn

    def osa(x, y):
        import itertools

        d = {(-1, -1): 0}
        for i in range(len(x)):
            d[(i, -1)] = i + 1
        for j in range(len(y)):
            d[(-1, j)] = j + 1
        for i, j in itertools.product(range(len(x)), range(len(y))):
            cost = 0 if x[i] == y[j] else 1
            best = min(d[(i - 1, j)] + 1, d[(i, j - 1)] + 1, d[(i - 1, j - 1)] + cost)
            if i > 0 and j > 0 and x[i] == y[j - 1] and x[i - 1] == y[j]:
                best = min(best, d[(i - 2, j - 2)] + cost)
            d[(i, j)] = best
        return d[(len(x) - 1, len(y) - 1)]

    df = _spark.createDataFrame([(a, b)], "a string, b string")
    got = df.select(fn.damerau_levenshtein(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert got == osa(a, b), (a, b)
    # symmetry via the same engine path
    rev = df.select(fn.damerau_levenshtein(F.col("b"), F.col("a")).alias("d")).collect()[0].d
    assert rev == got, (a, b)


def test_function_catalog_tail_contracts(spark):
    """Direct contracts for the no-caller exports: row_hash
    (sha256-of-json stability + sensitivity), strptime_to_java /
    parsedate (coerce-to-null), minhash_signature (== staged
    from_hashes path == python replay), geopoint WKT extraction,
    haversine_km (python formula replay), float_val fallback,
    levenshtein_norm_max (best pair over list cross-product)."""
    import hashlib
    import json
    import math

    from backend_spark import functions as fn

    df = spark.createDataFrame([(1, "x"), (2, "x"), (1, "y")], "a long, s string")
    hashes = [r.h for r in df.select(fn.row_hash(F.col("a"), F.col("s")).alias("h")).collect()]
    assert len(set(hashes)) == 3  # any column change changes the hash
    exp0 = hashlib.sha256(json.dumps({"a": 1, "s": "x"}, separators=(",", ":")).encode()).hexdigest()
    assert hashes[0] == exp0  # replayable: sha256 of Spark's compact JSON

    assert fn.strptime_to_java("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
    d2 = spark.createDataFrame(
        [("20240229",), ("20230229",), ("garbage",)], "s string"
    ).select(fn.parsedate(F.col("s")).alias("ts"))
    vals = [r.ts for r in d2.collect()]
    assert vals[0] is not None and str(vals[0])[:10] == "2024-02-29"
    assert vals[1] is None and vals[2] is None  # coerce, not raise

    toks = spark.createDataFrame([(["ab", "cd", "ef"],)], "t array<string>")
    got_sig = toks.select(fn.minhash_signature(F.col("t"), 4).alias("g")).collect()[0].g
    staged = toks.select(
        fn.minhash_signature_from_hashes(
            F.transform(F.col("t"), lambda x: fn.md5_long(x)), 4
        ).alias("g")
    ).collect()[0].g
    perm = [
        int(hashlib.md5(f"perm#{i}".encode()).hexdigest()[:15], 16) for i in range(4)
    ]
    hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in ("ab", "cd", "ef")]
    exp_sig = [min(h ^ p for h in hs) for p in perm]
    assert list(got_sig) == list(staged) == exp_sig

    g = spark.createDataFrame([("POINT(2.35 48.85)",)], "wkt string").select(
        fn.geopoint_lon(F.col("wkt")).alias("lon"), fn.geopoint_lat(F.col("wkt")).alias("lat")
    ).collect()[0]
    assert (g.lon, g.lat) == (2.35, 48.85)

    pts = spark.createDataFrame([(48.85, 2.35, 51.51, -0.13)], "lat1 double, lon1 double, lat2 double, lon2 double")
    km = pts.select(fn.haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("km")).collect()[0].km
    rl1, rl2 = math.radians(48.85), math.radians(51.51)
    dlat, dlon = math.radians(51.51 - 48.85) / 2, math.radians(-0.13 - 2.35) / 2
    a = math.sin(dlat) ** 2 + math.cos(rl1) * math.cos(rl2) * math.sin(dlon) ** 2
    assert km == round(2.0 * 6371.0088 * math.asin(math.sqrt(a)), 1)  # Paris-London ~343.6

    # underscore vectors: PEP 515 grouping that python's float() takes
    # ('1_0', '1_000.5', '1e1_0') plus the rejections it raises on
    # ('1__0', '_1', '1_') — each must match float(x)-with-0.0-fallback
    fv_vecs = ["3.5", "nope", None, "1_0", "1_000.5", "1e1_0", "1__0", "_1", "1_"]

    def _py_float_val(x):
        try:
            return float(x)
        except (TypeError, ValueError):
            return 0.0

    fv = spark.createDataFrame([(s,) for s in fv_vecs], "s string").select(
        fn.float_val(F.col("s")).alias("v")
    ).collect()
    assert [r.v for r in fv] == [_py_float_val(s) for s in fv_vecs]

    lnm = spark.createDataFrame(
        [(["martha", "marta"], ["marhta"])], "a array<string>, b array<string>"
    ).select(fn.levenshtein_norm_max(F.col("a"), F.col("b")).alias("m")).collect()[0].m

    def norm(x, y):
        import math as _m

        lv_prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i] + [0] * len(y)
            for j, cy in enumerate(y, 1):
                cur[j] = min(lv_prev[j] + 1, cur[j - 1] + 1, lv_prev[j - 1] + (cx != cy))
            lv_prev = cur
        lv = lv_prev[-1]
        raw = 100.0 - 100.0 * lv / (1.0 + min(len(x), len(y)))
        # F.rint = round-half-even on the double
        f = _m.floor(raw)
        frac = raw - f
        if frac > 0.5 or (frac == 0.5 and f % 2 == 1):
            f += 1
        return f / 100.0

    assert lnm == max(norm(x, y) for x in ("martha", "marta") for y in ("marhta",))


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 9999),
            st.text(alphabet='ab,"; x', max_size=10),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    fmt=st.sampled_from(["csv", "jsonl", "orc"]),
)
def test_dataset_roundtrip_property(_spark, rows, fmt, tmp_path_factory):
    """write_dataset -> read_dataset round-trips arbitrary strings
    (separators, quotes, blanks) for csv/jsonl/orc.  csv collapses
    empty string to NULL on read (the documented stringly contract) —
    every other value survives byte-identically."""
    import os

    from backend_spark.sources import read_dataset, write_dataset

    path = os.path.join(str(tmp_path_factory.mktemp("rt")), "d")
    df = _spark.createDataFrame(rows, "id long, s string")
    write_dataset(df, path, fmt=fmt)
    schema = "id long, s string" if fmt != "csv" else None
    back = read_dataset(_spark, path, fmt=fmt, schema=schema)
    got = {r.id if not isinstance(r.id, str) else int(r.id): r.s for r in back.collect()}
    exp = {i: (None if fmt == "csv" and s == "" else s) for i, s in rows}
    assert {int(k): v for k, v in got.items()} == exp, (rows, fmt)


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 999), st.text(alphabet="abx ", max_size=6)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
)
def test_fwf_roundtrip_property(_spark, rows, tmp_path_factory):
    """Fixed-width write -> read round-trips: rpad on write, substring
    + trim on read, so values survive modulo the documented trailing-
    space trim."""
    import os

    from backend_spark.sources import read_dataset, write_dataset

    widths = [("id", 8), ("s", 10)]
    path = os.path.join(str(tmp_path_factory.mktemp("fwf")), "d")
    df = _spark.createDataFrame(rows, "id long, s string")
    write_dataset(df, path, fmt="fwf", fwf_widths=widths)
    back = read_dataset(_spark, path, fmt="fwf", fwf_widths=widths, empty_as_null=True)
    got = {int(r.id): r.s for r in back.collect()}
    exp = {i: (s.strip() if s.strip() else None) for i, s in rows}
    assert got == exp, (rows,)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=6),
        min_size=2,
        max_size=8,
    ),
    queries=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=3),
        min_size=1,
        max_size=3,
    ),
    k=st.sampled_from([2, 5]),
)
def test_bm25_topk_matches_python(_spark, docs, queries, k):
    """Lucene BM25 replays: idf = ln(1+(N-df+.5)/(df+.5)), tf saturation
    with length normalization against the corpus avgdl, summed over
    distinct query terms, ranked on (rounded score desc, doc id)."""
    import math

    from backend_spark.llm import bm25_topk

    K1, B = 1.2, 0.75
    ddf = _spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    qdf = _spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(queries)], "query_id long, text string"
    )
    got = sorted(
        (r.query_id, r.hit_id, r.score)
        for r in bm25_topk(qdf, ddf, "query_id", "doc_id", k=k).collect()
    )

    tf = {}
    dl = {}
    for i, toks in enumerate(docs):
        dl[i] = len(toks)
        for w in toks:
            tf[(i, w)] = tf.get((i, w), 0) + 1
    dfreq = {}
    for (i, w) in tf:
        dfreq[w] = dfreq.get(w, 0) + 1
    n, avgdl = len(docs), sum(dl.values()) / len(docs)
    exp = []
    for qi, qtoks in enumerate(queries):
        scored = []
        for di in dl:
            s = 0.0
            for w in set(qtoks):
                if (di, w) in tf:
                    idf = math.log(1.0 + (n - dfreq[w] + 0.5) / (dfreq[w] + 0.5))
                    f = tf[(di, w)]
                    s += idf * (f * (K1 + 1)) / (f + K1 * (1 - B + B * dl[di] / avgdl))
            if s > 0:
                scored.append((_round_half_up(s, 4), di))
        scored.sort(key=lambda t: (-t[0], t[1]))
        exp.extend((qi, di, s) for s, di in scored[:k])
    assert got == sorted(exp), (docs, queries, k)


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)),
        min_size=1,
        max_size=20,
    ),
)
def test_zorder_key_matches_python_morton(_spark, pts):
    """The Morton interleave replays: bit j of column i lands at
    position j*n+i, and sorting by the key groups spatially-near rows."""
    from backend_spark.scale import zorder_key

    df = _spark.createDataFrame(pts, "x long, y long")
    got = [r.z for r in df.select(zorder_key(["x", "y"], bits=10).alias("z")).collect()]
    for (x, y), z in zip(pts, got):
        exp = 0
        for j in range(10):
            exp |= ((x >> j) & 1) << (j * 2)
            exp |= ((y >> j) & 1) << (j * 2 + 1)
        assert z == exp, (x, y, z, exp)


@settings(max_examples=10, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 12)), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 12)), min_size=1, max_size=12
    ),
    bin_width=st.sampled_from([2.0, 5.0]),
)
def test_interval_join_matches_bruteforce(_spark, lefts, rights, bin_width):
    """The binned interval join finds exactly the brute-force half-open
    overlaps (l.lo < r.hi AND r.lo < l.hi), each pair exactly once —
    the first-shared-bin dedup rule leaves no duplicates and loses no
    pair."""
    from backend_spark.operators.joins import interval_join

    l = _spark.createDataFrame(
        [(i, float(lo), float(lo + n)) for i, (lo, n) in enumerate(lefts)],
        "lid long, lo double, hi double",
    )
    r = _spark.createDataFrame(
        [(j, float(lo), float(lo + n)) for j, (lo, n) in enumerate(rights)],
        "rid long, lo double, hi double",
    )
    out = interval_join(l, r, "lo", "hi", "lo", "hi", bin_width=bin_width)
    got = sorted((x.lid, x.iv_rid) for x in out.collect())
    assert len(got) == len(set(got)), "duplicate pairs emitted"
    exp = sorted(
        (i, j)
        for i, (llo, ln) in enumerate(lefts)
        for j, (rlo, rn) in enumerate(rights)
        if llo < rlo + rn and rlo < llo + ln
    )
    assert got == exp, (lefts, rights, bin_width)


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 99),
            st.lists(st.integers(-4, 4), min_size=2, max_size=2),
        ),
        min_size=3,
        max_size=14,
        unique_by=lambda t: t[0],
    ),
    k=st.sampled_from([2, 3]),
)
def test_kmeans_assign_matches_python_lloyd(_spark, vecs, k, tmp_path_factory):
    """Deterministic Lloyd's replays end-to-end: md5-hash-rank init,
    argmin over round(d2,6) with smaller-cluster tie-break, quantized
    BIGINT means (empty clusters keep their centroid), n_iter rounds."""
    import math

    from backend_spark.llm import kmeans_assign

    SCALE, N_ITER = 1_000_000, 3
    data = [(i, [float(x) for x in v]) for i, v in vecs]
    df = _spark.createDataFrame(data, "id long, vec array<double>")
    got = {r.id: (r.cluster, r.dist) for r in kmeans_assign(df, "id", "vec", k=k, n_iter=N_ITER).collect()}

    ids = [i for i, _ in data]
    by_id = dict(data)
    init_order = sorted(ids, key=lambda i: (_md5_60(f"km:{i}"), i))[:k]
    cents = {ci: list(by_id[i]) for ci, i in enumerate(init_order)}

    def assign(cents):
        out = {}
        for i, v in data:
            best = min(
                (round(sum((x - y) ** 2 for x, y in zip(v, cv)), 6), ci)
                for ci, cv in cents.items()
            )
            out[i] = best
        return out

    for _ in range(N_ITER):
        asg = assign(cents)
        sums = {}
        for i, (d, ci) in asg.items():
            v = by_id[i]
            s, n = sums.get(ci, ([0] * len(v), 0))
            s = [a + int(math.floor(x * SCALE + 0.5)) for a, x in zip(s, v)]
            sums[ci] = (s, n + 1)
        cents = {
            ci: ([x / (n * SCALE) for x in s] if ci in sums else old)
            for ci, old in cents.items()
            for s, n in [sums.get(ci, ([0], 1))]
        }
    final = assign(cents)
    for i, (d, ci) in final.items():
        gc, gd = got[i]
        assert gc == ci, (vecs, k, i, got[i], (d, ci))
        assert gd == pytest.approx(d, abs=2e-6), (vecs, k, i)


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=8), min_size=1, max_size=10
    ),
    min_count=st.sampled_from([1, 2]),
)
def test_collocations_matches_python_pmi(_spark, docs, min_count):
    """PMI collocation scores replay: bigram/unigram corpus counts,
    ln of the probability ratio, rounded to 4."""
    import math

    from backend_spark.llm import collocations

    df = _spark.createDataFrame([(i, " ".join(t)) for i, t in enumerate(docs)], "id long, text string")
    got = {r.pair: (r.cab, r.c1, r.c2, r.pmi) for r in collocations(df, "id", "text", min_count=min_count).collect()}

    uni, bi = {}, {}
    for toks in docs:
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    nu, nb = sum(uni.values()), sum(bi.values())
    exp = {}
    for (a, b), cab in bi.items():
        if cab >= min_count:
            pmi = math.log((cab / nb) / ((uni[a] / nu) * (uni[b] / nu)))
            exp[f"{a} {b}"] = (cab, uni[a], uni[b], round(pmi, 4))
    assert set(got) == set(exp), (docs, min_count)
    for k in exp:
        assert got[k][:3] == exp[k][:3]
        assert got[k][3] == pytest.approx(exp[k][3], abs=2e-4), (docs, k)


@settings(max_examples=10, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-8, max_value=8, allow_nan=False, width=32),
        min_size=2,
        max_size=8,
    ),
)
def test_quantize_embeddings_matches_python(_spark, vec):
    """Per-vector affine int8 quantization replays: q = floor((x-min)/
    scale + .5), scale = (max-min)/255, constant vectors all-zero, and
    max_err bounds the dequantization round-trip."""
    import json
    import math

    from backend_spark.llm import quantize_embeddings

    v = [float(x) for x in vec]
    df = _spark.createDataFrame([(0, v)], "id long, vec array<double>")
    r = quantize_embeddings(df, "id", "vec").collect()[0]
    lo, hi = min(v), max(v)
    scale = (hi - lo) / 255.0
    if scale == 0:
        exp_q = [0] * len(v)
    else:
        exp_q = [int(math.floor((x - lo) / scale + 0.5)) for x in v]
    assert json.loads(r.q) == exp_q, (v,)
    assert r.scale == pytest.approx(round(scale, 6), abs=2e-6)
    assert r.offset == pytest.approx(round(lo, 6), abs=2e-6)
    if scale > 0:
        errs = [abs(q * scale + lo - x) for q, x in zip(exp_q, v)]
        assert r.max_err == pytest.approx(round(max(errs), 6), abs=2e-6)
        assert all(0 <= q <= 255 for q in exp_q)


def test_caverphone_published_vectors(spark):
    """Caverphone 2.0 published vectors plus the documented empty-input
    divergence (blocking-useless all-1s key -> '')."""
    from backend_spark import functions as fn

    cases = [
        ("Peter", "PTA1111111"),
        ("Stevenson", "STFNSN1111"),
        ("", ""),
        ("123", ""),
        (None, ""),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [r.k for r in df.select(fn.caverphone(F.col("s")).alias("k")).collect()]
    assert got == [k for _, k in cases], got


@settings(max_examples=12, deadline=None)
@given(
    lat=st.floats(min_value=-89.99, max_value=89.99, allow_nan=False),
    lon=st.floats(min_value=-179.99, max_value=179.99, allow_nan=False),
    precision=st.sampled_from([1, 5, 8, 12]),
)
def test_geohash_matches_textbook_bisection(_spark, lat, lon, precision):
    """The arithmetic Morton-interleave geohash equals the textbook
    bisection encoder (independent derivation) for any realistic point
    and every supported precision.  Inputs are rounded to 6 decimals
    (~0.1 m): offsets below ~1.4e-14 deg are absorbed by the
    (coord+180)/360 quantization (180 + 1e-192 == 180.0 in doubles),
    where the arithmetic form lands on the boundary cell while
    bisection compares the unquantized sign — a sub-picometer
    construction property shared bit-for-bit by the SQL oracle, not a
    defect the generator should chase."""
    from backend_spark import functions as fn

    lat, lon = round(lat, 6), round(lon, 6)
    df = _spark.createDataFrame([(lat, lon)], "lat double, lon double")
    got = df.select(fn.geohash(F.col("lat"), F.col("lon"), precision).alias("g")).collect()[0].g

    base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
    bits, ch, out, even = 0, 0, [], True
    while len(out) < precision:
        rng, v = (lon_rng, lon) if even else (lat_rng, lat)
        mid = (rng[0] + rng[1]) / 2
        ch <<= 1
        if v >= mid:
            ch |= 1
            rng[0] = mid
        else:
            rng[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(base32[ch])
            bits, ch = 0, 0
    assert got == "".join(out), (lat, lon, precision, got, "".join(out))


def test_soundex_canonical_vectors(spark):
    """American Soundex canonical vectors, including the H/W collapse
    (Ashcraft), kept-letter collapse (Pfister), and vowel separation
    (Tymczak); empty/non-alpha -> ''."""
    from backend_spark import functions as fn

    cases = [
        ("Robert", "R163"), ("Rupert", "R163"), ("Ashcraft", "A261"),
        ("Ashcroft", "A261"), ("Tymczak", "T522"), ("Pfister", "P236"),
        ("Honeyman", "H555"), ("a", "A000"), ("", ""), ("42", ""), (None, ""),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [r.k for r in df.select(fn.soundex(F.col("s")).alias("k")).collect()]
    assert got == [k for _, k in cases], got


@settings(max_examples=12, deadline=None)
@given(
    parts=st.lists(
        st.sampled_from(
            ["plain", "<p>", "</p>", "<a href='x'>", "&amp;", "&lt;", "&nbsp;",
             "word", "<div class=\"y\">", "&amp;lt;", "a<b>c"]
        ),
        max_size=8,
    ),
)
def test_strip_html_matches_python(_spark, parts):
    """Markup stripping replays: tags -> space, the six entities decode
    single-pass with &amp; LAST (so &amp;lt; -> &lt; not <), whitespace
    squeezed."""
    import re

    from backend_spark import functions as fn

    text = " ".join(parts)
    df = _spark.createDataFrame([(text,)], "s string")
    got = df.select(fn.strip_html(F.col("s")).alias("c")).collect()[0].c
    x = re.sub(r"<[^>]*>", " ", text)
    for ent, ch in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]:
        x = x.replace(ent, ch)
    exp = re.sub(r"\s+", " ", x).strip()
    assert got == exp, (text, got, exp)


def test_refined_soundex_vectors(spark):
    """Refined Soundex (commons-codec variant) vectors: every letter
    coded, adjacent equal codes collapsed, no truncation."""
    from backend_spark import functions as fn

    cases = [
        ("testing", "T6036084"),
        ("TESTING", "T6036084"),
        ("The", "T60"),
        ("quick", "Q503"),
        ("", ""),
        ("9!", ""),
        (None, ""),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [r.k for r in df.select(fn.refined_soundex(F.col("s")).alias("k")).collect()]
    assert got == [k for _, k in cases], got


@settings(max_examples=5, deadline=None)
@given(
    seed_rows=st.lists(
        st.tuples(st.integers(-3, 3), st.integers(-1, 1)),
        min_size=8,
        max_size=20,
    ),
)
def test_pca_top_aligns_with_numpy_eig(_spark, seed_rows):
    """pca_top's exact-integer power iteration finds numpy's dominant
    covariance eigenvector (up to sign) and eigenvalue on data with a
    clearly dominant direction."""
    import numpy as np
    from hypothesis import assume

    from backend_spark.llm import pca_top

    assume(len(set(seed_rows)) >= 3)  # constant input -> zero covariance raises by design
    # stretch the x-axis so the spectrum is well separated
    data = [[float(10 * a + 1), float(b)] for a, b in seed_rows]
    arr = np.array(data)
    cov = np.cov(arr.T, bias=True) * len(data)  # matches n * covariance scale
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]

    df = _spark.createDataFrame([(v,) for v in data], "vec array<double>")
    out = {r.dim: (r.loading, r.eigenvalue) for r in pca_top(df, "vec", dim=2).collect()}
    loading = np.array([out[0][0], out[1][0]])
    cos = abs(float(loading @ top) / (np.linalg.norm(loading) * np.linalg.norm(top)))
    assert cos > 0.999, (seed_rows, loading, top)
    # eigenvalue reported in original variance units: n-scaled cov eig / n
    assert out[0][1] == pytest.approx(evals[-1] / len(data), rel=0.01), (
        seed_rows, out[0][1], evals[-1] / len(data),
    )
