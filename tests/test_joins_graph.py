"""Join / graph / LLM operator tests, including plan assertions (no
cartesian products, broadcast where intended)."""

import pytest
from pyspark.sql import functions as F

from backend_spark import functions as fn
from backend_spark import llm
from backend_spark.operators import (
    connected_components,
    join_fuzzy,
    join_strict,
    join_topk,
    op_clique,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_join_strict_broadcast_left(spark):
    left = spark.createDataFrame([("a", 1), ("zz", 2)], "k string, id long")
    ref = spark.createDataFrame([("a", 10)], "k2 string, v long")
    out = join_strict(left, ref, {"k": "k2"}, select={"ref_v": "v"})
    rows = {r.id: r.ref_v for r in out.collect()}
    assert rows == {1: 10, 2: None}
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_join_fuzzy_tiebreak_prefers_dist0_then_sorted(spark):
    left = spark.createDataFrame([("lyon", 1), ("lyonn", 2), ("zzz", 3)], "k string, id long")
    ref = spark.createDataFrame([("lyon",), ("lyons",), ("lyonne",)], "w string")
    out = join_fuzzy(left, ref, {"k": "w"})
    rows = {r.id: r.k_match for r in out.collect()}
    # exact match wins; distance-1 tie ('lyon','lyons') -> sorted-first
    assert rows == {1: "lyon", 2: "lyon", 3: None}


def test_join_fuzzy_no_cartesian(spark):
    left = spark.createDataFrame([("abc", 1)], "k string, id long")
    ref = spark.createDataFrame([("abd",)], "w string")
    assert "CartesianProduct" not in _plan(join_fuzzy(left, ref, {"k": "w"}))


def test_fuzzy_dictionary_equals_inline_match(spark):
    import random

    from backend_spark.operators.joins import fuzzy_dictionary, fuzzy_match

    rng = random.Random(7)

    def word():
        return "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))

    words = [word() for _ in range(40)] + [None]
    keys = [word() for _ in range(60)] + [None, None]
    left = spark.createDataFrame(list(enumerate(keys)), "id long, k string")
    ref = spark.createDataFrame([(w,) for w in words], "w string")
    for method, max_dist in (("automata", 1), ("automata", 2), ("fastcomp", 1)):
        dictionary = fuzzy_dictionary(ref, "w", max_dist).cache()
        try:
            got = fuzzy_match(left, ref, "k", "w", out_col="m", max_dist=max_dist,
                              method=method, dictionary=dictionary)
            want = fuzzy_match(left, ref, "k", "w", out_col="m", max_dist=max_dist, method=method)
            rows = sorted(tuple(r) for r in got.collect())
            assert rows == sorted(tuple(r) for r in want.collect()), (method, max_dist)
            assert len(rows) == len(keys) and any(r[2] is not None for r in rows)
        finally:
            dictionary.unpersist()


_FUZZY_CONF = """
recipes:
  fz:
    steps:
      - join:
          dataset: ref
          fuzzy: {k: w}
          select: {hit: rid}
"""


def _fuzzy_book(spark, ref):
    from backend_spark.plans import RecipeBook, load_conf

    return RecipeBook(load_conf(_FUZZY_CONF), datasets={"ref": ref}, spark=spark)


def _dictionaries(book):
    """The fuzzy dictionaries held in the book's cache."""
    return [value for key, (_, value) in book._cache.items() if key[0] == "dictionary"]


def _plan_paths(node, path=()):
    """(node, names of its ancestors) for every node of an executed
    plan, descending through adaptive plans and query stages."""
    yield node, path
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for kid in kids:
        yield from _plan_paths(kid, path + (node.nodeName(),))


def _output(node) -> set[str]:
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


def test_recipe_book_reads_persisted_dictionary(spark):
    ref = spark.createDataFrame([("lyon", 1), ("lyons", 2), ("paris", 3)], "w string, rid long")
    book = _fuzzy_book(spark, ref)
    for keys in (["lyonn", "pari"], ["lyon", "zzz"]):
        left = spark.createDataFrame([(k,) for k in keys], "k string")
        out = book.compile("fz")(left)
        rows = {r.k: r.hit for r in out.collect()}
    assert rows == {"lyon": 1, "zzz": None}
    nodes = list(_plan_paths(out._jdf.queryExecution().executedPlan()))
    assert any(
        n.nodeName() == "InMemoryTableScan" and _output(n) == {"__w", "__v"} for n, _ in nodes
    )
    # the referential is scanned only by the strict join on the matched
    # word: no Generate or aggregate re-derives the dictionary from it
    ref_paths = [p for n, p in nodes if n.children().size() == 0 and "w" in _output(n)]
    assert ref_paths
    for path in ref_paths:
        assert not [x for x in path if x == "Generate" or x.endswith("Aggregate")], path


def test_recipe_book_concurrent_first_use_builds_one_dictionary(spark, monkeypatch):
    import sys
    import threading

    from backend_spark import operators as ops

    built = []
    real = ops.fuzzy_dictionary

    def counting(*a, **kw):
        built.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(ops, "fuzzy_dictionary", counting)
    book = _fuzzy_book(spark, spark.createDataFrame([("lyon", 1), ("paris", 3)], "w string, rid long"))
    left = spark.createDataFrame([("lyonn",)], "k string")
    start, errors = threading.Barrier(8), []

    def use():
        try:
            start.wait(timeout=60)
            book.compile("fz")(left)
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=use) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(built) == 1
    assert {r.k: r.hit for r in book.compile("fz")(left).collect()} == {"lyonn": 1}


def test_recipe_book_replaced_dataset_rebuilds_dictionary(spark):
    book = _fuzzy_book(spark, spark.createDataFrame([("lyon", 1)], "w string, rid long"))
    left = spark.createDataFrame([("lyonn",), ("pariss",)], "k string")
    assert {r.k: r.hit for r in book.compile("fz")(left).collect()} == {"lyonn": 1, "pariss": None}
    (old,) = _dictionaries(book)
    book.datasets["ref"] = spark.createDataFrame([("paris", 3)], "w string, rid long")
    assert {r.k: r.hit for r in book.compile("fz")(left).collect()} == {"lyonn": None, "pariss": 3}
    (new,) = _dictionaries(book)
    assert new is not old and new.is_cached and not old.is_cached


def test_join_topk_counts_and_scores(spark):
    left = spark.createDataFrame([(1, "abcd")], "id long, name string")
    left = left.withColumn("blk", fn.ngrams(F.col("name"), 2))
    ref = spark.createDataFrame([(10, "abcd"), (11, "abce"), (12, "zzzz")], "rid long, rname string")
    out = join_topk(
        left,
        ref,
        left_id="id",
        block_left="blk",
        block_right=fn.ngrams(F.col("rname"), 2),
        score=lambda d: fn.levenshtein_norm(d["name"], d["hit_rname"]),
        ref_id="rid",
        k=1,
        tiebreak=["hit_rid"],
    )
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.hit_rid == 10 and r.matchid_hit_matches_unfiltered == 2
    assert "CartesianProduct" not in _plan(out)


def test_connected_components_and_clique(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    cc = {r.node: r.comp for r in connected_components(edges).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}

    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], "x string, y string")
    out = op_clique(df, ["x", "y"], metrics=["degree"])
    rows = {(r.x, r.y): r for r in out.collect()}
    assert rows[("a", "b")].graph_clique_id == "a"
    assert rows[("a", "b")].graph_clique_size == 3
    assert rows[("b", "c")].graph_degree == 2


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same"), (5, "same"), (3, "other")], "doc_id long, text string"
    )
    out = llm.dedup_exact(df, "doc_id", "text")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_minhash_dedup_removes_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " x"), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    pairs = llm.minhash_lsh_pairs(df, "doc_id", "text", num_perm=16, bands=8, jaccard_threshold=0.5)
    assert {(r.id1, r.id2) for r in pairs.collect()} == {(1, 2)}
    kept = llm.dedup_minhash(df, "doc_id", "text", num_perm=16, bands=8, jaccard_threshold=0.5)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]
    # mega-cluster guard: the {1,2} cluster trips a cap of 1
    with pytest.raises(ValueError, match="dedup_minhash.*max_cluster_size"):
        llm.dedup_minhash(df, "doc_id", "text", max_cluster_size=1,
                          num_perm=16, bands=8, jaccard_threshold=0.5)


def test_minhash_pairs_size_prune_keeps_boundary(spark):
    # shingle sets {abc,bcd,cde,def} ⊂ {abc,...,efg}: jaccard = 4/5,
    # exactly at the threshold with UNEQUAL set sizes — the verify
    # stage's size-ratio prune (min/max >= t - 1e-6) must keep it
    docs = spark.createDataFrame(
        [(1, "abcdef"), (2, "abcdefg")], "doc_id long, text string"
    )
    out = llm.minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=16, bands=8, jaccard_threshold=0.8
    ).collect()
    assert [(r.id1, r.id2, r.jaccard) for r in out] == [(1, 2, 0.8)]


def test_ann_bruteforce_self_similarity_excluded(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = llm.ann_topk_bruteforce(df, df.where(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.cosine) for r in out.collect()]
    assert len(got) == 2 and all(n != 0 for n, _ in got)


def test_language_id_und_on_no_stopwords(spark):
    df = spark.createDataFrame([("qwerty zxcvb",), ("the cat sat on the mat",)], "t string")
    out = df.select(llm.language_id(F.col("t")).alias("lang")).collect()
    assert out[0].lang == "und" and out[1].lang == "en"


def _png_bytes(w: int, h: int) -> bytes:
    ihdr = b"IHDR" + w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    return b"\x89PNG\r\n\x1a\n" + len(ihdr[4:]).to_bytes(4, "big") + ihdr + b"\x00" * 4


def test_multimodal_decode_stub(spark):
    # not a recognized image -> md5 stub features
    df = spark.createDataFrame([(1, bytearray(b"not a png"))], "doc_id long, media binary")
    out = llm.decode_image_features(df)
    row = out.collect()[0]
    assert row.feat_len == 9 and 16 <= row.feat_w < 256 and 16 <= row.feat_h < 256

    import pytest as _pytest

    with _pytest.raises(Exception):
        llm.decode_image_features(df, real_decode=True).collect()


def test_multimodal_decode_real_headers(spark):
    # real container formats decode to real dimensions, no image lib
    # needed (header parse); real_decode=True must accept them
    gif = b"GIF89a" + (7).to_bytes(2, "little") + (11).to_bytes(2, "little") + b"\x00" * 6
    bmp = (
        b"BM" + b"\x00" * 8 + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (13).to_bytes(4, "little") + (17).to_bytes(4, "little") + b"\x00" * 28
    )
    jpg = (
        b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (19).to_bytes(2, "big") + (23).to_bytes(2, "big") + b"\x03" + b"\x00" * 10
    )
    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(640, 480))), (2, bytearray(gif)), (3, bytearray(bmp)), (4, bytearray(jpg))],
        "doc_id long, media binary",
    )
    rows = {r.doc_id: (r.feat_w, r.feat_h) for r in llm.decode_image_features(df, real_decode=True).collect()}
    assert rows == {1: (640, 480), 2: (7, 11), 3: (13, 17), 4: (23, 19)}


def test_image_dims_header_parser_rejects_text():
    # UTF-8 text (even starting with 'BM'/'GIF') must not parse as an image
    assert llm._image_dims_from_header(b"BM settlement of 1862 was large") is None
    assert llm._image_dims_from_header(b"the quick brown fox") is None
    assert llm._image_dims_from_header(b"") is None


def test_node_metrics_k4_plus_tail(spark):
    # K4 on {0,1,2,3} plus pendant edge 3-4 — hand-checkable networkx
    # values: K4 corners have 3 triangles & clustering 1; node 3 gains a
    # 4th neighbor (clustering 2*3/(4*3) = 0.5); node 4 is trivial
    from backend_spark.operators.graph import node_metrics

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(k4 + [(3, 4)], "src long, dst long")
    got = {r.node: (r.degree, r.triangles, r.clustering) for r in node_metrics(edges).collect()}
    assert got == {
        0: (3, 3, 1.0),
        1: (3, 3, 1.0),
        2: (3, 3, 1.0),
        3: (4, 3, 0.5),
        4: (1, 0, 0.0),
    }


def _pagerank_py(adj, alpha=0.85, max_iter=20, tol=1e-6):
    n = len(adj)
    r = {v: 1.0 / n for v in adj}
    for _ in range(max_iter):
        new = {v: (1.0 - alpha) / n + alpha * sum(r[u] / len(adj[u]) for u in adj[v]) for v in adj}
        delta = sum(abs(new[v] - r[v]) for v in adj)
        r = new
        if delta < n * tol:
            break
    return r


def test_pagerank_matches_reference_algorithm(spark):
    from backend_spark.operators.graph import pagerank

    raw = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (1, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    adj = {}
    for a, b in raw:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    expect = _pagerank_py(adj)
    got = {r.node: r.pagerank for r in pagerank(edges).collect()}
    assert set(got) == set(expect)
    for v in expect:
        assert got[v] == pytest.approx(round(expect[v], 6), abs=2e-6), v


def test_op_clique_metric_columns(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 5)], "x long, y long")
    out = op_clique(edges, ["x", "y"], metrics=["degree", "triangles", "clustering", "pagerank"])
    cols = set(out.columns)
    assert {"graph_degree", "graph_triangles", "graph_clustering", "graph_pagerank"} <= cols
    row = {r.x: r for r in out.collect()}
    assert row[1].graph_triangles == 1 and row[1].graph_clustering == 1.0
    assert row[4].graph_triangles == 0 and row[4].graph_degree == 1


def test_connected_components_deep_path(spark):
    # a 200-node path: naive min-propagation needs 200 rounds; pointer
    # jumping must converge within the 25-iteration cap
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(200)], "src string, dst string"
    )
    cc = connected_components(edges, max_iter=25)
    comps = {r.comp for r in cc.collect()}
    assert comps == {"n0000"}
    assert cc.count() == 201


def test_ngram_jaccard_exact_pairs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " x"), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    pairs = llm.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    got = {(r.id1, r.id2): r.jaccard for r in pairs.collect()}
    assert set(got) == {(1, 2)} and got[(1, 2)] > 0.9


def test_embed_cosine_pairs_exact_and_lsh(spark):
    # 0 and 1 parallel (cosine 1), 2 orthogonal
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = llm.embed_cosine_pairs(df, threshold=0.9, n_planes=0)
    assert {(r.id1, r.id2, r.cosine) for r in exact.collect()} == {(0, 1, 1.0)}
    # LSH candidates (the default path) are a subset of exact, verified
    # with true cosine; parallel vectors share every band bucket, so the
    # banded path must find (0, 1)
    lsh = llm.embed_cosine_pairs(df, threshold=0.9, n_planes=2, n_bands=4, dim=4)
    # a list, not a set: the pair shares its bucket in all 4 bands and
    # must still come out exactly once
    assert [(r.id1, r.id2) for r in lsh.collect()] == [(0, 1)]


def test_ann_lsh_subset_of_bruteforce(spark):
    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(4)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = llm.ann_topk_bruteforce(df, df.where(F.col("vec_id") == 0), k=3)
    approx = llm.ann_topk_lsh(df, df.where(F.col("vec_id") == 0), k=3, n_planes=2, dim=4)
    exact_ids = {r.neighbor_id for r in exact.collect()}
    # same-bucket neighbors score identically to brute force
    for r in approx.collect():
        assert r.query_id == 0 and r.neighbor_id != 0
    assert len(exact_ids) == 3


def test_simhash_neardup_exact_banding(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " x"), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    pairs = llm.simhash_neardup_pairs(df, "doc_id", "text", max_hamming=8)
    got = {(r.id1, r.id2): r.hamming for r in pairs.collect()}
    assert (1, 2) in got and got[(1, 2)] <= 8
    assert (1, 3) not in got and (2, 3) not in got


def test_audio_and_video_stubs(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"RIFF fake audio payload bytes"))], "doc_id long, media binary"
    )
    audio = llm.extract_audio_features(df).collect()[0]
    assert audio.audio_bytes == 29 and 0.0 <= audio.rms <= 1.0
    frames = llm.sample_video_frames(df, "media", "doc_id", n_frames=4).collect()
    assert [r.frame_idx for r in frames] == [0, 1, 2, 3]
    assert sum(r.frame_bytes for r in frames) <= 29
    import pytest as _pytest
    with _pytest.raises(Exception):
        llm.extract_audio_features(df, real_decode=True).collect()


def _make_wav(samples, sampwidth=2, framerate=8000, nchannels=1):
    """Synthesize a PCM WAV via the stdlib wave module (float in [-1,1])."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nchannels)
        w.setsampwidth(sampwidth)
        w.setframerate(framerate)
        if sampwidth == 1:
            frames = bytes(int(round(s * 127)) + 128 for s in samples)
        elif sampwidth == 2:
            frames = b"".join(struct.pack("<h", int(round(s * 32767))) for s in samples)
        else:
            raise ValueError(sampwidth)
        w.writeframes(frames)
    return buf.getvalue()


def test_audio_real_wav_decode(spark):
    import math

    import numpy as np

    # a 100 Hz sine at 8 kHz: known RMS ~ 1/sqrt(2), known ZCR
    samples = [math.sin(2 * math.pi * 100 * i / 8000) * 0.5 for i in range(800)]
    wav16 = _make_wav(samples, sampwidth=2)
    wav8 = _make_wav(samples, sampwidth=1)
    df = spark.createDataFrame(
        [(1, bytearray(wav16)), (2, bytearray(wav8))], "doc_id long, media binary"
    )
    rows = {r.doc_id: r for r in llm.extract_audio_features(df, real_decode=True).collect()}
    x = np.array([int(round(s * 32767)) / 32768.0 for s in samples])
    want_rms = float(np.sqrt(np.mean(x * x)))
    assert abs(rows[1].rms - want_rms) < 1e-4
    # 100 Hz over 0.1 s -> ~20 sign changes among 799 transitions
    # (exact count depends on how the zero samples at phase boundaries
    # quantize, so allow +-2 crossings)
    assert abs(rows[1].zcr - 20 / 799) < 2.5 / 799
    # 8-bit quantization is coarser but must land near the same level
    assert abs(rows[2].rms - want_rms) < 0.01


def test_audio_wav_stereo_and_float32(spark):
    import struct

    import numpy as np

    # hand-rolled stereo 16-bit: L = 0.5, R = -0.5 -> mono mix 0
    n = 64
    frames = b"".join(
        struct.pack("<hh", int(0.5 * 32767), int(-0.5 * 32767)) for _ in range(n)
    )
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(frames)) + b"WAVE"
        b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 8000 * 4, 4, 16)
        + b"data" + struct.pack("<I", len(frames)) + frames
    )
    # IEEE float32 mono ramp
    vals = np.linspace(-1, 1, 64, dtype="<f4")
    f32 = (
        b"RIFF" + struct.pack("<I", 36 + vals.nbytes) + b"WAVE"
        b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 8000, 8000 * 4, 4, 32)
        + b"data" + struct.pack("<I", vals.nbytes) + vals.tobytes()
    )
    df = spark.createDataFrame(
        [(1, bytearray(hdr)), (2, bytearray(f32))], "doc_id long, media binary"
    )
    rows = {r.doc_id: r for r in llm.extract_audio_features(df, real_decode=True).collect()}
    assert abs(rows[1].rms) < 1e-4  # stereo mix cancels
    want = float(np.sqrt(np.mean(vals.astype(np.float64) ** 2)))
    assert abs(rows[2].rms - want) < 1e-6


def test_ann_ivf_exhaustive_equals_bruteforce(spark):
    rows = [(i, [float((i * 7 + j * 3) % 5) for j in range(4)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 2)
    exact = {(r.query_id, r.neighbor_id) for r in llm.ann_topk_bruteforce(df, q, k=3).collect()}
    full_probe = {
        (r.query_id, r.neighbor_id)
        for r in llm.ann_topk_ivf(df, q, k=3, n_centroids=3, n_probe=3).collect()
    }
    assert full_probe == exact
    # pruned probes return a subset of per-query candidates, all != self
    pruned = llm.ann_topk_ivf(df, q, k=3, n_centroids=3, n_probe=1).collect()
    assert all(r.query_id != r.neighbor_id for r in pruned)


def test_pii_scan_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com twice alice@h.org ok"),
            (2, "server at 10.0.0.1 ssn 123-45-6789"),
            (3, "call 555-123-4567 now"),
            (4, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in llm.pii_scan(df, "doc_id", "text").collect()}
    assert (rows[1].n_email, rows[1].pii_total) == (2, 2)
    assert (rows[2].n_ipv4, rows[2].n_ssn, rows[2].pii_total) == (1, 1, 2)
    assert rows[3].n_phone == 1
    assert rows[4].pii_total == 0
    assert rows[1].text_redacted == "mail <EMAIL> twice <EMAIL> ok"
    assert rows[2].text_redacted == "server at <IP> ssn <SSN>"
    assert rows[3].text_redacted == "call <PHONE> now"
    assert rows[4].text_redacted == rows[4].text_redacted == "clean text with no pii at all"


def test_decontaminate_flags_ngram_overlap(spark):
    bench = spark.createDataFrame(
        [("what is the capital of france and where is it",)], "text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "quiz asks what is the capital of france today"),
            (2, "an entirely unrelated document about spark joins"),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm.decontaminate(docs, "doc_id", "text", bench, n=5).collect()}
    # doc 1 shares the 5-grams "what is the capital of" and
    # "is the capital of france" with the benchmark
    assert out[1].contaminated and out[1].n_contaminated_ngrams == 2
    assert not out[2].contaminated and out[2].n_contaminated_ngrams == 0
    assert not out[3].contaminated  # shorter than n tokens -> no grams


def test_repetition_stats_known_fractions(spark):
    df = spark.createDataFrame(
        [(1, "x y x y x"), (2, "all words here differ"), (3, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in llm.repetition_stats(df, "doc_id", "text").collect()}
    # doc 1: toks [x y x y x] -> dup_word 1-2/5; grams [x y, y x, x y, y x]
    # -> dup_ngram 1-2/4, modal gram "x y" twice of 4
    assert rows[1].n_words == 5
    assert rows[1].dup_word_frac == 0.6
    assert rows[1].dup_ngram_frac == 0.5
    assert rows[1].top_ngram_frac == 0.5
    # doc 2: 4 distinct tokens -> 3 distinct bigrams, modal freq 1/3
    assert rows[2].dup_word_frac == 0.0 and rows[2].top_ngram_frac == 0.333333
    assert rows[3].n_words == 0
    assert rows[3].dup_word_frac == 0.0 and rows[3].top_ngram_frac == 0.0


def test_join_topk_matches_python_topk(spark):
    import random

    rng = random.Random(7)
    pool = ["a", "b", "c", "d", "e", None]

    def keys():
        return [rng.choice(pool) for _ in range(rng.randint(0, 4))]

    # left 1 repeats a key inside its array next to a null key and ties
    # refs 100-102 on score (tiebreak keeps 100, 101); left 2 shares no
    # key with any ref row, left 3 has a null key array
    left = [(1, 5, ["a", "a", None]), (2, 5, ["zz"]), (3, 0, None)]
    left += [(i, rng.randint(0, 3), keys()) for i in range(4, 30)]
    ref = [(100, 5, ["a", None, "a"]), (101, 5, ["a"]), (102, 5, ["a", "b"])]
    ref += [(100 + i, rng.randint(0, 3), keys()) for i in range(3, 25)]
    k = 2
    out = join_topk(
        spark.createDataFrame(left, "id long, v long, blk array<string>"),
        spark.createDataFrame(ref, "rid long, rv long, rblk array<string>"),
        left_id="id",
        block_left="blk",
        block_right="rblk",
        score=lambda d: -F.abs(d["v"] - d["hit_rv"]),
        ref_id="rid",
        k=k,
        tiebreak=["hit_rid"],
    )
    cols = ["id", "hit_rid", "hit_score", "matchid_hit_matches_unfiltered", "hit_max_score"]
    want = []
    for lid, v, lk in left:
        cands = [(-abs(v - rv), rid) for rid, rv, rk in ref if set(lk or []) & set(rk or []) - {None}]
        for score, rid in sorted(cands, key=lambda c: (-c[0], c[1]))[:k]:
            want.append((lid, rid, score, len(cands), max(c[0] for c in cands)))
    assert sorted(map(tuple, out.select(*cols).collect())) == sorted(want)
    assert [w[1] for w in want if w[0] == 1] == [100, 101]


def test_quality_filter_rules(spark):
    good = "the cat sat of the mat and the dog ran to the track " * 5  # stopwords + length
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "short text only"),                    # too few words
            (3, ("spam " * 60).strip()),               # duplicate n-grams, no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm.quality_filter(
        df, "doc_id", "text", min_words=20, max_words=100,
        min_mean_word_len=2.0, max_mean_word_len=8.0,
        min_stopword_hits=2, max_dup_ngram_frac=0.8,
    ).collect()}
    assert out[1].keep
    assert not out[2].keep and out[2].n_words == 3
    assert not out[3].keep and out[3].dup_ngram_frac > 0.9 and out[3].stop_hits == 0


def test_asof_join_backward_with_tolerance(spark):
    from backend_spark.operators import asof_join

    trades = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 205), (3, "a", 300), (4, "b", 50)],
        "tid long, sym string, ts long",
    )
    quotes = spark.createDataFrame(
        [("a", 90, 1.0), ("a", 205, 2.0), ("a", 210, 9.9), ("b", 60, 3.0)],
        "sym string, ts long, px double",
    )
    out = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts")
    got = {r.tid: (r.asof_ts, r.asof_px) for r in out.collect()}
    assert got[1] == (90, 1.0)      # strictly-before quote
    assert got[2] == (205, 2.0)     # exact-ts match attaches
    assert got[3] == (210, 9.9)     # latest of several
    assert got[4] == (None, None)   # only future quotes -> no match
    # tolerance: quote at 90 is 10 too old for trade at 100 with tol=5
    tol = asof_join(trades, quotes, on="sym", left_ts="ts", right_ts="ts", tolerance=5)
    got_tol = {r.tid: r.asof_px for r in tol.collect()}
    assert got_tol[1] is None and got_tol[2] == 2.0


def test_dedup_lines_owner_keeps_boilerplate(spark):
    df = spark.createDataFrame(
        [
            (1, ["alpha beta", "SUBSCRIBE NOW", "gamma"]),
            (2, ["SUBSCRIBE NOW", "delta"]),
            (3, ["SUBSCRIBE NOW"]),
            (4, []),
        ],
        "doc_id long, lines array<string>",
    )
    out = {r.doc_id: r for r in llm.dedup_lines(df, "doc_id", "lines").collect()}
    # doc 1 owns the boilerplate (min id) and keeps it, in position order
    assert out[1].text_clean == "alpha beta\nSUBSCRIBE NOW\ngamma" and out[1].n_removed == 0
    assert out[2].text_clean == "delta" and out[2].n_removed == 1
    assert out[3].text_clean == "" and out[3].n_removed == 1
    assert out[4].text_clean == "" and out[4].n_removed == 0  # empty doc survives


def test_asof_join_matches_pandas_merge_asof(spark):
    import random

    import pandas as pd

    rng = random.Random(11)
    left = [(i, rng.choice("xyz"), rng.randrange(0, 1000)) for i in range(120)]
    right = [(rng.choice("xyz"), rng.randrange(0, 1000), float(j)) for j in range(80)]
    # merge_asof needs unique right ts per key for a deterministic match
    seen = set()
    right = [r for r in right if not (r[:2] in seen or seen.add(r[:2]))]
    from backend_spark.operators import asof_join

    ldf = spark.createDataFrame(left, "lid long, k string, ts long")
    rdf = spark.createDataFrame(right, "k string, ts long, px double")
    got = {
        r.lid: (r.asof_ts, r.asof_px)
        for r in asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="ts").collect()
    }
    lpd = pd.DataFrame(left, columns=["lid", "k", "ts"]).sort_values("ts")
    rpd = pd.DataFrame(right, columns=["k", "ts", "px"]).sort_values("ts")
    exp = pd.merge_asof(lpd, rpd, on="ts", by="k", direction="backward", suffixes=("", "_r"))
    for row in exp.itertuples():
        assert got[row.lid][1] == (None if pd.isna(row.px) else row.px), row


def test_deterministic_sample_reproducible_and_stratified(spark):
    df = spark.createDataFrame([(i, "a" if i % 2 else "b") for i in range(2000)], "id long, cls string")
    s1 = llm.deterministic_sample(df, "id", rate=0.1)
    s2 = llm.deterministic_sample(df, "id", rate=0.1)
    ids1 = sorted(r.id for r in s1.collect())
    assert ids1 == sorted(r.id for r in s2.collect())  # bit-identical rerun
    assert 120 < len(ids1) < 280  # ~10% of 2000
    strat = llm.deterministic_sample(df, "id", rate=0.05, strata_col="cls", strata_rates={"a": 0.5})
    by_cls = {r.cls: 0 for r in strat.collect()}
    for r in strat.collect():
        by_cls[r.cls] += 1
    assert by_cls["a"] > 300 and by_cls.get("b", 0) < 120
    # different salt -> different (still deterministic) sample
    assert sorted(r.id for r in llm.deterministic_sample(df, "id", 0.1, salt="v2").collect()) != ids1


def test_pack_sequences_chunk_invariants(spark):
    df = spark.createDataFrame([(i, 100 + (i % 7) * 50) for i in range(300)], "id long, n long")
    out = llm.pack_sequences(df, "id", "n", budget=1000, shards=4).collect()
    assert len(out) == 300
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.id)
        # offsets are a contiguous stream in id order within the shard
        run = 0
        for r in rows:
            assert r.start_offset == run
            assert r.bin_id == shard * 2**33 + run // 1000
            run += r.n_tokens


def test_op_clique_membership_list(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], "x string, y string")
    out = op_clique(df, ["x", "y"], metrics=["clique_list"])
    rows = {r.x: r for r in out.collect()}
    assert rows["a"].graph_clique_list == ["a", "b", "c"]
    assert rows["d"].graph_clique_list == ["d", "e"]


def test_ivf_index_roundtrip_matches_direct(spark, tmp_path):
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf")
    llm.build_ivf_index(df, path, n_centroids=4)
    direct = llm.ann_topk_ivf(df, q, k=4, n_centroids=4, n_probe=4)
    loaded = llm.ann_topk_ivf(None, q, k=4, n_probe=4, index_path=path)
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, loaded.collect()))
    # partial probe still returns <= k rows per query from probed cells only
    part = llm.ann_topk_ivf(None, q, k=4, n_probe=1, index_path=path).collect()
    per_q = {}
    for r in part:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 4 for v in per_q.values())


def test_closeness_centrality_exact(spark):
    from backend_spark.operators.graph import closeness_centrality

    # K4 on {0..3} + pendant 3-4 (connected, n=5, wf factor 1):
    # corners: sum=5 -> 4/5; node 3: sum=4 -> 1.0; node 4: sum=7 -> 4/7
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(k4 + [(3, 4)], "src long, dst long")
    got = {r.node: r.closeness for r in closeness_centrality(edges).collect()}
    assert got == {0: 0.8, 1: 0.8, 2: 0.8, 3: 1.0, 4: 0.571429}

    # disconnected: a-b and c-d-e; wf scales by reachable fraction
    e2 = spark.createDataFrame([("a", "b"), ("c", "d"), ("d", "e")], "src string, dst string")
    got2 = {r.node: r.closeness for r in closeness_centrality(e2).collect()}
    assert got2 == {"a": 0.25, "b": 0.25, "c": 0.333333, "e": 0.333333, "d": 0.5}


def test_bm25_topk_matches_formula(spark):
    import math

    corpus = [(1, "cat cat dog"), (2, "cat mouse"), (3, "bird bird bird")]
    queries = [(10, "cat dog")]
    qdf = spark.createDataFrame(queries, "qid long, text string")
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.hit_id: r.score
        for r in llm.bm25_topk(qdf, cdf, query_id="qid", doc_id="doc_id", k=3).collect()
    }

    def idf(df_t, n=3):
        return math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))

    def term(tf, dl, avgdl=8 / 3, k1=1.2, b=0.75):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp1 = round(idf(2) * term(2, 3) + idf(1) * term(1, 3), 4)  # cat tf2 + dog tf1
    exp2 = round(idf(2) * term(1, 2), 4)                        # cat only, shorter doc
    assert got == {1: exp1, 2: exp2}  # doc 3 shares no term -> absent
    assert got[1] > got[2]


def test_build_vocab_counts_and_rank(spark):
    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird"), (3, "dog")], "doc_id long, text string"
    )
    out = {r.token: (r.tf, r.df, r.rank) for r in llm.build_vocab(df, "doc_id", "text", top_k=2).collect()}
    assert out == {"dog": (3, 3, 1), "cat": (2, 1, 2)}  # bird cut by top_k
    no_rank = llm.build_vocab(df, "doc_id", "text", min_df=2)
    assert [r.token for r in no_rank.collect()] == ["dog"]


def test_range_join_inner_and_left(spark):
    from backend_spark.operators import range_join

    points = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0), (4, 99.0)], "pid long, x double"
    )
    iv = spark.createDataFrame(
        [(10, 0.0, 10.0), (20, 10.0, 20.0), (30, 4.0, 26.0)],
        "iid long, lo double, hi double",
    )
    got = {(r.pid, r.iid) for r in
           range_join(points, iv, "x", "lo", "hi", bin_width=7.0).collect()}
    assert got == {(1, 10), (1, 30), (2, 20), (2, 30), (3, 30)}  # hi exclusive, 99 unmatched
    left = range_join(points, iv, "x", "lo", "hi", bin_width=7.0, how="left")
    rows = left.collect()
    assert len(rows) == 6 and {r.pid for r in rows if r.iid is None} == {4}
    plan = left._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    import pytest
    with pytest.raises(ValueError):
        range_join(points, iv, "x", "lo", "hi", 7.0, how="full")


def test_compact_latest_keeps_newest_per_key(spark):
    from backend_spark.operators import compact_latest

    df = spark.createDataFrame(
        [(1, 100, "a"), (1, 300, "b"), (1, 200, "c"), (2, 50, "d"), (3, 50, "e"),
         (3, 50, "f")],
        "k long, ts long, v string",
    )
    got = {(r.k, r.ts, r.v) for r in compact_latest(df, "k", "ts", "v").collect()}
    assert got == {(1, 300, "b"), (2, 50, "d"), (3, 50, "f")}  # tie at k=3 -> max v


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "abab cd"), (2, "abab"), (3, "x")], "doc_id long, text string"
    )
    got = {r.pair: r.cnt for r in
           llm.bpe_pair_counts(df, "doc_id", "text").collect()}
    # "abab" wf=2 -> pairs ab,ba,ab each x2; "cd" wf=1; "x" dropped (len<2)
    assert got == {"ab": 4, "ba": 2, "cd": 1}
    top = llm.bpe_pair_counts(df, "doc_id", "text", top_k=1).collect()
    assert [(r.pair, r.cnt, r.rank) for r in top] == [("ab", 4, 1)]


def test_percentile_filter_exact_median_per_group(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [("en", 1, 10), ("en", 2, 20), ("en", 3, 30),
         ("fr", 4, 5), ("fr", 5, 50)],
        "g string, rid long, s long",
    )
    got = {r.rid for r in llm.percentile_filter(df, "s", "g", q=0.5).collect()}
    # en median 20 -> keep 2,3; fr interpolated median 27.5 -> keep 5
    assert got == {2, 3, 5}


def test_tfidf_topk_terms_ranking(spark):
    import math

    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "rare cat cat"), (2, "cat dog"), (3, "dog dog")],
        "doc_id long, text string",
    )
    out = llm.tfidf_topk_terms(df, "doc_id", "text", k=1)
    got = {r.doc_id: (r.term, r.score) for r in out.collect()}
    # doc 1: rare tf=1 df=1 -> ln(3); cat tf=2 df=2 -> 2*ln(1.5) < ln(3)
    assert got[1] == ("rare", round(math.log(3), 4))
    assert got[2][0] in ("cat", "dog")  # equal scores -> term tie-break
    assert got[2] == ("cat", round(math.log(1.5), 4))
    assert got[3] == ("dog", round(2 * math.log(1.5), 4))


def test_unigram_logprob_matches_hand_computation(spark):
    import math

    from backend_spark import llm

    df = spark.createDataFrame([(1, "a a b"), (2, "b")], "doc_id long, text string")
    # corpus counts: a=2, b=2, total=4 -> p(a)=p(b)=0.5
    out = {r.doc_id: (r.n_tokens, r.avg_logprob) for r in
           llm.unigram_logprob(df, "doc_id", "text").collect()}
    assert out == {1: (3, round(math.log(0.5), 4)), 2: (1, round(math.log(0.5), 4))}


def test_dedup_incremental_anti_join_on_signature(spark):
    from backend_spark import llm
    from backend_spark import functions as fn
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "seen before"), (2, "brand new"), (3, "Seen   BEFORE")],
        "doc_id long, text string",
    )
    store = spark.createDataFrame([("seen before",)], "t string").select(
        fn.md5_long(fn.normalize(F.col("t"))).alias("sig")
    )
    out = llm.dedup_incremental(docs, store, "text")
    # doc 3 normalizes to the same signature as the stored text -> dropped too
    assert [r.doc_id for r in out.collect()] == [2]
    assert "sig" in out.columns  # survivors carry sig for the next snapshot


def test_collocations_pmi_hand_check(spark):
    import math

    from backend_spark import llm

    # "x y" always together; "a b" sometimes apart
    df = spark.createDataFrame(
        [(1, "x y a"), (2, "x y b"), (3, "a b x")], "doc_id long, text string"
    )
    out = {r.pair: r for r in llm.collocations(df, "doc_id", "text", min_count=2).collect()}
    assert set(out) == {"x y"}  # only pair with count >= 2
    r = out["x y"]
    # unigrams: x=3,y=2,a=2,b=2 -> nu=9; bigrams: 6 total, "x y" twice
    assert (r.cab, r.c1, r.c2) == (2, 3, 2)
    assert r.pmi == round(math.log((2 / 6) / ((3 / 9) * (2 / 9))), 4)


def test_char_entropy_hand_check(spark):
    import math

    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_chars_norm, r.entropy) for r in
           llm.char_entropy(df, "doc_id", "text").collect()}
    assert out[1] == (4, 0.0)                       # one symbol -> zero entropy
    assert out[2] == (4, round(math.log(2), 4))     # two equiprobable symbols
    assert out[3] == (4, round(math.log(4), 4))     # four equiprobable symbols


def test_eigenvector_centrality_matches_power_iteration(spark):
    import math

    from backend_spark.operators.graph import eigenvector_centrality

    raw = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (1, 1)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    adj = {}
    for a, b in raw:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    x = {v: 1.0 / len(adj) for v in adj}
    for _ in range(30):
        xl = dict(x)
        x = {b: xl[b] + sum(xl[a] for a in sorted(adj[b])) for b in adj}
        norm = math.sqrt(sum(x[k] * x[k] for k in sorted(adj)))
        x = {k: v / norm for k, v in x.items()}
    got = {r.node: r.eigenvector for r in
           eigenvector_centrality(edges, max_iter=30, tol=0.0).collect()}
    assert set(got) == set(adj)
    for v in adj:
        assert got[v] == pytest.approx(round(x[v], 6), abs=2e-6), v


def test_square_clustering_matches_lind_formula(spark):
    import itertools

    from backend_spark.operators.graph import square_clustering

    # C4 on a 4-cycle with one chord and a pendant node
    raw = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (3, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    adj = {}
    for a, b in raw:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def expect(v):
        num = pot = 0
        for u, w in itertools.combinations(sorted(adj[v]), 2):
            sq = len((adj[u] & adj[w]) - {v})
            degm = sq + 1 + (1 if w in adj[u] else 0)
            num += sq
            pot += (len(adj[u]) - degm) + (len(adj[w]) - degm) + sq
        return round(num / pot, 6) if pot > 0 else 0.0

    got = {r.node: r.square_clustering for r in square_clustering(edges).collect()}
    assert set(got) == set(adj)
    for v in adj:
        assert got[v] == pytest.approx(expect(v), abs=1e-9), v


def test_square_clustering_zero_on_pendant_and_no_squares(spark):
    from backend_spark.operators.graph import square_clustering

    # path graph: no squares anywhere, pendant nodes have deg < 2
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r.node: r.square_clustering for r in square_clustering(edges).collect()}
    assert got == {0: 0.0, 1: 0.0, 2: 0.0}


def test_closeness_approx_tracks_exact_and_is_deterministic(spark):
    from backend_spark.operators.graph import (
        closeness_centrality,
        closeness_centrality_approx,
    )

    raw = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    exact = {r.node: r.closeness for r in closeness_centrality(edges).collect()}
    approx = {r.node: r.closeness for r in closeness_centrality_approx(edges).collect()}
    assert set(approx) == set(exact)
    # HLL is exact at these cardinalities; at scale error is ~1.6%
    for n in exact:
        assert approx[n] == pytest.approx(exact[n], rel=0.05), n
    again = {r.node: r.closeness for r in
             closeness_centrality_approx(edges.repartition(7)).collect()}
    assert again == approx  # max-register merges are order-independent


def test_k_core_peeling_cascade(spark):
    from backend_spark.operators.graph import k_core

    # K4 on 0-3; node 4 hangs off 0,1,2 (deg 3); node 5 hangs off 4
    # (deg 1).  k=3: peeling 5 drops 4 to deg 3, which still qualifies,
    # so the 3-core is {0,1,2,3,4}.  k=4 requires degree >= 4 for every
    # member — impossible outside a K5 here, so the 4-core is empty.
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (4, 0), (4, 1), (4, 2), (5, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    core3 = {r.node: r.core_degree for r in k_core(df, k=3).collect()}
    assert set(core3) == {0, 1, 2, 3, 4}
    assert core3[4] == 3 and core3[3] == 3 and core3[0] == 4
    assert k_core(df, k=4).count() == 0
    # k=2: removing 5 is the only peel
    core2 = {r.node for r in k_core(df, k=2).collect()}
    assert core2 == {0, 1, 2, 3, 4}


def test_op_clique_full_compute_list(spark):
    from backend_spark.operators.graph import op_clique

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 5)], "x long, y long")
    out = op_clique(
        edges, ["x", "y"],
        metrics=["degree", "triangles", "clustering", "pagerank",
                 "closeness_centrality", "square_clustering",
                 "eigenvector_centrality_numpy", "clique_list"],
    )
    cols = set(out.columns)
    for m in ("graph_degree", "graph_triangles", "graph_clustering",
              "graph_pagerank", "graph_closeness_centrality",
              "graph_square_clustering", "graph_eigenvector_centrality_numpy",
              "graph_clique_list", "graph_clique_id", "graph_clique_size"):
        assert m in cols, m
    row = {r.x: r for r in out.collect()}
    assert row[1].graph_clique_size == 3 and row[4].graph_clique_size == 2
    assert row[1].graph_triangles == 1
    # triangle nodes dominate the eigenvector mass
    assert (row[1].graph_eigenvector_centrality_numpy
            > row[4].graph_eigenvector_centrality_numpy)


def test_k_core_raises_instead_of_truncating(spark):
    from backend_spark.operators.graph import k_core

    # a long path peels only from the ends: core membership is discrete,
    # so an under-iterated answer must raise, never silently return
    path = spark.createDataFrame([(i, i + 1) for i in range(39)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(path, k=2, max_iter=3).collect()
    assert k_core(path, k=2, max_iter=40).count() == 0


def test_connected_components_raises_instead_of_truncating(spark):
    # 2 rounds of pointer jumping label only part of a 200-node path
    path = spark.createDataFrame([(i, i + 1) for i in range(199)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(path, max_iter=2)


def test_k_truss_raises_instead_of_truncating(spark):
    from backend_spark.operators.graph import k_truss

    # one peel round leaves (1, 2), whose triangles are gone: the
    # 4-truss is empty, so a one-round answer must raise
    raw = [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4), (5, 6)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_truss(edges, k=4, max_rounds=1)
    assert k_truss(edges, k=4, max_rounds=3).count() == 0


def test_closeness_raises_instead_of_truncating(spark):
    from backend_spark.operators.graph import (
        closeness_centrality,
        closeness_centrality_approx,
    )

    # 10-node path: two hops see only part of each node's distance sum
    path = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        closeness_centrality(path, max_hops=2)
    with pytest.raises(RuntimeError, match="fixpoint"):
        closeness_centrality_approx(path, max_hops=2, exact_sets=True)
    got = {r.node: r.closeness for r in closeness_centrality(path).collect()}
    assert got[0] == 0.2  # 9 reachable, distance sum 45


def test_closeness_anf_exact_sets_equals_exact_kernel(spark):
    # the ANF recursion with exact sets must reproduce the exact kernel
    # bit-for-bit — this is the correctness pin for the HLL scale path,
    # which runs the same propagation with mergeable sketches
    from backend_spark.operators.graph import (
        closeness_centrality,
        closeness_centrality_approx,
    )

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)]
        + [(i, (i + 2) % 12) for i in range(0, 12, 2)],
        "src long, dst long",
    )
    exact = {r.node: r.closeness for r in closeness_centrality(edges).collect()}
    anf = {
        r.node: r.closeness
        for r in closeness_centrality_approx(edges, exact_sets=True).collect()
    }
    assert anf == exact


def test_semdedup_drops_in_cluster_near_dups(spark):
    # 0/1 parallel (near-dup), 2 orthogonal; whichever cluster 0 and 1
    # land in, the larger id must be dropped and 2 must survive
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in llm.semdedup(df, n_clusters=2, threshold=0.95).collect()}
    assert len(out) == 3
    assert out[2].keep  # orthogonal vector always survives
    assert out[0].cluster == out[1].cluster  # parallel vectors co-cluster
    assert out[0].keep and not out[1].keep  # prefix rule: smaller id wins
    assert out[1].max_prior_sim == 1.0
    # every row keeps an assignment and a centroid similarity
    assert all(r.cluster is not None and r.centroid_sim is not None for r in out.values())


def test_crosscorpus_neardup_and_decontaminate_fuzzy(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words entirely here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(90, base + " x")], "bench_id long, text string")
    pairs = llm.crosscorpus_neardup(
        corpus, bench, "doc_id", "text", "bench_id", "text", jaccard_threshold=0.5
    )
    got = {(r.doc_id, r.bench_id): r.jaccard for r in pairs.collect()}
    assert set(got) == {(1, 90)} and got[(1, 90)] > 0.8
    kept = llm.decontaminate_fuzzy(
        corpus, bench, "doc_id", "text", "bench_id", "text", jaccard_threshold=0.5
    )
    assert [r.doc_id for r in kept.collect()] == [2]


def test_nb_classifier_separates_vocabularies(spark):
    train = spark.createDataFrame(
        [
            (1, "spam", "buy cheap pills now buy now"),
            (2, "spam", "cheap pills cheap deals"),
            (3, "ham", "meeting notes for the quarterly review"),
            (4, "ham", "quarterly review notes attached"),
        ],
        "doc_id long, label string, text string",
    )
    model = llm.nb_train(train, "label", "text")
    # dense model: every (label, vocab token) pair present
    vocab_n = train.select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).distinct().count()
    assert model.count() == 2 * vocab_n
    test = spark.createDataFrame(
        [(10, "cheap pills"), (11, "quarterly review meeting")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in llm.nb_score(test, model, "doc_id", "text").collect()}
    assert got[10].label == "spam" and got[11].label == "ham"
    assert got[10].margin > 0 and got[11].margin > 0


def test_dup_ngram_fraction_flags_shared_boilerplate(spark):
    shared = "all rights reserved copyright acme corp"
    df = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta epsilon"),
            (2, shared + " zeta eta theta iota kappa"),
            (3, "entirely unique words with no overlap at all here"),
            (4, "tiny"),  # < n tokens -> absent from output
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm.dup_ngram_fraction(df, "doc_id", "text", n=5).collect()}
    assert set(out) == {1, 2, 3}
    # the two shared 5-grams inside the boilerplate prefix are cross-doc dups
    assert out[1].dup_frac > 0 and out[2].dup_frac > 0
    assert out[3].dup_frac == 0.0


def test_temperature_sample_flattens_mixture(spark):
    # 80/20 mixture; alpha=0.5 keeps the rare group whole and halves
    # the head group's keep-rate relative to it
    rows = [(i, "head" if i < 80 else "tail") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = llm.temperature_sample(df, "grp", "doc_id", alpha=0.5)
    rates = {r.grp: r.sample_rate for r in out.select("grp", "sample_rate").distinct().collect()}
    assert rates["tail"] == 1.0
    assert abs(rates["head"] - 0.5) < 0.01  # sqrt(0.2/0.8)
    kept = out.groupBy("grp").count().collect()
    got = {r.grp: r["count"] for r in kept}
    assert got["tail"] == 20  # rate 1 keeps everything
    assert 0 < got["head"] < 80  # head group actually downsampled
    # alpha=1 is a no-op mixture-wise: every rate is 1
    noop = llm.temperature_sample(df, "grp", "doc_id", alpha=1.0)
    assert noop.count() == 100


def test_label_propagation_two_cliques_with_bridge(spark):
    from backend_spark.operators.graph import label_propagation

    # two 4-cliques {0..3} and {10..13} joined by one bridge edge 3-10:
    # LPA floods each clique with its min id; the bridge can't outvote
    # three in-clique neighbors
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges.append((3, 10))
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community for r in label_propagation(df, n_rounds=5).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(10, 14)} == {10}


def test_label_propagation_is_synchronous_and_tie_breaks_min(spark):
    from backend_spark.operators.graph import label_propagation

    # path 0-1-2 after ONE synchronous round: every node adopts the
    # smallest among its neighbors' equally-frequent labels
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r.node: r.community for r in label_propagation(df, n_rounds=1).collect()}
    assert got == {0: 1, 1: 0, 2: 1}


def test_link_prediction_square_hand_check(spark):
    from backend_spark.operators.graph import link_prediction

    # square 0-1-2-3-0: diagonals (0,2) and (1,3) are the only
    # non-adjacent pairs; each shares 2 common neighbors of degree 2,
    # jaccard 2/(2+2-2)=1.0, adamic_adar 2/ln(2)
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long")
    rows = {(r.u, r.v): r for r in link_prediction(df).collect()}
    assert set(rows) == {(0, 2), (1, 3)}
    for r in rows.values():
        assert r.common_neighbors == 2
        assert r.jaccard == 1.0
        assert abs(r.adamic_adar - 2 / 0.6931471805599453) < 1e-6


def test_link_prediction_excludes_adjacent_and_caps_hubs(spark):
    from backend_spark.operators.graph import link_prediction

    # star 0-{1,2,3}: leaves pair up through the hub; with the hub's
    # degree capped out, no wedges survive
    df = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "src long, dst long")
    out = {(r.u, r.v) for r in link_prediction(df).collect()}
    assert out == {(1, 2), (1, 3), (2, 3)}  # adjacent (0,i) never appears
    assert link_prediction(df, max_degree=2).count() == 0
    plan = link_prediction(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_dsir_weights_prefer_target_like_docs(spark):
    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta gamma"),
            (2, "alpha beta gamma alpha beta"),
            (3, "zulu yankee xray zulu yankee"),
            (4, "zulu xray yankee xray zulu"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "alpha beta alpha gamma beta alpha")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in llm.dsir_weights(raw, target, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4}
    # unigrams + bigrams of a 5-token doc = 5 + 4
    assert all(r.n_feats == 9 for r in out.values())
    # target-vocabulary docs outscore off-target docs
    assert min(out[1].logweight, out[2].logweight) > max(out[3].logweight, out[4].logweight)


def test_dsir_weights_skips_empty_docs_and_validates(spark):
    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, None)], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "alpha")], "doc_id long, text string")
    out = llm.dsir_weights(raw, target, "doc_id", "text")
    assert [r.doc_id for r in out.collect()] == [1]
    with pytest.raises(ValueError):
        llm.dsir_weights(raw, target, "doc_id", "text", buckets=0)


def test_bloom_decontaminate_flags_benchmark_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee ff"),          # in benchmark -> all grams hit
            (2, "aa bb cc dd ee zz"),          # shares a prefix gram
            (3, "qq rr ss tt uu vv ww"),       # disjoint
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 1).select("text")
    out = {
        r.doc_id: r
        for r in llm.bloom_decontaminate(
            docs, bench, "doc_id", "text", n=5, m_bits=1 << 16, k=3, threshold=0.5
        ).collect()
    }
    assert out[1].hit_frac == 1.0 and out[1].flagged
    # doc 2: grams = 2, one ("aa bb cc dd ee") in benchmark
    assert out[2].n_grams == 2 and out[2].hit_frac == 0.5 and out[2].flagged
    assert not out[3].flagged and out[3].hit_frac < 0.5
    with pytest.raises(ValueError):
        llm.bloom_decontaminate(docs, bench, "doc_id", "text", m_bits=0)


def test_bloom_probe_is_broadcast_no_shuffle_on_bits(spark):
    docs = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    out = llm.bloom_decontaminate(docs, docs.select("text"), "doc_id", "text", n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_skew_report_hand_check(spark):
    from backend_spark.scale import skew_report

    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    rows = {r.rank: r for r in skew_report(df, "k", top_k=2).collect()}
    assert [rows[1].key, rows[2].key] == ["a", "b"]
    assert rows[1].cnt == 6 and rows[1].share == 0.6 and rows[1].skew == 1.8
    assert rows[1].n_keys == 3 and rows[1].max_sz == 6
    assert rows[1].p50_sz == 3.0  # group sizes 1,3,6 -> median 3


def test_modularity_two_cliques_hand_check(spark):
    from backend_spark.operators.graph import modularity

    # two disjoint triangles, perfect partition: m=6 edges, each
    # community e_c=3, d_c=6 -> Q = 2*(3/6 - (6/12)^2) = 0.5
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    com = spark.createDataFrame(
        [(n, 0) for n in (0, 1, 2)] + [(n, 1) for n in (10, 11, 12)],
        "node long, community long",
    )
    row = modularity(df, com).collect()[0]
    assert row.n_communities == 2 and row.n_edges == 6
    assert row.modularity == 0.5
    # everything in one community -> Q = 1 - 1 = 0
    one = spark.createDataFrame(
        [(n, 0) for n in (0, 1, 2, 10, 11, 12)], "node long, community long"
    )
    assert modularity(df, one).collect()[0].modularity == 0.0


def test_kn_bigram_logprob_hand_check(spark):
    import math

    # corpus: doc1 "a b a b", doc2 "a c"
    # bigram tokens: (a,b)x2, (b,a)x1, (a,c)x1 -> types: (a,b),(b,a),(a,c); T=3
    # c(a)=3, c(b)=1; N1+(a,.)=2, N1+(b,.)=1; N1+(.,b)=1, N1+(.,a)=1, N1+(.,c)=1
    df = spark.createDataFrame([(1, "a b a b"), (2, "a c")], "doc_id long, text string")
    out = {r.doc_id: r for r in llm.kn_bigram_logprob(df, "doc_id", "text").collect()}
    D = 0.75
    p_ab = (max(2 - D, 0.0) + D * 2 * (1 / 3.0)) / 3
    p_ba = (max(1 - D, 0.0) + D * 1 * (1 / 3.0)) / 1
    p_ac = (max(1 - D, 0.0) + D * 2 * (1 / 3.0)) / 3
    assert out[1].n_bigrams == 3
    assert abs(out[1].avg_kn_lp - round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)) < 1e-6
    assert out[2].n_bigrams == 1
    assert abs(out[2].avg_kn_lp - round(math.log(p_ac), 6)) < 1e-6
    # single-token doc absent, bad discount raises
    assert llm.kn_bigram_logprob(
        spark.createDataFrame([(9, "solo")], "doc_id long, text string"), "doc_id", "text"
    ).count() == 0
    with pytest.raises(ValueError):
        llm.kn_bigram_logprob(df, "doc_id", "text", discount=1.5)


def test_kcenter_coreset_spreads_and_radius_decreases(spark):
    # three tight blobs on a line at 0, 10, 100 (2-d); k=3 must take
    # one point from each blob, farthest-first
    pts = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]),
        (10, [10.0, 0.0]), (11, [10.1, 0.0]),
        (20, [100.0, 0.0]), (21, [100.1, 0.0]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    rows = sorted(
        llm.kcenter_coreset(df, "vec_id", "embedding", k=3).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.vec_id for r in rows] == [0, 21, 11]  # seed 0; farthest 21; then blob-10
    assert rows[0].dist == 0.0
    assert rows[1].dist >= rows[2].dist  # coverage radius non-increasing
    # k larger than the dataset stops early; k<1 raises
    assert llm.kcenter_coreset(df.limit(2), "vec_id", "embedding", k=5).count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        llm.kcenter_coreset(df, "vec_id", "embedding", k=0)


def test_containment_pairs_catch_quotes_jaccard_misses(spark):
    host = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon"
    )
    quote = "alpha beta gamma delta epsilon"  # prefix quote, ~1/4 of host
    df = spark.createDataFrame(
        [(1, host), (2, quote), (3, "totally unrelated words here")],
        "doc_id long, text string",
    )
    got = {
        (r.id1, r.id2): r.containment
        for r in llm.containment_pairs(df, "doc_id", "text", shingle_n=5, threshold=0.9).collect()
    }
    # quote fully contained in host (asymmetric: only 2->1 qualifies)
    assert (2, 1) in got and got[(2, 1)] >= 0.9
    assert (1, 2) not in got
    # symmetric jaccard on the same pair is far below 0.9
    assert (
        llm.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=5, threshold=0.9).count() == 0
    )
    assert all(k[0] != 3 and k[1] != 3 for k in got)


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    # cand A (rel .9) and its near-clone A' (rel .89) plus an orthogonal
    # B (rel .5): pure relevance ranks A, A'; MMR must rank A, B
    rows = [
        (1, 0.9, [1.0, 0.0]),
        (2, 0.89, [0.999, 0.01]),
        (3, 0.5, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, rel double, v array<double>")
    got = [
        r.vec_id
        for r in sorted(
            llm.mmr_rerank(df, "vec_id", "rel", "v", k=2, lam=0.5).collect(),
            key=lambda r: r.sel_rank,
        )
    ]
    assert got == [1, 3]
    # lam=1.0 degenerates to pure relevance
    rel_only = [
        r.vec_id
        for r in sorted(
            llm.mmr_rerank(df, "vec_id", "rel", "v", k=2, lam=1.0).collect(),
            key=lambda r: r.sel_rank,
        )
    ]
    assert rel_only == [1, 2]
    with pytest.raises(ValueError):
        llm.mmr_rerank(df, "vec_id", "rel", "v", lam=1.5)


def test_write_training_shards_order_and_manifest(spark, tmp_path):
    df = spark.createDataFrame([(i, f"t{i}") for i in range(40)], "doc_id long, text string")
    path = str(tmp_path / "shards")
    manifest = llm.write_training_shards(df, path, "doc_id", n_shards=4).collect()
    assert sorted(r.shard for r in manifest) == [0, 1, 2, 3]
    assert sum(r.n_rows for r in manifest) == 40
    assert max(r.n_rows for r in manifest) == 10  # perfect round-robin balance
    back = spark.read.parquet(path)
    assert back.count() == 40
    # within a shard, file order replays the global order's residue class
    s0 = [r.shuffle_pos for r in back.where(F.col("shard") == 0).orderBy("shuffle_pos").collect()]
    assert all(p % 4 == 0 for p in s0) and s0 == sorted(s0)
    # checksum is order-independent and re-verifiable downstream
    from backend_spark import functions as fn

    re_sum = {
        r.shard: r.x
        for r in back.groupBy("shard")
        .agg(F.bit_xor(fn.md5_long(F.col("doc_id").cast("string"))).alias("x"))
        .collect()
    }
    assert re_sum == {r.shard: r.id_checksum for r in manifest}


def test_pq_encode_codes_and_reconstruction(spark):
    import json

    # 12 vectors in 3 tight clusters, dim 4, m=2 subspaces
    base = [[0.0, 0.0, 5.0, 5.0], [10.0, 10.0, 0.0, 0.0], [5.0, 0.0, 10.0, 5.0]]
    rows = [
        (i, [c + (i % 4) * 0.01 for c in base[i % 3]]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in llm.pq_encode(df, "vec_id", "embedding", m=2, k=4, n_iter=2).collect()}
    assert set(out) == set(range(12))
    for r in out.values():
        codes = json.loads(r.codes)
        assert len(codes) == 2 and all(0 <= c < 4 for c in codes)
        assert r.recon_err >= 0.0
    # same base vector -> same codes (quantization is deterministic)
    assert out[0].codes == out[3].codes or out[0].recon_err < 0.01
    # richer codebook can only reduce total reconstruction error
    err4 = sum(r.recon_err for r in out.values())
    out8 = llm.pq_encode(df, "vec_id", "embedding", m=2, k=8, n_iter=2).collect()
    assert sum(r.recon_err for r in out8) <= err4 + 1e-9
    with pytest.raises(ValueError):
        llm.pq_encode(df, "vec_id", "embedding", m=3)


def test_pq_encode_equals_kmeans_per_subspace(spark):
    # PQ's fused per-subspace loop and kmeans_assign share one Lloyd's
    # loop: the m=2 codes and errors must equal two kmeans runs over the
    # vector halves, salted as PQ salts its subspaces ("pq0", "pq1")
    import json

    rows = [(i, [((i * 7 + j * 3) % 11) * 0.37 - j for j in range(4)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = {
        r.vec_id: (json.loads(r.codes), r.recon_err)
        for r in llm.pq_encode(df, "vec_id", "embedding", m=2, k=3, n_iter=2, salt="pq").collect()
    }
    halves = [
        {
            r.vec_id: r
            for r in llm.kmeans_assign(
                df.select("vec_id", F.slice("embedding", 2 * s + 1, 2).alias("embedding")),
                "vec_id", "embedding", k=3, n_iter=2, salt=f"pq{s}",
            ).collect()
        }
        for s in range(2)
    ]
    assert set(pq) == set(range(24))
    for i, (codes, err) in pq.items():
        assert codes == [halves[0][i].cluster, halves[1][i].cluster]
        assert err == round(halves[0][i].dist + halves[1][i].dist, 6)
    assert len({tuple(c) for c, _ in pq.values()}) > 1


def test_ann_pq_adc_approximates_exact_search(spark):
    # three separated 4-d blobs; ADC over PQ codes must put the query's
    # own blob members first
    import random as _r

    base = {0: [0.0, 0.0, 5.0, 5.0], 1: [10.0, 10.0, 0.0, 0.0], 2: [5.0, 0.0, 10.0, 5.0]}
    rows = [(i, [c + (i % 5) * 0.01 for c in base[i % 3]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.where(F.col("vec_id") == 0)
    got = [
        r
        for r in llm.ann_pq(
            df, "vec_id", "embedding", queries, "vec_id", m=2, k=4, n_iter=2, topk=5
        ).collect()
    ]
    assert len(got) == 5 and all(r.q_id == 0 for r in got)
    # all hits come from query 0's blob (ids ≡ 0 mod 3)
    assert all(r.vec_id % 3 == 0 for r in got)
    assert got == sorted(got, key=lambda r: (r.adist, r.vec_id))
    with pytest.raises(ValueError):
        llm.ann_pq(df, "vec_id", "embedding", queries, "vec_id", m=3)


def test_split_corpus_stable_and_proportional(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = llm.split_corpus(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.c for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 1600) < 100
    # growth stability: a doc's split never changes when the corpus grows
    small = {r.doc_id: r.split for r in llm.split_corpus(df.limit(100), "doc_id").collect()}
    full = {r.doc_id: r.split for r in llm.split_corpus(df, "doc_id").collect()}
    assert all(full[k] == v for k, v in small.items())
    with pytest.raises(ValueError):
        llm.split_corpus(df, "doc_id", {"a": 0.5, "b": 0.6})


def test_count_min_sketch_overestimates_only_and_merges(spark):
    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry")], "doc_id long, text string"
    )
    sk = llm.count_min_sketch(docs, "text", width=64, depth=3)
    est = {r.term: r.est for r in llm.cms_query(sk, ["apple", "banana", "durian"], width=64, depth=3).collect()}
    assert est["apple"] >= 3 and est["banana"] >= 1
    assert est["durian"] >= 0  # never underestimates; may overestimate
    # mergeability: sketch(A union B) == cellwise-sum of sketches
    a, b = docs.where(F.col("doc_id") == 1), docs.where(F.col("doc_id") == 2)
    sa = llm.count_min_sketch(a, "text", width=64, depth=3)
    sb = llm.count_min_sketch(b, "text", width=64, depth=3)
    merged = (
        sa.unionByName(sb).groupBy("r", "cell").agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(r.r, r.cell): r.cnt for r in sk.collect()}
    assert {(r.r, r.cell): r.cnt for r in merged.collect()} == whole


def test_ngram_novelty_orders_originals_before_clones(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),       # all grams first seen here
            (2, "a b c d e f g"),       # exact clone -> nothing novel
            (3, "x y z w v u t"),       # disjoint -> fully novel
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in llm.ngram_novelty(df, "doc_id", "text", n=5).collect()}
    assert got[1].novel_frac == 1.0
    assert got[2].novel_frac == 0.0
    assert got[3].novel_frac == 1.0
    assert got[1].n_grams == 3  # 7 tokens, 5-grams -> 3
    # short doc absent (fewer than n tokens -> no grams -> no row)
    with_short = df.unionByName(
        spark.createDataFrame([(9, "too short")], "doc_id long, text string")
    )
    assert 9 not in {
        r.doc_id for r in llm.ngram_novelty(with_short, "doc_id", "text", n=5).collect()
    }


def test_geo_join_radius_seam_and_high_latitude(spark):
    from backend_spark.operators.joins import geo_join

    # Paris / nearby Versailles / London / antimeridian pair / 70°N pair
    left = spark.createDataFrame(
        [
            (1, 48.8566, 2.3522),     # Paris
            (4, 0.0, 179.95),         # west of the date line
            (6, 70.0, 20.0),          # high latitude
        ],
        "lid long, lat double, lon double",
    )
    right = spark.createDataFrame(
        [
            (10, 48.8049, 2.1204),    # Versailles (~18 km from Paris)
            (11, 51.5074, -0.1278),   # London (~340 km)
            (12, 0.0, -179.95),       # east of the date line (~22 km)
            (13, 70.0, 20.55),        # ~21 km east at 70°N (lon shrinks)
        ],
        "rid long, lat double, lon double",
    )
    got = {(r.lid, r.rid): r.dist_km for r in geo_join(left, right, 25.0, "lid", "rid").collect()}
    assert (1, 10) in got and 15 < got[(1, 10)] < 25
    assert (4, 12) in got  # blocking survives the ±180° seam
    assert (6, 13) in got  # lon-neighbor span widens with latitude
    assert all(rid != 11 for (_, rid) in got)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        geo_join(left, right, 0, "lid", "rid")


def test_geo_join_seam_at_high_latitude_fractional_cell(spark):
    # the round-7 review's exact counterexample: 58.2°N pair straddling
    # the antimeridian, 23.5 km apart — a fractional last lon cell (or
    # an undersized neighbor span) drops it
    from backend_spark.operators.joins import geo_join

    left = spark.createDataFrame([(1, 58.2, -179.999)], "lid long, lat double, lon double")
    right = spark.createDataFrame([(2, 58.2, 179.60)], "rid long, lat double, lon double")
    got = geo_join(left, right, 25.0, "lid", "rid").collect()
    assert len(got) == 1 and got[0].dist_km < 25.0


def test_interval_join_matches_bruteforce_no_dupes(spark):
    import itertools

    from backend_spark.operators import interval_join

    lrows = [(i, float(3 * i % 17), float(3 * i % 17) + 1 + (i % 5)) for i in range(20)]
    rrows = [(j, float(5 * j % 13), float(5 * j % 13) + 1 + (j % 4)) for j in range(15)]
    left = spark.createDataFrame(lrows, "lid long, lo double, hi double")
    right = spark.createDataFrame(rrows, "rid long, lo double, hi double")
    out = interval_join(left, right, "lo", "hi", "lo", "hi", bin_width=4.0)
    pairs = [(r.lid, r.iv_rid) for r in out.collect()]
    want = {
        (li, rj)
        for (li, llo, lhi), (rj, rlo, rhi) in itertools.product(lrows, rrows)
        if llo < rhi and rlo < lhi
    }
    assert set(pairs) == want
    assert len(pairs) == len(set(pairs))  # first-common-bin rule: no dupe pairs
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_interval_join_half_open_touching_and_keys(spark):
    from backend_spark.operators import interval_join

    left = spark.createDataFrame(
        [(1, "u", 0.0, 10.0), (2, "u", 10.0, 20.0), (3, "v", 0.0, 10.0)],
        "lid long, who string, lo double, hi double",
    )
    right = spark.createDataFrame(
        [(7, "u", 10.0, 15.0), (8, "v", 9.0, 9.5), (9, "u", 5.0, 10.0)],
        "rid long, who string, lo double, hi double",
    )
    got = {
        (r.lid, r.iv_rid)
        for r in interval_join(
            left, right, "lo", "hi", "lo", "hi", bin_width=8.0, on="who"
        ).collect()
    }
    # touching at 10.0 never matches (half-open); keys separate u from v
    assert got == {(2, 7), (1, 9), (3, 8)}


def test_er_resolve_chains_singletons_and_survivorship(spark):
    from backend_spark.operators import er_resolve

    recs = spark.createDataFrame(
        [
            (1, "ACME", "NY", 100.0),
            (2, "Acme Inc", "NY", 250.0),
            (3, "ACME Corp", "SF", 50.0),
            (9, "Zeta", "LA", 10.0),          # singleton
            (4, "Beta", None, 5.0),
            (5, "Beta LLC", None, 7.0),
        ],
        "rid long, name string, city string, bal double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "left_id long, right_id long"
    )  # 1-2-3 is a CHAIN: transitivity must close it
    out = er_resolve(
        recs, pairs, "rid",
        {"name": "first", "city": "mode", "bal": "max"},
    )
    got = {r.entity_id: (r.n_members, r.name, r.city, r.bal) for r in out.collect()}
    assert got == {
        1: (3, "ACME", "NY", 250.0),   # mode city NY (2 of 3); max bal; first name
        4: (2, "Beta", None, 7.0),     # all-null mode -> null
        9: (1, "Zeta", "LA", 10.0),    # singleton survives via self-loop
    }


def test_er_resolve_mode_tie_breaks_to_smallest(spark):
    from backend_spark.operators import er_resolve
    import pytest

    recs = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "a"), (4, "b")], "rid long, v string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "left_id long, right_id long")
    out = er_resolve(recs, pairs, "rid", {"v": "mode"}).collect()
    assert [(r.entity_id, r.v) for r in out] == [(1, "a")]  # 2-2 tie -> 'a'
    with pytest.raises(ValueError):
        er_resolve(recs, pairs, "rid", {"v": "median"})
    with pytest.raises(ValueError):
        er_resolve(recs, pairs, "rid", {"nope": "min"})
    # floats: 0.0 and -0.0 count as one value and report 0.0 (positive);
    # a date tie goes to the earlier date; an all-null cluster is null
    import datetime
    import math

    d1, d2 = datetime.date(2020, 1, 1), datetime.date(2020, 1, 2)
    nan = float("nan")
    recs = spark.createDataFrame(
        [(1, 0.0, d2, None), (2, -0.0, d1, None), (3, nan, d2, None), (4, nan, d1, None),
         (10, -0.0, d2, None), (11, -0.0, d2, None), (12, 0.0, d1, None)],
        "rid long, x double, d date, s string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "left_id long, right_id long"
    )
    out = er_resolve(recs, pairs, "rid", {"x": "mode", "d": "mode", "s": "mode"}).collect()
    got = {r.entity_id: (r.x, math.copysign(1.0, r.x), r.d, r.s) for r in out}
    assert got == {1: (0.0, 1.0, d1, None), 10: (0.0, 1.0, d2, None)}


def test_er_resolve_mega_cluster_guard(spark):
    from backend_spark.operators import er_resolve
    import pytest

    # 40 records chained into ONE cluster: blocking-collapse fixture
    recs = spark.createDataFrame([(i, "x") for i in range(40)], "rid long, v string")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "left_id long, right_id long"
    )
    with pytest.raises(ValueError, match="max_cluster_size"):
        er_resolve(recs, pairs, "rid", {"v": "mode"}, max_cluster_size=10)
    # cap raised / disabled: same pipeline resolves fine
    out = er_resolve(recs, pairs, "rid", {"v": "mode"}, max_cluster_size=40).collect()
    assert [(r.entity_id, r.n_members, r.v) for r in out] == [(0, 40, "x")]
    out = er_resolve(recs, pairs, "rid", {"v": "mode"}, max_cluster_size=None).collect()
    assert [(r.entity_id, r.n_members) for r in out] == [(0, 40)]
    with pytest.raises(ValueError, match="must be >= 1"):
        er_resolve(recs, pairs, "rid", {"v": "mode"}, max_cluster_size=0)


def test_caverphone_published_vectors(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame(
        [("Peter",), ("Stevenson",), ("Thompson",), ("David",), ("Whittle",),
         ("",), (None,), ("123",)],
        "n string",
    )
    got = [r.k for r in df.select(fn.caverphone(F.col("n")).alias("k")).collect()]
    assert got == [
        "PTA1111111", "STFNSN1111", "TMPSN11111", "TFT1111111", "WTA1111111",
        "", "", "",
    ]


def test_floor_bin_integral_exact_large_and_negative(spark):
    # integral widths: exact integer bins even at magnitudes where
    # double division misrounds (the ADVICE r8 boundary case), and
    # Python-floor semantics for negative/fractional values
    from backend_spark.operators.joins import _floor_bin

    import pyspark.sql.functions as F

    vals = [
        3_600_000_000 * 1_000_000 - 1,   # just under a bin boundary at ~3.6e15
        3_600_000_000 * 1_000_000,
        -3_600_000_000 * 1_000_000 - 1,
        -7, -1, 0, 1, 7,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.b for r in df.select("v", _floor_bin(F.col("v"), 3_600_000_000).alias("b")).collect()}
    for v in vals:
        assert got[v] == v // 3_600_000_000, v
    frac = spark.createDataFrame([(-2.7,), (2.7,), (-4.0,)], "v double")
    gotf = [r.b for r in frac.select(_floor_bin(F.col("v"), 2).alias("b")).collect()]
    assert gotf == [-2, 1, -2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _floor_bin(F.col("v"), 0)


def test_interval_join_rejects_column_collisions(spark):
    from backend_spark.operators import interval_join

    import pytest as _pytest

    left = spark.createDataFrame([(1, 0.0, 1.0)], "lid long, lo double, hi double")
    right = spark.createDataFrame([(2, 0.0, 1.0)], "rid long, lo double, hi double")
    with _pytest.raises(ValueError, match="reserved"):
        interval_join(
            left.withColumnRenamed("lid", "__bin"), right, "lo", "hi", "lo", "hi", 1.0
        )
    # left already has iv_rid -> the prefixed right id would collide
    with _pytest.raises(ValueError, match="collide"):
        interval_join(
            left.withColumnRenamed("lid", "iv_rid"), right, "lo", "hi", "lo", "hi", 1.0
        )


def test_range_join_rejects_reserved_columns(spark):
    from backend_spark.operators.joins import range_join

    import pytest as _pytest

    points = spark.createDataFrame([(1, 5.0)], "pid long, v double")
    ivals = spark.createDataFrame([(2, 0.0, 10.0)], "iid long, lo double, hi double")
    with _pytest.raises(ValueError, match="reserved"):
        range_join(points.withColumnRenamed("pid", "__bin"), ivals, "v", "lo", "hi", 4.0)


def test_geo_join_skips_distinct_at_normal_radius(spark):
    from backend_spark.operators.joins import geo_join

    left = spark.createDataFrame(
        [(1, 48.8566, 2.3522)], "lid long, lat double, lon double"
    )
    right = spark.createDataFrame(
        [(10, 48.8049, 2.1204)], "rid long, lat double, lon double"
    )
    out = geo_join(left, right, 25.0, "lid", "rid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no wrap possible at 25 km -> the result-sized distinct shuffle is gone
    assert "HashAggregate" not in plan
    assert out.count() == 1
    # planetary radius CAN wrap the lon ring -> distinct guard engages,
    # and the result still has no duplicate pairs
    big = geo_join(left, right, 7000.0, "lid", "rid").collect()
    assert len(big) == len({(r.lid, r.rid) for r in big}) == 1


def test_pair_features_kinds_and_validation(spark):
    import pytest as _pytest

    from backend_spark.operators import pair_features

    recs = spark.createDataFrame(
        [(1, "smith", "NY", 10.0), (2, "smyth", "NY", 12.5), (3, "jones", None, 1.0)],
        "rid long, name string, city string, bal double",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "left_id long, right_id long")
    out = {
        (r.left_id, r.right_id): r
        for r in pair_features(
            recs, pairs, "rid",
            {"name": ["lev_norm", "jw"], "city": "exact", "bal": "abs_diff"},
        ).collect()
    }
    r12 = out[(1, 2)]
    # lev(smith, smyth)=1, min len 5 -> rint(100 - 100/6)/100 = 0.83
    assert r12.f_name_lev_norm == 0.83
    assert 0.8 < r12.f_name_jw <= 1.0
    assert r12.f_city_exact == 1 and r12.f_bal_abs_diff == 2.5
    r13 = out[(1, 3)]
    assert r13.f_city_exact == 0          # NY vs NULL -> null-safe 0
    with _pytest.raises(ValueError, match="unknown kind"):
        pair_features(recs, pairs, "rid", {"name": "cosine"})
    with _pytest.raises(ValueError, match="not in records"):
        pair_features(recs, pairs, "rid", {"missing": "exact"})


def test_blocking_eval_metrics_and_orientation(spark):
    import pytest as _pytest

    from backend_spark.operators import blocking_eval

    cand = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 9)], "left_id long, right_id long"
    )
    gold = spark.createDataFrame(
        [(2, 1), (4, 3), (7, 8)], "left_id long, right_id long"
    )
    row = blocking_eval(cand, gold, total_pairs=100).collect()[0]
    # (1,2) and (2,1) normalize to one candidate pair
    assert row.n_candidates == 3 and row.n_gold == 3 and row.n_found == 2
    assert row.pair_completeness == 0.666667
    assert row.reduction_ratio == 0.97
    with _pytest.raises(ValueError, match="total_pairs"):
        blocking_eval(cand, gold, total_pairs=0)


def test_shortest_paths_multi_source_and_unreachable(spark):
    from backend_spark.operators import shortest_paths
    import pytest

    # path 0-1-2-3, isolated edge 8-9: nodes 8,9 unreachable from {0}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (8, 9)], "src long, dst long"
    )
    got = {r.node: r.dist for r in shortest_paths(edges, [0]).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    # multi-source: distance is min over sources
    got = {r.node: r.dist for r in shortest_paths(edges, [0, 3]).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 0}
    # max_iter truncation: only layers reached within the budget appear
    got = {r.node: r.dist for r in shortest_paths(edges, [0], max_iter=1).collect()}
    assert got == {0: 0, 1: 1}
    # a source absent from the graph contributes nothing
    got = {r.node: r.dist for r in shortest_paths(edges, [42, 8]).collect()}
    assert got == {8: 0, 9: 1}
    with pytest.raises(ValueError, match="non-empty"):
        shortest_paths(edges, [])


def test_shortest_paths_directed(spark):
    from backend_spark.operators import shortest_paths

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    got = {r.node: r.dist for r in shortest_paths(edges, [2], directed=True).collect()}
    assert got == {2: 0}  # no outgoing edges from 2
    got = {r.node: r.dist for r in shortest_paths(edges, [2]).collect()}
    assert got == {0: 2, 1: 1, 2: 0}  # undirected default


def test_sorted_neighborhood_window_and_dup_keys(spark):
    from backend_spark.operators import sorted_neighborhood
    import pytest

    # duplicate sort keys: id tie-break keeps the order total
    recs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")], "rid long, k string"
    )
    out = sorted_neighborhood(recs, "rid", ["k"], window=2)
    got = {(r.left_id, r.right_id, r.rank_dist) for r in out.collect()}
    assert got == {(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)}
    # window=3 adds the distance-2 pairs
    out3 = sorted_neighborhood(recs, "rid", "k", window=3)
    assert {(r.left_id, r.right_id) for r in out3.collect()} == {
        (1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (2, 4), (3, 5)
    }
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood(recs, "rid", ["k"], window=1)
    with pytest.raises(ValueError, match="not in records"):
        sorted_neighborhood(recs, "rid", ["nope"], window=2)


def test_sorted_neighborhood_collision_guard(spark):
    from backend_spark.operators import sorted_neighborhood
    import pytest

    recs = spark.createDataFrame([(1, "a")], "rank_dist long, k string")
    with pytest.raises(ValueError, match="collision"):
        sorted_neighborhood(recs, "rank_dist", ["k"], window=2)
    recs2 = spark.createDataFrame([(1, "a")], "rid long, k string")
    with pytest.raises(ValueError, match="collision"):
        sorted_neighborhood(recs2, "rid", ["k"], window=2, left_col="x", right_col="x")


def test_negative_edges_no_real_edges_no_dups_deterministic(spark):
    from backend_spark.operators.graph import negative_edges, _sym_edges
    import pytest

    edges = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)] + [(0, 5)], "src long, dst long"
    )
    out = negative_edges(edges, k=2, oversample=4)
    rows = out.collect()
    sym = {(r.a, r.b) for r in _sym_edges(edges, "src", "dst").collect()}
    assert all((r.u, r.v) not in sym and r.u != r.v for r in rows)
    assert len({(r.u, r.v) for r in rows}) == len(rows)  # no duplicate pairs
    per_node = {}
    for r in rows:
        per_node.setdefault(r.u, []).append(r.neg_rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_node.values())
    assert all(len(v) <= 2 for v in per_node.values())
    # deterministic across runs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, negative_edges(edges, k=2, oversample=4).collect()))
    with pytest.raises(ValueError, match="oversample"):
        negative_edges(edges, k=0)


def test_personalized_pagerank_locality_and_mass(spark):
    from backend_spark.operators.graph import personalized_pagerank

    # path graph 0-1-2-3-4-5: restart at node 0 -> mass decays with
    # distance from the seed
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r.node: r.ppr for r in personalized_pagerank(edges, sources=[0]).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}

    # exact python replica of the fixed-iteration kernel
    adj = {0: [1], 1: [0, 2], 2: [1, 3], 3: [2, 4], 4: [3, 5], 5: [4]}
    r = {v: (1.0 if v == 0 else 0.0) for v in adj}
    for _ in range(10):
        r = {
            v: 0.15 * (1.0 if v == 0 else 0.0)
            + 0.85 * sum(r[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    for v in adj:
        assert got[v] == pytest.approx(round(r[v], 6), abs=2e-6), v
    # mass concentrates near the seed (2 hops out is already below it)
    assert got[0] > got[2] > got[4]
    # undirected connected graph, no dangling: total mass stays 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-4)
    # two seeds split the teleport mass; symmetric graph -> symmetric ranks
    got2 = {r.node: r.ppr for r in personalized_pagerank(edges, sources=[0, 5]).collect()}
    assert got2[0] == pytest.approx(got2[5], abs=2e-6)
    assert got2[2] == pytest.approx(got2[3], abs=2e-6)
    # rerun-stable (fixed iteration count, no tol)
    again = {r.node: r.ppr for r in personalized_pagerank(edges, sources=[0]).collect()}
    assert got == again
    with pytest.raises(ValueError, match="sources"):
        personalized_pagerank(edges, sources=[])


def test_personalized_pagerank_from_every_node_is_pagerank(spark):
    from backend_spark.operators.graph import pagerank, personalized_pagerank

    # restarting uniformly over all nodes is plain PageRank: both run
    # the same power iteration, only the teleport Column differs
    raw = [(i, (i + 1) % 7) for i in range(7)] + [(0, 3), (2, 5), (7, 8)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    nodes = sorted({u for e in raw for u in e})
    ppr = personalized_pagerank(edges, sources=nodes, round_to=None).collect()
    pr = pagerank(edges, tol=0, max_iter=10, round_to=None).collect()
    ppr, pr = {r.node: r.ppr for r in ppr}, {r.node: r.pagerank for r in pr}
    assert set(ppr) == set(pr) == set(nodes)
    for v in nodes:
        assert ppr[v] == pytest.approx(pr[v], abs=1e-12), v


def test_hits_star_and_replica(spark):
    from backend_spark.operators.graph import hits

    # pure star: 1,2,3 -> 9.  9 is the only authority; 1-3 equal hubs
    star = spark.createDataFrame([(1, 9), (2, 9), (3, 9)], "src long, dst long")
    got = {r.node: (r.hub, r.authority) for r in hits(star).collect()}
    assert got[9] == (0.0, 1.0)
    for v in (1, 2, 3):
        assert got[v] == (pytest.approx(round(1 / 3, 6), abs=1e-6), 0.0)

    # directed ring + chords: compare against an exact integer replica
    raw = [(i, (i + 1) % 6) for i in range(6)] + [(0, 2), (2, 4)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    nodes = sorted({u for e in raw for u in e})
    h = {v: 1 for v in nodes}
    for _ in range(8):
        a = {v: sum(h[s] for s, d in raw if d == v) for v in nodes}
        h = {v: sum(a[d] for s, d in raw if s == v) for v in nodes}
    th, ta = sum(h.values()), sum(a.values())
    got2 = {r.node: (r.hub, r.authority) for r in hits(edges).collect()}
    for v in nodes:
        assert got2[v][0] == pytest.approx(round(h[v] / th, 6), abs=1e-6), v
        assert got2[v][1] == pytest.approx(round(a[v] / ta, 6), abs=1e-6), v
    # rerun-stable and partition-invariant (integer sums)
    got3 = {r.node: (r.hub, r.authority) for r in hits(edges.repartition(5)).collect()}
    assert got2 == got3


def test_k_truss_peeling_cascade(spark):
    from backend_spark.operators.graph import k_truss

    # two triangles sharing edge (1,2), plus a pendant edge
    raw = [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4), (5, 6)]
    edges = spark.createDataFrame(raw, "src long, dst long")
    # 3-truss: every triangle edge has support >= 1; pendant peeled
    t3 = {(r.a, r.b): r.support for r in k_truss(edges, k=3).collect()}
    assert set(t3) == {(1, 2), (2, 3), (1, 3), (1, 4), (2, 4)}
    assert t3[(1, 2)] == 2 and t3[(2, 3)] == 1
    # 4-truss: only (1,2) has support 2; peeling the others breaks its
    # triangles too -> the cascade empties the graph (NOT a one-round
    # filter, which would keep (1,2))
    assert k_truss(edges, k=4).count() == 0
    # clique on 5 nodes: 4-truss keeps everything, support = 3
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    out = k_truss(spark.createDataFrame(k5, "src long, dst long"), k=4)
    rows = out.collect()
    assert len(rows) == 10 and all(r.support == 3 for r in rows)
    with pytest.raises(ValueError, match="k must be"):
        k_truss(edges, k=2)


def test_fs_weights_known_counts(spark):
    from math import log2

    from backend_spark.operators import fs_weights

    # 4 matches: f agrees in 3; 4 unmatches: f agrees in 1.
    rows = [(1, 1), (1, 1), (1, 1), (0, 1), (1, 0), (0, 0), (0, 0), (0, 0)]
    df = spark.createDataFrame(rows, "f int, y int")
    got = fs_weights(df, ["f"], "y", smoothing=0.5).collect()
    assert len(got) == 1
    r = got[0]
    m, u = (3 + 0.5) / 5, (1 + 0.5) / 5
    assert r.feature == "f"
    assert r.m_prob == round(m, 6) and r.u_prob == round(u, 6)
    assert r.w_agree == round(log2(m / u), 6)
    assert r.w_disagree == round(log2((1 - m) / (1 - u)), 6)


def test_fs_weights_null_is_disagreement_and_validation(spark):
    import pytest

    from backend_spark.operators import fs_weights

    df = spark.createDataFrame(
        [(None, 1), (1, 1), (None, None), (1, 0)], "f int, y int"
    )
    r = fs_weights(df, ["f"], "y").collect()[0]
    # matches: rows with y truthy -> 2 (one agree); unmatches: 2 (one agree)
    assert r.m_prob == round(1.5 / 3, 6) and r.u_prob == round(1.5 / 3, 6)
    assert r.w_agree == 0.0  # log2(1) — identical m/u
    with pytest.raises(ValueError, match="not in pairs"):
        fs_weights(df, ["nope"], "y")
    with pytest.raises(ValueError, match="non-empty"):
        fs_weights(df, [], "y")
    with pytest.raises(ValueError, match="smoothing"):
        fs_weights(df, ["f"], "y", smoothing=0.0)


def test_fs_score_applies_pattern(spark):
    import pytest

    from backend_spark.operators import fs_score, fs_weights

    pairs = spark.createDataFrame(
        [(1, 1, 1, 1), (2, 1, 0, 1), (3, 0, None, 0), (4, 0, 1, 0), (5, 1, 1, 1)],
        "pid long, f1 int, f2 int, y int",
    )
    w = fs_weights(pairs, ["f1", "f2"], "y")
    scored = fs_score(pairs, w, ["f1", "f2"])
    wm = {r.feature: r for r in w.collect()}
    got = {r.pid: r.match_weight for r in scored.collect()}
    exp1 = round(wm["f1"].w_agree + wm["f2"].w_agree, 6)
    exp3 = round(wm["f1"].w_disagree + wm["f2"].w_disagree, 6)  # NULL = disagree
    assert got[1] == exp1 and got[3] == exp3
    # agreeing pairs outscore disagreeing ones
    assert got[1] > got[2] > got[3]
    with pytest.raises(ValueError, match="no weights"):
        fs_score(pairs, w, ["f1", "zzz"])
    with pytest.raises(ValueError, match="not in pairs"):
        fs_score(pairs.drop("f2"), w, ["f1", "f2"])


def test_freq_phrases_closedness(spark):
    import pytest

    from backend_spark.llm import freq_phrases

    # "new york city" appears 3x in VARIED contexts (each 4-gram
    # extension is unique) -> closed; "new york" appears 5x (3 inside
    # the longer phrase + 2 alone) -> closed.  "big apple pie" appears
    # 3x varied -> closed, but "big apple"/"apple pie" only ever occur
    # inside it with the same count -> pruned as non-closed.
    docs = [
        "new york city is big",
        "new york city was small",
        "see new york city now",
        "i love new york",
        "new york wins",
        "big apple pie now",
        "big apple pie later",
        "his big apple pie",
    ]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = {(r.phrase, r.n): r.cnt for r in freq_phrases(df, "text", 2, 3, min_count=3).collect()}
    assert got[("new york", 2)] == 5
    assert got[("new york city", 3)] == 3
    assert ("big apple", 2) not in got
    assert got[("big apple pie", 3)] == 3
    assert ("apple pie", 2) not in got  # same count as its extension
    # with min_count=4 only "new york" (5) clears the bar at all
    got4 = {(r.phrase, r.n) for r in freq_phrases(df, "text", 2, 3, min_count=4).collect()}
    assert got4 == {("new york", 2)}
    with pytest.raises(ValueError, match="n_min"):
        freq_phrases(df, "text", 3, 2)
    with pytest.raises(ValueError, match="min_count"):
        freq_phrases(df, "text", 2, 3, min_count=0)


def test_key_collision_clusters_variants(spark):
    import pytest

    from backend_spark.operators import key_collision

    rows = [
        ("Acme Corp.",), ("ACME CORP",), ("Acme Corp.",), ("corp acme",),
        ("Beta LLC",), ("beta  llc",),
        ("Solo Inc",),
        (None,), ("  ...  ",),  # null and empty-normalizing excluded
    ]
    df = spark.createDataFrame(rows, "name string")
    got = {r.key: r for r in key_collision(df, "name").collect()}
    assert set(got) == {"acme corp", "beta llc"}
    a = got["acme corp"]
    assert a.n_rows == 4 and a.n_variants == 3
    assert a.canonical == "Acme Corp."  # count 2 beats the count-1 variants
    b = got["beta llc"]
    # 1-1 tie -> lexicographically smaller original wins
    assert b.n_variants == 2 and b.canonical == "Beta LLC"
    # min_variants=1 exposes singletons too
    all_keys = {r.key for r in key_collision(df, "name", min_variants=1).collect()}
    assert "inc solo" in all_keys  # keys are token-SORTED
    with pytest.raises(ValueError, match="not in df"):
        key_collision(df, "zzz")
    with pytest.raises(ValueError, match="min_variants"):
        key_collision(df, "name", min_variants=0)


def test_fs_em_recovers_planted_mixture(spark):
    import pytest

    from backend_spark.operators import fs_em, fs_score

    # planted two-class data: 40% matches agree on f1 90% / f2 80%;
    # unmatches agree 10% / 20%.  EM gets no labels.
    rows = []
    rid = 0
    for is_match, count in [(1, 400), (0, 600)]:
        for j in range(count):
            f1 = int((j * 7) % 10 < (9 if is_match else 1))
            f2 = int((j * 3) % 10 < (8 if is_match else 2))
            rows.append((rid, f1, f2))
            rid += 1
    df = spark.createDataFrame(rows, "pid long, f1 int, f2 int")
    w = {r.feature: r for r in fs_em(df, ["f1", "f2"], n_iter=25).collect()}
    # the match class must separate: m >> u on both features, and the
    # prior must land near the planted 40%
    assert w["f1"].m_prob > 0.8 and w["f1"].u_prob < 0.2
    assert w["f2"].m_prob > 0.6 and w["f2"].u_prob < 0.35
    assert 0.3 < w["f1"].prior < 0.5
    assert w["f1"].w_agree > 0 > w["f1"].w_disagree
    # the learned weights rank full-agreement pairs above full-disagreement
    wdf = fs_em(df, ["f1", "f2"], n_iter=25)
    scored = {r.pid: r.match_weight for r in fs_score(df, wdf, ["f1", "f2"]).collect()}
    assert scored[0] == max(scored.values())  # pid 0: f1=f2=1
    with pytest.raises(ValueError, match="feature_cols"):
        fs_em(df, [])
    with pytest.raises(ValueError, match="n_iter"):
        fs_em(df, ["f1"], n_iter=0)
    with pytest.raises(ValueError, match="init"):
        fs_em(df, ["f1"], init_m=0.1, init_u=0.9)


def test_fs_em_trace_is_deterministic(spark):
    from backend_spark.operators import fs_em

    df = spark.createDataFrame(
        [(i, int(i % 3 == 0), int(i % 2 == 0)) for i in range(60)],
        "pid long, f1 int, f2 int",
    )
    a = sorted(map(tuple, fs_em(df, ["f1", "f2"], n_iter=7).collect()))
    b = sorted(map(tuple, fs_em(df.repartition(13), ["f1", "f2"], n_iter=7).collect()))
    assert a == b  # partitioning cannot move the trajectory


def test_pca_top_matches_numpy(spark):
    import numpy as np
    import pytest

    from backend_spark.llm import pca_top

    # planted dominant direction + noise, checked against numpy eigh
    rng_free = [(i * 2654435761) % 1000 / 1000.0 for i in range(400)]
    rows = []
    for r in range(100):
        t = rng_free[r]
        v = [3.0 * t + 0.01 * rng_free[100 + (r * 4 + c) % 300] for c in range(4)]
        v[0] += 2.0 * t  # dim 0 loads hardest
        rows.append(([float(x) for x in v],))
    df = spark.createDataFrame(rows, "emb array<double>")
    out = pca_top(df, "emb", dim=4, scale=100000, n_iter=60).collect()
    got = np.array([r.loading for r in sorted(out, key=lambda r: r.dim)])
    lam = out[0].eigenvalue
    arr = np.array([r[0] for r in rows])
    q = np.sign(arr * 100000) * np.floor(np.abs(arr * 100000) + 0.5)
    cov = np.cov(q / 100000, rowvar=False, bias=True)
    w, v = np.linalg.eigh(cov)
    top = v[:, -1] * np.sign(v[:, -1].sum())
    mine = got * np.sign(got.sum())
    assert np.abs(mine - top).max() < 1e-4
    assert lam == pytest.approx(w[-1], rel=1e-3)
    # determinism across partitioning
    again = pca_top(df.repartition(7), "emb", dim=4, scale=100000, n_iter=60).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    with pytest.raises(ValueError, match="not in df"):
        pca_top(df, "zzz", dim=4)
    with pytest.raises(Exception, match="vector length"):
        pca_top(df, "emb", dim=5).collect()


def test_match_cascade_waterfall(spark):
    import pytest

    from backend_spark.operators import match_cascade

    ref = spark.createDataFrame(
        [(1, "Alice", "N1"), (2, "Bob", "N1"), (3, "Carol", "N2")],
        "rid long, rname string, rnation string",
    )
    df = spark.createDataFrame(
        [
            (10, "Alice", "N9"),   # pass 1: exact name
            (11, "BOB", "N9"),     # pass 2: lowered name
            (12, "Zed", "N2"),     # pass 3: nation block (-> Carol)
            (13, "Zed", "N1"),     # pass 3 ambiguous (-> min struct = rid 1)
            (14, "Zed", "N7"),     # never matches
            (15, None, "N1"),      # null name skips passes 1-2, hits 3
        ],
        "id long, name string, nation string",
    )
    passes = [
        {"name": "exact", "keys": [("name", "rname")]},
        {"name": "norm", "keys": [("lower(name)", "lower(rname)")]},
        {"name": "block", "keys": [("nation", "rnation")]},
    ]
    out = {
        r.id: r
        for r in match_cascade(df, ref, passes, {"m_id": "rid", "m_name": "rname"}).collect()
    }
    assert len(out) == 6
    assert (out[10].m_id, out[10].match_pass) == (1, "exact")
    assert (out[11].m_id, out[11].match_pass) == (2, "norm")
    assert (out[12].m_id, out[12].match_pass) == (3, "block")
    assert (out[13].m_id, out[13].match_pass) == (1, "block")  # deterministic min
    assert out[14].m_id is None and out[14].match_pass is None
    assert (out[15].m_id, out[15].match_pass) == (1, "block")
    with pytest.raises(ValueError, match="non-empty"):
        match_cascade(df, ref, [], {"m_id": "rid"})
    with pytest.raises(ValueError, match="duplicate pass"):
        match_cascade(df, ref, [passes[0], passes[0]], {"m_id": "rid"})
    with pytest.raises(ValueError, match="collide"):
        match_cascade(df, ref, passes, {"name": "rname"})
    with pytest.raises(ValueError, match="no keys"):
        match_cascade(df, ref, [{"name": "x", "keys": []}], {"m_id": "rid"})
    # reserved internal names fail fast with a clear error, not an
    # ambiguous-column analysis error deep in the cascade
    with pytest.raises(ValueError, match="reserved"):
        match_cascade(df.withColumn("__mc_v", F.lit(1)), ref, passes, {"m_id": "rid"})
    with pytest.raises(ValueError, match="reserved"):
        match_cascade(df, ref.withColumn("__mc_k0", F.lit(1)), passes, {"m_id": "rid"})
