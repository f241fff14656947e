"""RecipeBook compiles a recipe once per input schema: warm applications
bind their input to prebuilt Columns, and the book-scoped cache of
compiled recipes, fuzzy dictionaries and models follows one
invalidation rule (see the RecipeBook docstring)."""

import os
import random
import sys
import threading

import pytest

from backend_spark import ml
from backend_spark.plans import RecipeBook, load_conf

_LINK_CONF = """
recipes:
  link_match:
    steps:
      - normalize:
          select: [first_name, last_name, birth_place]
      - join:
          dataset: ref
          fuzzy: {last_name: r_last}
          fuzzy_method: METHOD
          strict: {birth_date: r_birth_date}
          select:
            hit_id: r_id
            hit_first: r_first
            hit_last: r_last
            hit_place: r_birth_place
      - eval:
          - score_last: levenshtein_norm(last_name, hit_last)
          - score_first: jw(first_name, hit_first)
          - score_place: 1.0 if birth_place == hit_place else 0.0
      - keep:
          where: score_last >= 0.5
"""

_FIRST = ["Jean", "Zoé", "Hélène", "Anaïs", "Marc", None]
_LAST = ["Lefèvre", "Lefevre", "Müller", "Muller", "Dupont", "Dupond", "Ångström", "Benoît", None]
_PLACE = ["Orléans", "Paris", "Besançon", None]
_DATES = ["19800101", "19800102", None]


def _person(rng, i, prefix):
    last = rng.choice(_LAST)
    if last and rng.random() < 0.3:  # a typo: one deleted character
        j = rng.randrange(len(last))
        last = last[:j] + last[j + 1:]
    return (f"{prefix}{i}", rng.choice(_FIRST), last, rng.choice(_PLACE), rng.choice(_DATES))


def _ref(spark, rng):
    from backend_spark import functions as fn
    from pyspark.sql import functions as F

    people = [_person(rng, i, "r") for i in range(60)]
    df = spark.createDataFrame(people, "r_id string, r_first string, r_last string, r_birth_place string, r_birth_date string")
    return df.withColumn("r_last", fn.normalize(F.col("r_last")))


def _queries(spark, rng, n=12):
    rows = [_person(rng, i, "q") for i in range(n)]
    return spark.createDataFrame(rows, "q_id string, first_name string, last_name string, birth_place string, birth_date string")


def _link_book(spark, ref, method="automata"):
    return RecipeBook(load_conf(_LINK_CONF.replace("METHOD", method)), datasets={"ref": ref}, spark=spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("method", ["automata", "jw"])
def test_warm_compile_equals_first_compile(spark, method):
    rng = random.Random(5)
    ref = _ref(spark, rng)
    warm = _link_book(spark, ref, method)
    warm.compile("link_match")(_queries(spark, rng)).collect()
    entry = warm._cache[("recipe", "link_match")]
    matched = 0
    for _ in range(4):
        q = _queries(spark, rng)
        got = _rows(warm.compile("link_match")(q))
        want = _rows(_link_book(spark, ref, method).compile("link_match")(q))
        assert got == want
        matched += len(got)
    assert warm._cache[("recipe", "link_match")] is entry  # no re-resolution
    assert matched > 0


def test_warm_link_match_compile_round_trips(spark, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    rng = random.Random(6)
    book = _link_book(spark, _ref(spark, rng))
    for _ in range(2):
        book.compile("link_match")(_queries(spark, rng)).collect()
    q = _queries(spark, rng)
    q.schema  # noqa: B018 — the input's schema is the caller's, fetched once
    calls = []
    real = ClientServerConnection.send_command

    def counting(self, command):
        # not counted: the memory-delete commands that release proxies of
        # earlier frames, which py4j sends in bursts of a few hundred
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    book.compile("link_match")(q)
    assert 0 < len(calls) <= 400, len(calls)


_FZ_CONF = """
recipes:
  fz:
    steps:
      - join:
          dataset: ref
          fuzzy: {k: w}
          select: {hit: rid}
      - keep:
          where: k != 'zzz'
"""


def test_replaced_dataset_and_new_schema_rebuild(spark, monkeypatch):
    from backend_spark import operators as ops

    built = []
    real = ops.prepare_keep

    def counting(df, *a, **kw):
        built.append(df.columns)
        return real(df, *a, **kw)

    monkeypatch.setattr(ops, "prepare_keep", counting)
    book = RecipeBook(load_conf(_FZ_CONF), datasets={
        "ref": spark.createDataFrame([("lyon", 1)], "w string, rid long")}, spark=spark)
    left = spark.createDataFrame([("lyonn",), ("pariss",)], "k string")
    assert {r.k: r.hit for r in book.compile("fz")(left).collect()} == {"lyonn": 1, "pariss": None}
    first = book._cache[("recipe", "fz")]
    book.compile("fz")(spark.createDataFrame([("x",)], "k string"))
    assert book._cache[("recipe", "fz")] is first and len(built) == 1
    # a replaced dataset: rebuilt, and the new referential is read
    book.datasets["ref"] = spark.createDataFrame([("paris", 3)], "w string, rid long")
    assert {r.k: r.hit for r in book.compile("fz")(left).collect()} == {"lyonn": None, "pariss": 3}
    second = book._cache[("recipe", "fz")]
    assert second is not first and len(built) == 2
    # a changed input schema: the keep step rebuilds for it, and again
    # when the first schema comes back; the recipe keeps one entry
    wide = spark.createDataFrame([("pariss", 7)], "k string, extra long")
    assert [(r.k, r.extra, r.hit) for r in book.compile("fz")(wide).collect()] == [("pariss", 7, 3)]
    assert len(built) == 3 and "extra" in built[-1]
    assert {r.k: r.hit for r in book.compile("fz")(left).collect()} == {"lyonn": None, "pariss": 3}
    assert len(built) == 4
    assert [k for k in book._cache if k[0] == "recipe"] == [("recipe", "fz")]
    assert book._cache[("recipe", "fz")] is second


_UNNEST_CONF = """
recipes:
  u:
    steps:
      - unnest: {select: payload}
      - keep:
          where: x > 0
"""


def test_step_after_a_data_dependent_schema_rebuilds(spark):
    # unnest infers a JSON column's keys from the request's rows: the
    # same input schema yields other columns, which keep must follow
    book = RecipeBook(load_conf(_UNNEST_CONF), spark=spark)
    one = spark.createDataFrame([("1", '{"x": 1, "a": "p"}'), ("2", '{"x": 0, "a": "q"}')], "id string, payload string")
    two = spark.createDataFrame([("3", '{"x": 2, "b": "r"}')], "id string, payload string")
    assert [r.asDict() for r in book.compile("u")(one).collect()] == [{"id": "1", "a": "p", "x": 1}]
    assert [r.asDict() for r in book.compile("u")(two).collect()] == [{"id": "3", "b": "r", "x": 2}]
    assert [r.asDict() for r in book.compile("u")(one).collect()] == [{"id": "1", "a": "p", "x": 1}]


def test_model_stamp_sees_a_file_rewritten_in_place(tmp_path):
    model = tmp_path / "model"
    part = model / "stages" / "0_rf" / "data" / "part-0"
    part.parent.mkdir(parents=True)
    part.write_text("old")
    book = RecipeBook({})
    before, top = book._stamp("model", str(model)), model.stat().st_mtime_ns
    part.write_text("new")
    os.utime(part, ns=(part.stat().st_atime_ns, part.stat().st_mtime_ns + 10**9))
    assert model.stat().st_mtime_ns == top  # the directory itself did not change
    assert book._stamp("model", str(model)) != before
    assert book._fresh([("model", str(model), book._stamp("model", str(model)))])
    assert not book._fresh([("model", str(tmp_path / "missing"), before)])


def _train(spark, path, flip):
    rng = random.Random(11)
    rows = [(a, float((a > 0.5) != flip)) for a in (rng.random() for _ in range(200))]
    df = spark.createDataFrame(rows, "feat_x double, y double")
    ml.build_model(df, numerical=r"^feat_", target="y", model_path=path, tries=1, num_trees=3, max_depth=3)
    return df.drop("y")


def test_apply_model_loaded_once_per_book_and_reread_when_rewritten(spark, tmp_path):
    path = str(tmp_path / "model")
    df = _train(spark, path, flip=False)
    conf = load_conf(f"""
recipes:
  link:
    steps:
      - apply_model:
          model: {{name: "{path}"}}
          target: score
      - keep:
          where: score >= 0
""")
    book = RecipeBook(conf, spark=spark)
    first = {r.feat_x: r.score for r in book.compile("link")(df).collect()}
    sc = spark.sparkContext
    sc.setJobGroup("second-link-compile", "second compile of a recipe with apply_model")
    try:
        book.compile("link")(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("second-link-compile")) == []
    # the same path rewritten: the next compile reads the new model
    _train(spark, path, flip=True)
    second = {r.feat_x: r.score for r in book.compile("link")(df).collect()}
    assert second == {r.feat_x: r.score for r in ml.apply_model(df, path, target="score").collect()}
    assert second != first


_SQL_CONF = """
recipes:
  q:
    input: src
    steps:
      - sql: "SELECT * FROM df"
"""


def test_test_mode_run_does_not_cap_a_parallel_apply(spark):
    src = spark.range(100).selectExpr("id AS v")
    book = RecipeBook(load_conf(_SQL_CONF), datasets={"src": src}, spark=spark)
    stop, counts, errors = threading.Event(), [], []

    def test_runs():
        try:
            while not stop.is_set():
                book.run("q", test=True)
                book.trace("q")
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    t = threading.Thread(target=test_runs)
    t.start()
    try:
        for _ in range(40):
            counts.append(book.compile("q")(src).count())
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors and counts == [100] * 40


def test_concurrent_sql_applies_read_their_own_input(spark):
    book = RecipeBook(load_conf(_SQL_CONF), spark=spark)
    inputs = [spark.range(i * 1000, i * 1000 + 50 + i).selectExpr("id AS v") for i in range(8)]
    start, got, errors = threading.Barrier(8), {}, []

    def apply(i):
        try:
            start.wait(timeout=60)
            for _ in range(5):
                out = book.compile("q")(inputs[i])
                got.setdefault(i, []).append(sorted(r.v for r in out.collect()))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=apply, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not errors
    for i in range(8):
        assert got[i] == [list(range(i * 1000, i * 1000 + 50 + i))] * 5, i


def test_prepared_eval_reads_columns_assigned_before_it(spark):
    from backend_spark.operators import prepare_eval

    exprs = [{"a": "x + 1", "z": "x * 10"}, {"b": "a * 2"}, {"x": "b - 1", "c": "x", "Z": "c"}]
    df = spark.createDataFrame([(1,), (5,)], "x long")
    bind = prepare_eval(df, exprs)
    other = spark.createDataFrame([(2,)], "x long")
    assert [tuple(r) for r in bind(other).collect()] == [(5, 3, 5, 6, 5)]
    assert bind(df).columns == ["x", "a", "Z", "b", "c"]
