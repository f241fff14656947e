"""Recipe compiler, ML and streaming tests."""

import tempfile

import pytest
from pyspark.sql import functions as F

from backend_spark import ml, streaming
from backend_spark.plans import RecipeBook, load_conf

RECIPE_YAML = """
recipes:
  prep:
    steps:
      - map:
          name2: name
      - normalize:
          select: name2
  main:
    steps:
      - prep
      - eval:
          - score: "levenshtein_norm(name2, 'paris')"
      - join:
          dataset: cities
          strict:
            name2: city
          select:
            dep: dep
      - keep:
          select: "^(name2|score|dep)$"
          where: "score > 0.5"
"""


def test_recipe_book_end_to_end(spark):
    conf = load_conf(RECIPE_YAML)
    cities = spark.createDataFrame([("paris", 75), ("lyon", 69)], "city string, dep int")
    book = RecipeBook(conf, datasets={"cities": cities}, spark=spark)
    df = spark.createDataFrame([("PÀRIS",), ("Lyon",), ("nope",)], "name string")
    out = book.compile("main")(df)
    rows = {r.name2: r for r in out.collect()}
    assert rows["paris"].dep == 75 and rows["paris"].score == 1.0
    assert "nope" not in rows  # filtered by where


def test_recipe_pause_short_circuits(spark):
    conf = load_conf(
        """
recipes:
  r:
    steps:
      - pause:
          head: 2
      - delete:
          select: ".*"
"""
    )
    book = RecipeBook(conf)
    df = spark.createDataFrame([(i,) for i in range(10)], "v long")
    out = book.compile("r")(df)
    assert out.columns == ["v"] and out.count() == 2  # delete never ran


def test_recipe_env_interpolation(monkeypatch):
    monkeypatch.setenv("SG_TEST_VAL", "hello")
    conf = load_conf("recipes:\n  r:\n    steps:\n      - eval:\n        - x: \"'${SG_TEST_VAL}'\"\n")
    expr = conf["recipes"]["r"]["steps"][0]["eval"][0]["x"]
    assert expr == "'hello'"


def test_build_and_apply_model(spark, tmp_path):
    # separable data: target = 1 iff a+b > 1
    import random

    random.seed(7)
    rows = []
    for _ in range(300):
        a, b = random.random(), random.random()
        rows.append((a, b, 1.0 if a + b > 1 else 0.0))
    df = spark.createDataFrame(rows, "feat_a double, feat_b double, y double")
    path = str(tmp_path / "model")
    scored = ml.build_model(df, numerical=r"^feat_", target="y", model_path=path, tries=2)
    vals = scored.select("matchid_hit_score_ml").collect()
    assert all(0 <= r[0] <= 100 for r in vals)
    # high-label rows should score higher on average
    avg = scored.groupBy("y").agg(F.avg("matchid_hit_score_ml").alias("m")).collect()
    m = {r.y: r.m for r in avg}
    assert m[1.0] > m[0.0] + 20

    applied = ml.apply_model(df, path, target="score2")
    assert all(0 <= r[0] <= 100 for r in applied.select("score2").collect())


def test_model_features_matches_string_indexer(spark):
    # the *_idx column must reproduce MLlib StringIndexer's
    # frequencyDesc labels exactly (count desc, value asc; null ->
    # numLabels under handleInvalid='keep')
    from pyspark.ml.feature import StringIndexer

    rows = [
        (1, "b", 10.0), (2, "b", None), (3, "a", 3.0), (4, "a", 1.0),
        (5, "c", 2.0), (6, "a", 5.0), (7, None, 4.0), (8, "c", 6.0),
    ]
    df = spark.createDataFrame(rows, "id long, seg string, amt double")
    out = ml.model_features(df, numerical=["amt"], categorical=["seg"], id_col="id")
    got = {r.id: r for r in out.collect()}

    idx = (
        StringIndexer(inputCol="seg", outputCol="seg_sidx", handleInvalid="keep")
        .fit(df.where(F.col("seg").isNotNull()))
        .transform(df)
    )
    expect = {r.id: int(r.seg_sidx) for r in idx.collect()}
    assert {i: int(r.seg_idx) for i, r in got.items()} == expect
    # null numeric coerced to 0, split column is boolean + deterministic
    assert got[2].amt == 0.0
    rerun = {r.id: r.is_test for r in
             ml.model_features(df, numerical=["amt"], categorical=["seg"], id_col="id").collect()}
    assert rerun == {i: r.is_test for i, r in got.items()}


def test_streaming_windowed_agg(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    df = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 3}:10:00", float(i)) for i in range(30)],
        "id long, ts_s string, v double",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    df.write.parquet(src)

    sdf = streaming.read_stream(spark, src)
    agg = streaming.windowed_agg(
        sdf, "ts", window="1 hour", watermark="2 hours", group_by=None, aggs={"v": "sum"}
    )
    assert agg.isStreaming
    # append emits a window only after the watermark passes it — a single
    # availableNow batch never finalizes, so the test drains in complete mode
    streaming.run_to_memory(agg, "win_test", output_mode="complete")
    got = spark.sql("SELECT * FROM win_test").collect()
    assert len(got) == 3  # three distinct hours
    assert {r.v_sum for r in got} == {
        sum(float(i) for i in range(30) if i % 3 == h) for h in range(3)
    }


def test_streaming_sessionize(spark, tmp_path):
    src = str(tmp_path / "sess_src")
    rows = [
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-01 10:10:00"),  # same session (gap 30m)
        ("u1", "2024-01-01 12:00:00"),  # new session
        ("u2", "2024-01-01 10:05:00"),
    ]
    df = spark.createDataFrame(rows, "user string, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    df.write.parquet(src)
    sdf = streaming.read_stream(spark, src)
    sess = streaming.sessionize(sdf, "ts", "user", gap="30 minutes")
    streaming.run_to_memory(sess, "sess_test", output_mode="complete")
    got = spark.sql("SELECT * FROM sess_test").collect()
    per_user = {}
    for r in got:
        per_user.setdefault(r.user, []).append(r.n_events)
    assert sorted(per_user["u1"]) == [1, 2] and per_user["u2"] == [1]


def test_recipe_sql_step(spark):
    conf = load_conf(
        """
recipes:
  r:
    steps:
      - sql: "SELECT v, v * 2 AS v2 FROM df WHERE v > 1"
"""
    )
    book = RecipeBook(conf, spark=spark)
    df = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    out = book.compile("r")(df)
    assert {(r.v, r.v2) for r in out.collect()} == {(2, 4), (3, 6)}


def test_salted_agg_matches_plain(spark):
    from backend_spark.scale import salted_agg

    # one hot key + a long tail: salted result must equal plain groupBy
    rows = [("hot", float(i)) for i in range(500)] + [(f"k{i}", 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = salted_agg(df, ["k"], {"v": "sum"}, salt=4)
    got = {r.k: r.v_sum for r in out.collect()}
    expect = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got == expect


def test_salted_join_matches_plain(spark):
    from backend_spark.scale import salted_join

    big = spark.createDataFrame([("hot", i) for i in range(200)] + [("cold", 0)], "k string, v long")
    small = spark.createDataFrame([("hot", "H"), ("cold", "C"), ("never", "N")], "k string, tag string")
    got = salted_join(big, small, "k").orderBy("v")
    plain = big.join(small, "k").orderBy("v")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


def test_elasticsearch_actionable_error(spark):
    import pytest as _pytest

    from backend_spark.sources import read_elasticsearch

    with _pytest.raises(RuntimeError, match="es-hadoop"):
        read_elasticsearch(spark, "idx/doc")


def test_streaming_stateful_running_count(spark, tmp_path):
    src = str(tmp_path / "state_src")
    ckpt = str(tmp_path / "state_ckpt")
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3, "k string"
    )
    df.write.parquet(src)
    sdf = streaming.read_stream(spark, src)
    counted = streaming.stateful_running_count(sdf, "k")
    assert counted.isStreaming
    streaming.run_to_memory(counted, "state_test", checkpoint=ckpt)
    got = {r.k: (r.batch_events, r.total_events) for r in spark.sql("SELECT * FROM state_test").collect()}
    assert got == {"a": (5, 5), "b": (3, 3)}


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    df = spark.createDataFrame(
        [("k1", "2024-01-01 10:00:00"), ("k1", "2024-01-01 10:05:00"), ("k2", "2024-01-01 10:01:00")],
        "k string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.parquet(src)
    sdf = streaming.read_stream(spark, src)
    out = streaming.dedup_stream(sdf, ["k"], "ts")
    streaming.run_to_memory(out, "dedup_test", checkpoint=str(tmp_path / "ck1"))
    got = spark.sql("SELECT k FROM dedup_test").collect()
    assert sorted(r.k for r in got) == ["k1", "k2"]


def test_stream_stream_join(spark, tmp_path):
    lsrc, rsrc = str(tmp_path / "l_src"), str(tmp_path / "r_src")
    l = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00", "view")], "uid string, lts_s string, act string"
    ).withColumn("lts", F.to_timestamp("lts_s")).drop("lts_s")
    r = spark.createDataFrame(
        [("u1", "2024-01-01 10:30:00", "buy"), ("u1", "2024-01-01 13:00:00", "late")],
        "uid string, rts_s string, act2 string",
    ).withColumn("rts", F.to_timestamp("rts_s")).drop("rts_s")
    l.write.parquet(lsrc)
    r.write.parquet(rsrc)
    out = streaming.join_streams(
        streaming.read_stream(spark, lsrc), streaming.read_stream(spark, rsrc),
        on=["uid"], left_ts="lts", right_ts="rts",
    )
    streaming.run_to_memory(out, "ssj_test", checkpoint=str(tmp_path / "ck2"))
    got = spark.sql("SELECT uid, act, act2 FROM ssj_test").collect()
    # only the within-range right event joins
    assert [(r.uid, r.act, r.act2) for r in got] == [("u1", "view", "buy")]


def test_bucketed_join_no_shuffle(spark, tmp_path):
    from backend_spark import scale

    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    scale.write_bucketed(df, "bk_left", ["id"], n_buckets=4, path=str(tmp_path / "l"))
    scale.write_bucketed(
        df.withColumn("w", F.col("id") * 2), "bk_right", ["id"], n_buckets=4, path=str(tmp_path / "r")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = scale.bucketed_join(spark, "bk_left", "bk_right", ["id"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_recipe_dedup_step(spark):
    from backend_spark.plans import RecipeBook

    conf = {
        "recipes": {
            "clean": {
                "steps": [
                    {"dedup": {"method": "exact", "id": "doc_id", "text": "text"}},
                ]
            }
        }
    }
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    )
    out = RecipeBook(conf, spark=spark).run("clean", df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_recipe_before_after_deps(spark, tmp_path):
    from backend_spark.plans import RecipeBook

    prep_out = str(tmp_path / "prep_out")
    conf = {
        "recipes": {
            "prep": {
                "input": "src",
                "steps": [{"map": {"doubled": "v"}}],
                "output": prep_out,
            },
            "main": {
                "before": ["prep"],
                "input": "src",
                "steps": [{"keep": {"select": ["v"]}}],
            },
        }
    }
    df = spark.createDataFrame([(1,), (2,)], "v long")
    book = RecipeBook(conf, datasets={"src": df}, spark=spark)
    out = book.run("main", df)
    assert out.columns == ["v"] and out.count() == 2
    # the before-dependency ran and wrote its output dataset
    assert spark.read.parquet(prep_out).count() == 2


def test_dataset_select_and_filter_pushdown(spark, tmp_path):
    from backend_spark.plans import RecipeBook

    src = str(tmp_path / "ds_src")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0)], "id long, name string, v double"
    ).write.parquet(src)
    conf = {
        "datasets": {
            "src": {"path": src, "select": ["id", "v"], "filter": "only_big"},
        },
        "recipes": {
            "only_big": {"steps": [{"keep": {"where": "v > 50"}}]},
            "main": {"input": "src", "steps": [{"map": {"v2": "v"}}]},
        },
    }
    book = RecipeBook(conf, spark=spark)
    out = book.run("main")
    rows = out.collect()
    assert [r.id for r in rows] == [2] and "name" not in out.columns
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,50.0)]" in plan, plan
    assert "name" not in plan.split("ReadSchema")[1][:80]


def test_es_write_semantics_mapping(spark):
    from backend_spark.sources import prepare_es_write

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    # explicit id column
    out, mode, opts = prepare_es_write(df, mode="update", id_col="id")
    assert mode == "append"
    assert opts == {"es.mapping.id": "id", "es.write.operation": "upsert"}
    # idempotent row-hash ids: deterministic for identical rows
    out, mode, opts = prepare_es_write(df, idempotent=True)
    assert opts["es.mapping.id"] == "__row_id"
    h1 = out.select("__row_id").first()[0]
    out2, _, _ = prepare_es_write(df, idempotent=True)
    assert out2.select("__row_id").first()[0] == h1 and len(h1) == 64


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    from backend_spark.sources import write_dataset

    path = str(tmp_path / "part_out")
    df = spark.createDataFrame(
        [(i, "click" if i % 2 else "view", float(i)) for i in range(100)],
        "id long, event_type string, v double",
    )
    write_dataset(df, path, partition_by=["event_type"])
    back = spark.read.parquet(path).where(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == 50


def test_batch_sessionize_exact_gap_merges(spark):
    # session_window merges an event exactly `gap` after the previous
    # one (inclusive end); only diff > gap splits.  The driver oracle's
    # strict `>` new-session test depends on this pinning.
    rows = [
        ("u1", "2024-01-01 10:00:00"),
        ("u1", "2024-01-01 10:30:00"),  # exactly gap later -> merges
        ("u1", "2024-01-01 11:00:01"),  # gap + 1s -> new session
    ]
    df = spark.createDataFrame(rows, "user string, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    sess = streaming.sessionize(df, "ts", "user", gap="30 minutes")
    got = sorted(sess.collect(), key=lambda r: r.session_start)
    assert [r.n_events for r in got] == [2, 1]
    assert got[0].session_end.strftime("%H:%M:%S") == "11:00:00"


def test_sql_step_test_mode_limit_rewrite(spark):
    # reference wraps input tables in a LIMIT CTE and the query in an
    # outer LIMIT in test mode (code/recipes.py:487-505); here both the
    # registered views and the final query are capped at 30 rows
    conf = load_conf(
        """
recipes:
  r:
    input: src
    steps:
      - sql: "SELECT df.v, big.w FROM df JOIN big ON big.w % 100 = df.v % 100"
"""
    )
    src = spark.range(200).selectExpr("id AS v")
    big = spark.range(5000).selectExpr("id AS w")
    book = RecipeBook(conf, datasets={"src": src, "big": big}, spark=spark)
    test_out = book.run("r", test=True)
    # 30 src rows x (30 big rows / 100 residues) then outer LIMIT 30
    assert test_out.count() <= 30
    full_out = book.run("r")
    assert full_out.count() == 200 * 50  # untouched outside test mode


def test_recipe_hygiene_steps(spark):
    conf = load_conf(
        """
recipes:
  clean:
    steps:
      - quality:
          min_words: 4
          min_stopword_hits: 1
          min_mean_word_len: 1.0
      - pii:
          redact: true
  decon:
    steps:
      - decontaminate:
          benchmark: bench
          n: 3
"""
    )
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat quietly watching email a@b.io"),
            (2, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("cat sat on",)], "text string")
    book = RecipeBook(conf, datasets={"bench": bench}, spark=spark)
    cleaned = book.compile("clean")(docs)
    rows = cleaned.collect()
    assert [r.doc_id for r in rows] == [1]           # doc 2 dropped by quality
    assert "<EMAIL>" in rows[0].text_redacted        # pii step redacted
    kept = book.compile("decon")(docs)
    assert [r.doc_id for r in kept.collect()] == [2]  # doc 1 contaminated


def test_assign_row_ids_dense_global_order(spark):
    from backend_spark import scale

    df = spark.createDataFrame(
        [(v,) for v in [30, 10, 50, 20, 40, 60]], "v long"
    ).repartition(4)  # scatter across partitions first
    out = {r.v: r.row_id for r in scale.assign_row_ids(df, "v").collect()}
    assert out == {10: 1, 20: 2, 30: 3, 40: 4, 50: 5, 60: 6}
    # the numbering window is partitioned (no global single-partition sort)
    plan = scale.assign_row_ids(df, "v")._jdf.queryExecution().executedPlan().toString()
    import re
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs and all("__pid" in s or "__cnt" in s or "__off" in s for s in specs)


def test_prefix_sums_matches_python_cumsum(spark):
    from itertools import accumulate

    from backend_spark import scale

    # negative values: a partition's total is not the max of its running sum
    rows = [
        (i, (i * 37) % 101, None if i % 7 == 0 else (i * 13) % 17 - 8) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, k long, v long").repartition(5)
    sums = {"n": F.lit(1).cast("long"), "s": F.col("v")}
    # keep the range exchange's partitions so the offsets really carry
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    was = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        spread = df.repartitionByRange("k", "id").select(F.spark_partition_id()).distinct()
        assert spread.count() >= 4
        for desc in (False, True):
            key = F.col("k").desc() if desc else F.col("k")
            frame, totals = scale.prefix_sums(df, [key, "id"], sums)
            ordered = sorted(rows, key=lambda t: (-t[1] if desc else t[1], t[0]))
            running = accumulate(0 if t[2] is None else t[2] for t in ordered)
            want = {t[0]: (rk + 1, s) for rk, (t, s) in enumerate(zip(ordered, running))}
            assert frame.columns == ["id", "k", "v", "n", "s"]
            assert {r.id: (r.n, r.s) for r in frame.collect()} == want
            assert [tuple(r) for r in totals.collect()] == [
                (200, sum(t[2] for t in rows if t[2] is not None))
            ]
        frame, totals = scale.prefix_sums(df.limit(0), "id", sums)
        assert frame.collect() == [] and [tuple(r) for r in totals.collect()] == [(0, 0)]
        # an existing out_col is replaced in place
        ids = scale.assign_row_ids(df, ["k", "id"], out_col="v")
        assert ids.columns == ["id", "k", "v"]
        ranks = sorted(rows, key=lambda t: (t[1], t[0]))
        assert {r.id: r.v for r in ids.collect()} == {
            t[0]: rk + 1 for rk, t in enumerate(ranks)
        }
    finally:
        spark.conf.set(coalesce, was)


def test_resample_gapfill_emits_empty_buckets(spark):
    from backend_spark.features import resample_gapfill

    df = spark.createDataFrame(
        [(1, 100, 1.0), (1, 105, 2.0), (1, 130, 4.0), (2, 100, 1.0)],
        "k long, t long, v double",
    )
    out = {(r.k, r.bucket): (r.n_events, r.v_sum) for r in
           resample_gapfill(df, "k", "t", 10, value_col="v").collect()}
    assert out == {
        (1, 100): (2, 3.0),
        (1, 110): (0, None),  # the gap appears, with null sum
        (1, 120): (0, None),
        (1, 130): (1, 4.0),
        (2, 100): (1, 1.0),  # span is per key, not global
    }


def test_funnel_ordered_steps_and_break(spark):
    from backend_spark.features import funnel

    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"),     # full funnel
         (2, 10, "b"), (2, 20, "a"), (2, 30, "b"),     # b-before-a ignored; a->b ok
         (3, 10, "a"),                                  # breaks after a
         (4, 10, "c")],                                 # never starts
        "k long, t long, e string",
    )
    out = {r.k: (r.step_0_ts, r.step_1_ts, r.step_2_ts, r.reached)
           for r in funnel(df, "k", "t", "e", ["a", "b", "c"]).collect()}
    assert out[1] == (10, 20, 30, 3)
    assert out[2] == (20, 30, None, 2)  # the t=10 'b' precedes 'a': not counted
    assert out[3] == (10, None, None, 1)
    assert out[4] == (None, None, None, 0)


def test_es_read_wrapper_option_contract():
    """Jar-free contract: read_elasticsearch must hit the es-hadoop
    DataSource with metadata on by default and user options passed
    through — regressions here only surface on a live cluster, so pin
    the call surface against a mock."""
    from unittest.mock import MagicMock

    from backend_spark.sources import read_elasticsearch

    spark = MagicMock()
    reader = spark.read.format.return_value
    read_elasticsearch(spark, "idx/doc", **{"es.nodes": "example:9200", "es.query": "?q=x"})
    spark.read.format.assert_called_once_with("org.elasticsearch.spark.sql")
    (opts,) = (reader.options.call_args.kwargs,)
    assert opts["es.read.metadata"] == "true"
    assert opts["es.nodes"] == "example:9200" and opts["es.query"] == "?q=x"
    reader.options.return_value.load.assert_called_once_with("idx/doc")


def test_es_write_wrapper_upsert_contract():
    from unittest.mock import MagicMock

    from backend_spark.sources import write_elasticsearch

    df = MagicMock()
    chain = df.write.format.return_value.options.return_value.mode.return_value
    write_elasticsearch(df, "idx/doc", mode="update", id_col="id", **{"es.batch.write.retry.count": "5"})
    df.write.format.assert_called_once_with("org.elasticsearch.spark.sql")
    opts = df.write.format.return_value.options.call_args.kwargs
    # reference update mode -> connector upsert on append (recipes.py:771-850)
    assert opts["es.write.operation"] == "upsert"
    assert opts["es.mapping.id"] == "id"
    assert opts["es.batch.write.retry.count"] == "5"
    df.write.format.return_value.options.return_value.mode.assert_called_once_with("append")
    chain.save.assert_called_once_with("idx/doc")


def test_jdbc_read_wrapper_partitioned_contract():
    """Partitioned-read options (partitionColumn/bounds/numPartitions)
    must reach the jdbc reader — that is what makes the 100 TB read
    parallel instead of a single-connection scan."""
    from unittest.mock import MagicMock

    from backend_spark.sources import read_jdbc

    spark = MagicMock()
    reader = spark.read.format.return_value
    reader.option.return_value = reader
    reader.options.return_value = reader
    read_jdbc(
        spark, "jdbc:postgresql://h/db", "events",
        partitionColumn="id", lowerBound="0", upperBound="1000000", numPartitions="64",
    )
    spark.read.format.assert_called_once_with("jdbc")
    flat = {c.args[0]: c.args[1] for c in reader.option.call_args_list}
    assert flat == {"url": "jdbc:postgresql://h/db", "dbtable": "events"}
    opts = reader.options.call_args.kwargs
    assert opts == {"partitionColumn": "id", "lowerBound": "0",
                    "upperBound": "1000000", "numPartitions": "64"}
    reader.load.assert_called_once_with()


def test_jdbc_write_wrapper_contract():
    from unittest.mock import MagicMock

    from backend_spark.sources import write_jdbc

    df = MagicMock()
    w = df.write.format.return_value
    w.option.return_value = w
    w.options.return_value = w
    w.mode.return_value = w
    write_jdbc(df, "jdbc:postgresql://h/db", "out", mode="append", batchsize="10000")
    df.write.format.assert_called_once_with("jdbc")
    flat = {c.args[0]: c.args[1] for c in w.option.call_args_list}
    assert flat == {"url": "jdbc:postgresql://h/db", "dbtable": "out"}
    assert w.options.call_args.kwargs == {"batchsize": "10000"}
    w.mode.assert_called_once_with("append")
    w.save.assert_called_once_with()


def test_sql_query_pushdown_wrapper_contract():
    """The reference's SQL expert/COPY fast path == whole-query pushdown:
    the SELECT must reach the jdbc source as the `query` option (executed
    in the source database), never as a local table scan."""
    from unittest.mock import MagicMock

    from backend_spark.sources import read_sql_query

    spark = MagicMock()
    reader = spark.read.format.return_value
    reader.option.return_value = reader
    reader.options.return_value = reader
    sel = "select a, count(*) c from t group by a"
    read_sql_query(spark, "jdbc:postgresql://h/db", sel, fetchsize="5000")
    flat = {c.args[0]: c.args[1] for c in reader.option.call_args_list}
    assert flat == {"url": "jdbc:postgresql://h/db", "query": sel}
    assert reader.options.call_args.kwargs == {"fetchsize": "5000"}
    reader.load.assert_called_once_with()


def test_sql_query_pushdown_expert_stringifies(spark):
    from unittest.mock import patch

    from backend_spark.sources import read_sql_query

    real = spark.createDataFrame([(1, 2.5)], "a long, b double")
    with patch.object(type(spark.read.format("jdbc")), "load", return_value=real):
        out = read_sql_query(spark, "jdbc:x", "select 1", expert=True)
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["string", "string"]
    assert out.collect()[0] == ("1", "2.5")


def test_mongodb_wrapper_contracts():
    from unittest.mock import MagicMock

    from backend_spark.sources import read_mongodb, write_mongodb

    spark = MagicMock()
    reader = spark.read.format.return_value
    read_mongodb(spark, "mongodb://h:27017", "db", "events", **{"aggregation.pipeline": "[]"})
    spark.read.format.assert_called_once_with("mongodb")
    opts = reader.options.call_args.kwargs
    assert opts["connection.uri"] == "mongodb://h:27017"
    assert opts["database"] == "db" and opts["collection"] == "events"
    assert opts["aggregation.pipeline"] == "[]"
    reader.options.return_value.load.assert_called_once_with()

    df = MagicMock()
    w = df.write.format.return_value
    write_mongodb(df, "mongodb://h:27017", "db", "out", id_col="doc_id")
    df.write.format.assert_called_once_with("mongodb")
    wopts = w.options.call_args.kwargs
    # idempotent re-runs: replace on the id key, never duplicate
    assert wopts["idFieldList"] == "doc_id" and wopts["operationType"] == "replace"
    w.options.return_value.mode.assert_called_once_with("append")
    w.options.return_value.mode.return_value.save.assert_called_once_with()


def test_s3a_conf_surface(spark):
    from backend_spark.sources import configure_s3a

    configure_s3a(
        spark, access_key="AK", secret_key="SK",
        endpoint="http://minio:9000", path_style_access=True,
    )
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    assert hc.get("fs.s3a.access.key") == "AK"
    assert hc.get("fs.s3a.secret.key") == "SK"
    assert hc.get("fs.s3a.endpoint") == "http://minio:9000"
    assert hc.get("fs.s3a.path.style.access") == "true"
    configure_s3a(spark, anonymous=True)
    assert "Anonymous" in hc.get("fs.s3a.aws.credentials.provider")


def test_apply_model_recipe_step(spark, tmp_path):
    # the reference's internal_apply_model as a declarative step:
    # train+persist, then a recipe scores new rows from the saved model
    import random

    random.seed(11)
    rows = [(a, 1.0 if a > 0.5 else 0.0) for a in (random.random() for _ in range(200))]
    df = spark.createDataFrame(rows, "feat_x double, y double")
    path = str(tmp_path / "recipe_model")
    ml.build_model(df, numerical=r"^feat_", target="y", model_path=path, tries=1)

    conf = load_conf(
        f"""
recipes:
  score:
    steps:
      - apply_model:
          name: "{path}"
          target: score
"""
    )
    book = RecipeBook(conf, spark=spark)
    out = book.compile("score")(df.drop("y"))
    vals = [r.score for r in out.collect()]
    assert len(vals) == 200 and all(0 <= v <= 100 for v in vals)


def test_pack_stream_state_continues_across_batches(spark, tmp_path):
    # two micro-batches (maxFilesPerTrigger=1): the second batch's
    # offsets must continue where the first left off — per shard, the
    # packed stream is gapless and overlap-free
    import os

    src = str(tmp_path / "pack_src")
    os.makedirs(src)
    spark.createDataFrame([(i, 10 + i) for i in range(6)], "doc_id long, n_tokens long") \
        .coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame([(i, 5) for i in range(6, 12)], "doc_id long, n_tokens long") \
        .coalesce(1).write.parquet(src + "/f2")

    sdf = streaming.read_stream(
        spark, src + "/*", max_files_per_trigger=1,
        schema="doc_id long, n_tokens long",
    )
    out = streaming.pack_stream(sdf, "doc_id", "n_tokens", budget=16, shards=2)
    streaming.run_to_memory(out, "pack_stream_test", checkpoint=str(tmp_path / "ck"))
    rows = spark.sql("SELECT * FROM pack_stream_test").collect()
    assert len(rows) == 12
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r.shard, []).append(r)
    for shard, rs in per_shard.items():
        rs.sort(key=lambda r: r.start_offset)
        expect_next = 0
        for r in rs:
            assert r.start_offset == expect_next, (shard, r)
            expect_next = r.start_offset + r.n_tokens
            assert r.bin_id == shard * 2**33 + r.start_offset // 16


def test_sort_cluster_produces_disjoint_file_ranges(spark, tmp_path):
    import glob

    from backend_spark.scale import sort_cluster

    df = spark.createDataFrame([((i * 37) % 1000, i) for i in range(1000)], "k long, v long")
    out = str(tmp_path / "clustered")
    sort_cluster(df, "k", n_partitions=4).write.parquet(out)

    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) >= 3  # range partitioning actually spread the data
    ranges = []
    total = 0
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf):
            ranges.append((pdf.k.min(), pdf.k.max()))
            total += len(pdf)
    assert total == 1000  # layout only: row set unchanged
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges -> file-level pruning works


def test_zorder_key_interleaves_bits(spark):
    from backend_spark.scale import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "x long, y long")
    got = df.select(zorder_key(["x", "y"], bits=3).alias("z")).collect()[0].z
    # x bits land at even positions, y bits at odd:
    # x=101 -> 1<<0 | 0<<2 | 1<<4 ; y=011 -> 1<<1 | 1<<3 | 0<<5
    assert got == (1 | 16) | (2 | 8)

    import pytest
    with pytest.raises(ValueError):
        zorder_key(["x"], bits=3)
    with pytest.raises(ValueError):
        zorder_key(["x", "y"], bits=40)


def test_zorder_cluster_covers_hyperrectangles(spark, tmp_path):
    import glob

    from backend_spark.scale import zorder_cluster

    rows = [((i * 37) % 256, (i * 53) % 256, i) for i in range(2048)]
    df = spark.createDataFrame(rows, "x long, y long, v long")
    out = str(tmp_path / "zclustered")
    zorder_cluster(df, ["x", "y"], n_partitions=8, bits=8).write.parquet(out)

    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) >= 4
    total = 0
    areas = []
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        if len(pdf):
            total += len(pdf)
            areas.append(
                (pdf.x.max() - pdf.x.min() + 1) * (pdf.y.max() - pdf.y.min() + 1)
            )
    assert total == 2048  # layout only
    assert "__z" not in spark.read.parquet(out).columns  # key not persisted
    # each file covers a bounded rectangle of the 256x256 key space:
    # substantially tighter than the full domain on average, which is
    # what lets min/max stats prune on EITHER column
    assert sum(areas) / len(areas) < 256 * 256 / 2


def test_dedup_keep_best_keeps_argmax_per_cluster(spark):
    # cluster {1,2,3} (chain via pairs), singleton 4.  Scores pick doc 2
    # (not the smallest id), proving this differs from dedup_minhash.
    from backend_spark import llm

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 50.0), (4, 5.0)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    out = llm.dedup_keep_best(docs, "doc_id", pairs, score=F.col("q"))
    rows = {r.doc_id: r.cluster for r in out.collect()}
    assert rows == {2: 1, 4: 4}  # argmax of cluster 1 is doc 2; singleton kept
    # lower-is-better flips the survivor
    out2 = llm.dedup_keep_best(docs, "doc_id", pairs, score=F.col("q"), higher_is_better=False)
    assert {r.doc_id for r in out2.collect()} == {1, 4}
    # mega-cluster guard (banding collapse): fail fast with cluster ids
    import pytest

    with pytest.raises(ValueError, match="dedup_keep_best.*max_cluster_size"):
        llm.dedup_keep_best(docs, "doc_id", pairs, score=F.col("q"), max_cluster_size=2)
    ok = llm.dedup_keep_best(docs, "doc_id", pairs, score=F.col("q"), max_cluster_size=3)
    assert {r.doc_id for r in ok.collect()} == {2, 4}


def test_shuffle_order_is_deterministic_permutation(spark):
    from backend_spark import llm

    df = spark.range(1, 201).withColumnRenamed("id", "doc_id")
    a = llm.shuffle_order(df, "doc_id", salt="s1")
    pos = [r.shuffle_pos for r in a.collect()]
    assert sorted(pos) == list(range(1, 201))  # dense permutation
    b = {r.doc_id: r.shuffle_pos for r in llm.shuffle_order(df, "doc_id", salt="s1").collect()}
    assert {r.doc_id: r.shuffle_pos for r in a.collect()} == b  # rerun-stable
    c = {r.doc_id: r.shuffle_pos for r in llm.shuffle_order(df, "doc_id", salt="s2").collect()}
    assert b != c  # epoch-keyed salt gives a different order


def test_stratified_topn_exact_counts(spark):
    from backend_spark import llm

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = llm.stratified_topn(df, "doc_id", "stratum", n_per_stratum=20)
    counts = {r.stratum: r.n for r in out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 20, "small": 10}  # exact cap; small stratum kept whole
    again = llm.stratified_topn(df, "doc_id", "stratum", n_per_stratum=20)
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_priority_sample_grouped(spark):
    from backend_spark import llm

    rows = [(i, "a" if i < 50 else "b", float(1 + i % 7)) for i in range(60)]
    rows += [(100, "a", None), (101, "a", 0.0), (102, "a", -3.0)]  # excluded
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    out = llm.priority_sample(df, "doc_id", "w", k=5, group_col="g")
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 5, "b": 5}
    ids = {r.doc_id for r in out.collect()}
    assert ids.isdisjoint({100, 101, 102})  # null/zero/negative weights out
    again = llm.priority_sample(df, "doc_id", "w", k=5, group_col="g")
    assert {(r.g, r.doc_id, r.sample_rank) for r in out.collect()} == {
        (r.g, r.doc_id, r.sample_rank) for r in again.collect()
    }  # rerun-stable


def test_priority_sample_global_matches_bruteforce(spark):
    import hashlib

    from backend_spark import llm

    rows = [(i, float(1 + (i * 13) % 29)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double").repartition(8)

    def pr(i, w):
        h = int(hashlib.md5(f"prio:{i}".encode()).hexdigest()[:15], 16)
        return w / ((h + 1) / 2**60)

    ranked = sorted(rows, key=lambda t: (-pr(*t), t[0]))
    # k above the optimizer's window group-limit threshold too: the top k
    # must be cut in source (a per-partition top-k under
    # TakeOrderedAndProject), never a single-partition exchange of the rows
    limit = "spark.sql.optimizer.windowGroupLimitThreshold"
    was = spark.conf.get(limit)
    spark.conf.set(limit, "5")
    try:
        for k in (7, 3):
            out = llm.priority_sample(df, "doc_id", "w", k=k)
            got = [(r.doc_id, r.sample_rank) for r in out.orderBy("sample_rank").collect()]
            assert got == [(i, rk + 1) for rk, (i, _) in enumerate(ranked[:k])]
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "TakeOrderedAndProject" in plan
            assert "SinglePartition" not in plan and "hashpartitioning(__pid" not in plan
    finally:
        spark.conf.set(limit, was)
    # huge-weight row is always in the panel
    df2 = df.union(spark.createDataFrame([(999, 1e12)], "doc_id long, w double"))
    assert 999 in {r.doc_id for r in llm.priority_sample(df2, "doc_id", "w", k=7).collect()}


def test_priority_sample_k_validation(spark):
    import pytest as _pytest

    from backend_spark import llm

    df = spark.createDataFrame([(1, 1.0)], "doc_id long, w double")
    with _pytest.raises(ValueError):
        llm.priority_sample(df, "doc_id", "w", k=0)


def test_script_mix_known_fractions(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [
            (1, "ab12"),          # 0.5 latin, 0.5 digit
            (2, "Привет"),        # all cyrillic
            (3, "汉字!"),          # 2/3 cjk, 1/3 punct
            (4, ""),              # empty -> zeros
            (5, None),            # null -> zeros
            (6, "a €"),           # euro sign is unclassified -> other
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in llm.script_mix(df, "doc_id", "text").collect()}
    assert (rows[1].latin_frac, rows[1].digit_frac) == (0.5, 0.5)
    assert rows[2].cyrillic_frac == 1.0 and rows[2].latin_frac == 0.0
    assert rows[3].cjk_frac == round(2 / 3, 6) and rows[3].punct_frac == round(1 / 3, 6)
    assert rows[4].n_chars == 0 and rows[4].other_frac == 0.0
    assert rows[5].n_chars == 0
    assert rows[6].other_frac == round(1 / 3, 6)  # € unclassified
    # fractions sum to 1 for non-empty docs
    for i in (1, 2, 3, 6):
        r = rows[i]
        total = sum(
            [r.latin_frac, r.digit_frac, r.space_frac, r.punct_frac,
             r.cyrillic_frac, r.cjk_frac, r.arabic_frac, r.other_frac]
        )
        assert abs(total - 1.0) < 1e-5


def test_pareto_front_2d_with_ties_and_groups(spark):
    from backend_spark.features import pareto_front

    rows = [
        (1, "g1", 10.0, 1.0),   # dominated by 3
        (2, "g1", 20.0, 2.0),   # frontier (best price)
        (3, "g1", 15.0, 0.5),   # frontier (best discount)
        (4, "g1", 15.0, 0.5),   # exact tie of 3 -> also survives
        (5, "g1", 14.0, 0.5),   # dominated by 3 (same disc, less price)
        (6, "g2", 1.0, 9.0),    # alone in its group -> survives
        (7, "g1", None, 0.1),   # NULL metric -> excluded
    ]
    df = spark.createDataFrame(rows, "id long, g string, price double, disc double")
    out = pareto_front(df, {"price": "max", "disc": "min"}, group_col="g")
    assert {r.id for r in out.collect()} == {2, 3, 4, 6}


def test_pareto_front_null_group_is_a_group(spark):
    """A NULL group must behave as its own group: its rows are neither
    dropped (pandas groupby dropna default) nor all kept (NULL-unequal
    verify join) — dominance applies WITHIN the NULL group."""
    from backend_spark.features import pareto_front

    rows = [
        (1, None, 10.0, 1.0),   # dominated by 2 within the NULL group
        (2, None, 20.0, 0.5),   # NULL-group frontier
        (3, "g1", 5.0, 5.0),    # alone in g1 -> survives
    ]
    df = spark.createDataFrame(rows, "id long, g string, price double, disc double")
    # repartition so the NULL-group rows can land in different partitions
    # (exercises the cross-partition verify, not just the local prune)
    df = df.repartition(4)
    out = pareto_front(df, {"price": "max", "disc": "min"}, group_col="g")
    assert {r.id for r in out.collect()} == {2, 3}


def test_pareto_front_3d_matches_bruteforce(spark):
    from backend_spark.features import pareto_front

    rows = [
        (i, float((i * 7) % 13), float((i * 5) % 11), float((i * 3) % 17))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double, c double").repartition(7)
    got = {r.id for r in pareto_front(df, {"a": "max", "b": "max", "c": "min"}).collect()}

    def dominated(r):
        return any(
            q[1] >= r[1] and q[2] >= r[2] and q[3] <= r[3]
            and (q[1] > r[1] or q[2] > r[2] or q[3] < r[3])
            for q in rows
        )

    want = {r[0] for r in rows if not dominated(r)}
    assert got == want


def test_pareto_front_validation(spark):
    import pytest as _pytest

    from backend_spark.features import pareto_front

    df = spark.createDataFrame([(1, 1.0)], "id long, a double")
    with _pytest.raises(ValueError):
        pareto_front(df, {})
    with _pytest.raises(ValueError):
        pareto_front(df, {"a": "upward"})
    with _pytest.raises(ValueError):
        pareto_front(df, {"zz": "max"})


def test_tfidf_cosine_pairs_handcomputed(spark):
    from backend_spark import llm

    # N=4; df: apple=3 (pruned by max_df cap 0.5*4=2), banana=2,
    # cherry=2, durian=1 (hapax, pruned).  Survivors: banana links
    # (1,2), cherry links (3,4) — both singleton-term docs -> cosine 1.0
    docs = spark.createDataFrame(
        [
            (1, "apple banana"),
            (2, "apple banana"),
            (3, "cherry durian"),
            (4, "apple cherry"),
        ],
        "doc_id long, text string",
    )
    out = llm.tfidf_cosine_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r.id1, r.id2): r.cosine for r in out.collect()}
    assert got == {(1, 2): 1.0, (3, 4): 1.0}
    # partition-count invariance: integer sums are associative
    out7 = llm.tfidf_cosine_pairs(docs.repartition(7), "doc_id", "text", threshold=0.5)
    assert {(r.id1, r.id2): r.cosine for r in out7.collect()} == got
    # absolute max_df=3 readmits 'apple' -> (1,4) and (2,4) now share it
    out3 = llm.tfidf_cosine_pairs(docs, "doc_id", "text", threshold=0.01, max_df=3)
    pairs3 = {(r.id1, r.id2) for r in out3.collect()}
    assert {(1, 4), (2, 4)} <= pairs3


def test_tfidf_cosine_quadratic_guard_fails_fast(spark):
    """The quadratic guard must fire on the OBSERVED document frequency
    of an ADMITTED term (round-15, the round-14 advice), not on corpus
    size alone: a term with df > _TFIDF_QUADRATIC_LIMIT that the
    fractional cap admits raises an actionable error naming it; a
    same-size corpus whose every term is rare — linear work — completes
    (the round-14 guard falsely raised there).  An absolute max_df or
    explicit allow_quadratic=True always proceeds."""
    import pytest

    from backend_spark import llm

    n = 4 * llm._TFIDF_QUADRATIC_LIMIT  # fractional cap 0.5*n = 2*limit
    # 'hotterm' on every even doc: df = n/2 = 2*limit -> admitted by the
    # cap (df <= 0.5*n) AND over the quadratic limit -> must raise
    hot = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("hotterm ")).otherwise(F.lit("")),
            F.lit("tok"),
            (F.col("id") % 5000).cast("string"),
        ).alias("text"),
    )
    with pytest.raises(Exception, match="hotterm"):
        llm.tfidf_cosine_pairs(hot, "doc_id", "text", threshold=0.9).count()
    # NO false positive on corpus size: same n docs, every term rare
    # (df = 8 << limit) -> linear work, must complete without raising
    rare = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 5000).cast("string")).alias("text"),
    )
    assert llm.tfidf_cosine_pairs(rare, "doc_id", "text", threshold=1.01).count() == 0
    # absolute cap: the hot corpus completes (linear O(N*max_df) plan)
    assert llm.tfidf_cosine_pairs(
        hot, "doc_id", "text", threshold=1.01, max_df=5
    ).count() == 0
    # explicit opt-in on a small slice completes
    assert llm.tfidf_cosine_pairs(
        hot.where(F.col("doc_id") < 50), "doc_id", "text",
        threshold=0.0, allow_quadratic=True,
    ).count() > 0


def test_cross_dup_spans_finds_shared_boilerplate(spark):
    from backend_spark import llm

    shared = "this exact boilerplate sentence appears in many documents verbatim"
    docs = spark.createDataFrame(
        [
            (1, "unique text one " + shared),
            (2, "different opener here " + shared + " plus a tail"),
            (3, shared),
            (4, "entirely unrelated content with no duplication at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    out = llm.cross_dup_spans(docs, "doc_id", "text", span_len=20, stride=1, min_docs=3)
    rows = out.collect()
    assert rows, "stride=1 must find the 3-doc shared region"
    assert all(r.n_docs >= 3 for r in rows)
    # every reported span is a substring of the shared boilerplate
    # (docs 1-3 are its only 3-doc overlap)
    assert all(r.span in shared for r in rows)
    # short docs and stride guards
    tiny = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    assert llm.cross_dup_spans(tiny, "doc_id", "text", span_len=20).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        llm.cross_dup_spans(docs, "doc_id", "text", span_len=1)


def test_chunk_text_windows_and_overlap(spark):
    from backend_spark import llm

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, None)], "doc_id long, text string")
    out = llm.chunk_text(df, "doc_id", "text", chunk_tokens=4, overlap=2, min_tokens=1)
    rows = sorted(
        [(r.doc_id, r.chunk_id, r.n_tokens, r.chunk) for r in out.collect()]
    )
    # doc 1: starts 0,2,4,6,8 -> windows of 4 with 2-token overlap
    assert [(c, n, ch) for d, c, n, ch in rows if d == 1] == [
        (0, 4, "w0 w1 w2 w3"),
        (1, 4, "w2 w3 w4 w5"),
        (2, 4, "w4 w5 w6 w7"),
        (3, 4, "w6 w7 w8 w9"),
        (4, 2, "w8 w9"),
    ]
    assert [(c, n, ch) for d, c, n, ch in rows if d == 2] == [(0, 2, "a b")]
    assert not [r for r in rows if r[0] == 3]  # null text -> no chunks
    # min_tokens drops the short tail
    out2 = llm.chunk_text(df, "doc_id", "text", chunk_tokens=4, overlap=2, min_tokens=3)
    assert max(r.chunk_id for r in out2.where("doc_id = 1").collect()) == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        llm.chunk_text(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_decay_agg_halflife_semantics(spark):
    import pytest

    from backend_spark.features import decay_agg

    # ref = max ts = 200; contributions: t=200 -> 1.0x, t=100 -> 0.5x
    # (one halflife back), t=0 -> 0.25x
    df = spark.createDataFrame(
        [
            (1, 200, 10.0),
            (1, 100, 10.0),
            (1, 0, 10.0),
            (2, 200, 4.0),
            (2, None, 99.0),   # null ts dropped
            (3, 100, None),    # null value dropped
        ],
        "k long, t long, v double",
    )
    out = {r.k: r for r in decay_agg(df, "k", "t", "v", halflife=100).collect()}
    assert out[1].n_events == 3
    assert out[1].decayed_sum == pytest.approx(10.0 + 5.0 + 2.5, abs=1e-5)
    assert out[1].decayed_weight == pytest.approx(1.0 + 0.5 + 0.25, abs=1e-5)
    assert out[2].n_events == 1 and out[2].decayed_sum == pytest.approx(4.0, abs=1e-5)
    assert 3 not in out  # its only row had a null value
    # partition invariance: integer sums
    out7 = {r.k: r.decayed_sum for r in decay_agg(df.repartition(7), "k", "t", "v", halflife=100).collect()}
    assert out7 == {k: r.decayed_sum for k, r in out.items()}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decay_agg(df, "k", "t", "v", halflife=0)


def test_target_encode_leave_one_out(spark):
    import pytest

    from backend_spark.features import target_encode

    # cat 'a': targets 10, 20; cat 'b': 40.  prior = 70/3
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 40.0), (4, None, 5.0), (5, "a", None)],
        "id long, cat string, y double",
    )
    out = {r.id: r.encoded for r in target_encode(df, "cat", "y", smoothing=2.0).collect()}
    prior = 70.0 / 3
    assert out[1] == pytest.approx(round((20.0 + 2 * prior) / (2 - 1 + 2), 6), abs=1e-6)
    assert out[2] == pytest.approx(round((10.0 + 2 * prior) / 3, 6), abs=1e-6)
    # singleton category: pure prior (own value excluded, n-1 = 0)
    assert out[3] == pytest.approx(round((0.0 + 2 * prior) / 2, 6), abs=1e-6)
    assert 4 not in out and 5 not in out  # null cat/target dropped
    with pytest.raises(ValueError):
        target_encode(df, "cat", "y", smoothing=0)


def test_orc_write_read_roundtrip(spark, tmp_path):
    from backend_spark.sources import read_dataset, write_dataset

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, -2.0), (3, "c", None)],
        "k long, s string, v double",
    )
    path = str(tmp_path / "orc_rt")
    write_dataset(df, path, fmt="orc")
    back = read_dataset(spark, path, fmt="orc")
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_trim_duplicate_spans_removes_cross_doc_grams_only(spark):
    from backend_spark import llm

    shared = "alpha beta gamma delta epsilon"  # the duplicated 5-gram
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"{shared} four five six seven"),
            (3, "eight nine ten eleven twelve"),          # untouched
            (4, "rep rep rep rep rep rep rep rep"),       # within-doc repeat only
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm.trim_duplicate_spans(docs, "doc_id", "text", n=5).collect()}
    assert out[1].text_clean == "one two three" and out[1].n_removed == 5
    assert out[2].text_clean == "four five six seven" and out[2].n_removed == 5
    assert out[3].text_clean == "eight nine ten eleven twelve" and out[3].n_removed == 0
    # 'rep rep rep rep rep' repeats within doc 4 but exists in no OTHER
    # doc -> cross-doc contract leaves it alone
    assert out[4].n_removed == 0 and out[4].n_tokens == 8


def test_perplexity_buckets_band_sizes_and_determinism(spark):
    from backend_spark import llm

    # 6 docs per lang -> ntile(3) puts exactly 2 in each band
    rows = []
    for lang in ("en", "fr"):
        for i in range(6):
            rows.append((len(rows), f"{lang} common text plus word{i} " * (i + 2), lang))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = llm.perplexity_buckets(df, "doc_id", "text", "lang").collect()
    from collections import Counter

    sizes = Counter((r.lang, r.band) for r in out)
    assert all(v == 2 for v in sizes.values()) and len(sizes) == 6
    again = llm.perplexity_buckets(df, "doc_id", "text", "lang").collect()
    assert {(r.doc_id, r.band) for r in out} == {(r.doc_id, r.band) for r in again}


def test_strip_html_tags_entities_whitespace(spark):
    from backend_spark import functions as fn

    df = spark.createDataFrame(
        [
            (1, "<p>hello <b>world</b></p>"),
            (2, "a&amp;b &lt;kept&gt; &amp;lt;still-encoded"),
            (3, "  spaced\t\nout  <br/> text "),
            (4, "<a href='x.html' onclick=\"bad()\">link</a>"),
        ],
        "k long, s string",
    )
    got = {r.k: r.c for r in df.select("k", fn.strip_html(F.col("s")).alias("c")).collect()}
    assert got[1] == "hello world"
    # single-pass decode: &amp;lt; -> &lt; (NOT <), decoded < > kept as text
    assert got[2] == "a&b <kept> &lt;still-encoded"
    assert got[3] == "spaced out text"
    assert got[4] == "link"  # attributes (with quotes/brackets) go with the tag


def test_quantize_embeddings_roundtrip_error_bound(spark):
    import json

    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.5]), (2, [-2.0, 2.0, 0.0]), (3, [7.0, 7.0, 7.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in llm.quantize_embeddings(df, "vec_id", "embedding").collect()}
    assert json.loads(out[1].q) == [0, 255, 128]  # floor(127.5+0.5)=128
    # dequant error bounded by half a quantization step
    assert out[1].max_err <= out[1].scale / 2 + 1e-9
    assert out[2].max_err <= out[2].scale / 2 + 1e-9
    assert json.loads(out[3].q) == [0, 0, 0] and out[3].scale == 0.0  # constant vector


def test_oversample_epoch_counts(spark):
    from backend_spark import llm

    rows = [(i, "hq" if i < 100 else "lq") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = llm.oversample(df, "doc_id", "src", {"hq": 2.5, "lq": 0.5})
    by = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # hq: every row twice + ~half a third time; lq: ~half once
    assert 200 <= by["hq"] <= 300 and 220 < by["hq"] < 280
    assert 60 < by["lq"] < 140
    # deterministic rerun
    again = llm.oversample(df, "doc_id", "src", {"hq": 2.5, "lq": 0.5})
    key = lambda d: sorted((r.doc_id, r.copy) for r in d.collect())
    assert key(out) == key(again)
    # integer factor emits exactly that many copies
    exact = llm.oversample(df, "doc_id", "src", {"hq": 2.0, "lq": 1.0})
    byx = {r.src: r.n for r in exact.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert byx == {"hq": 200, "lq": 200}


def test_kmeans_separates_blobs_and_is_deterministic(spark):
    from backend_spark import llm

    # two tight, well-separated blobs -> k=2 must split them perfectly
    # no matter which hash-ranked vectors seed the iteration
    rows = [(i, [0.0 + (i % 5) * 0.01, 0.0 + (i % 3) * 0.01]) for i in range(20)]
    rows += [(100 + i, [10.0 + (i % 5) * 0.01, 10.0 + (i % 3) * 0.01]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = llm.kmeans_assign(df, "vec_id", "embedding", k=2, n_iter=3)
    got = {r.vec_id: r.cluster for r in out.collect()}
    lo = {got[i] for i in range(20)}
    hi = {got[100 + i] for i in range(20)}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    # converged centroids -> every blob member is near its centroid
    assert all(r.dist < 1.0 for r in out.collect())
    again = {r.vec_id: r.cluster for r in llm.kmeans_assign(df, "vec_id", "embedding", k=2, n_iter=3).collect()}
    assert got == again


def test_c4_line_filter_rules(spark):
    from backend_spark import llm

    good = "this line has plenty of words and punctuation."
    docs = [
        (1, f"{good}\n{good}\n{good}\nno punct line here at all"),   # 3 kept -> keep
        (2, f"{good}\nshort one.\ncall javascript now please today.\n{good}"),  # 2 kept -> drop
        (3, f"{good}\n{good}\n{good}\nlorem ipsum dolor sit amet."),  # doc term -> drop
        (4, "x { y\n" + f"{good}\n{good}\n{good}"),                   # curly brace -> drop
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in llm.c4_line_filter(df, "doc_id", "text").collect()}
    assert out[1].keep_doc and out[1].n_kept == 3 and out[1].text_clean == "\n".join([good] * 3)
    assert not out[2].keep_doc and out[2].n_kept == 2  # short + javascript lines dropped
    assert not out[3].keep_doc and out[3].n_kept == 4  # lines fine, doc term kills it
    assert not out[4].keep_doc


def test_blocklist_hit_rate_exact_tokens(spark):
    from backend_spark import llm

    df = spark.createDataFrame(
        [(1, "clean text entirely"), (2, "bad word here"), (3, "badger is not bad bad")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm.blocklist_hit_rate(df, "doc_id", "text", ["bad"]).collect()}
    assert out[1].n_hits == 0 and out[1].keep
    assert out[2].n_hits == 1 and not out[2].keep  # max_rate=0: any hit drops
    # exact token match: 'badger' is NOT a hit, the two 'bad' tokens are
    assert out[3].n_hits == 2 and out[3].n_tokens == 5


def test_enrich_stream_is_stream_static_broadcast(spark, tmp_path):
    from backend_spark import streaming

    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, 10, 2.0), (2, 11, 3.0), (3, 99, 4.0)], "event_id long, user_id long, value double"
    ).write.parquet(src)
    dim = spark.createDataFrame([(10, "A"), (11, "B")], "user_id long, seg string")
    out = streaming.enrich_stream(streaming.read_stream(spark, src), dim, "user_id")
    assert out.isStreaming
    streaming.run_to_memory(out, "t_senr", checkpoint=str(tmp_path / "ck"))
    rows = {r.event_id: r.seg for r in spark.sql("SELECT * FROM t_senr").collect()}
    assert rows == {1: "A", 2: "B", 3: None}  # left join keeps unmatched
    # anti mode = in-flight blocklist gating
    anti = streaming.enrich_stream(
        streaming.read_stream(spark, src), dim, "user_id", how="left_anti"
    )
    streaming.run_to_memory(anti, "t_senr_anti", checkpoint=str(tmp_path / "ck2"))
    assert [r.event_id for r in spark.sql("SELECT event_id FROM t_senr_anti").collect()] == [3]


def test_classifier_eval_hand_check(spark):
    from backend_spark.ml import classifier_eval

    # gold: a a a b b; pred: a a b b c
    df = spark.createDataFrame(
        [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "c")],
        "gold string, pred string",
    )
    rows = {r.label: r for r in classifier_eval(df, "gold", "pred").collect()}
    assert set(rows) == {"a", "b", "c"}
    a, b, c = rows["a"], rows["b"], rows["c"]
    assert (a.support, a.pred_cnt, a.tp) == (3, 2, 2)
    assert a.precision == 1.0 and abs(a.recall - round(2 / 3, 6)) < 1e-9
    assert abs(a.f1 - 0.8) < 1e-9
    assert (b.support, b.pred_cnt, b.tp) == (2, 2, 1)
    assert b.precision == 0.5 and b.recall == 0.5 and b.f1 == 0.5
    # label only ever predicted: support 0, zero-division -> 0.0 all round
    assert (c.support, c.pred_cnt, c.tp) == (0, 1, 0)
    assert c.precision == 0.0 and c.recall == 0.0 and c.f1 == 0.0


def test_write_stream_upsert_matches_batch_compaction(spark, tmp_path):
    from backend_spark import streaming
    from backend_spark.operators.groupby import compact_latest

    src = str(tmp_path / "log")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (1, 20, "c")], "k long, ts long, v string"
    )
    b1.write.mode("append").parquet(src)
    streaming.write_stream_upsert(
        streaming.read_stream(spark, src), state, "k", "ts", checkpoint=ck
    )
    got1 = {r.k: r.v for r in spark.read.parquet(state).collect()}
    assert got1 == {1: "c", 2: "b"}
    # second incremental batch: update k=2, insert k=3; k=1 untouched
    b2 = spark.createDataFrame([(2, 30, "d"), (3, 5, "e")], "k long, ts long, v string")
    b2.write.mode("append").parquet(src)
    streaming.write_stream_upsert(
        streaming.read_stream(spark, src), state, "k", "ts", checkpoint=ck
    )
    got2 = {r.k: r.v for r in spark.read.parquet(state).collect()}
    # equals one-shot batch compaction over the full log
    full = b1.unionByName(b2)
    expect = {r.k: r.v for r in compact_latest(full, "k", "ts").collect()}
    assert got2 == expect == {1: "c", 2: "d", 3: "e"}


def test_recipe_dsir_bloom_winsorize_steps(spark):
    import yaml

    from backend_spark.plans import RecipeBook

    conf = yaml.safe_load(
        """
        recipes:
          curate:
            steps:
              - bloom_decontaminate: {benchmark: bench, n: 3, threshold: 0.5}
              - dsir: {target: tgt, keep_frac: 0.5, buckets: 512}
          clip:
            steps:
              - winsorize: {col: v, lower: 0.25, upper: 0.75, out: vw}
        """
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma zulu"),
            (3, "unrelated words entirely here"),
            (4, "leaked benchmark prompt text"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "leaked benchmark prompt text")], "doc_id long, text string")
    tgt = spark.createDataFrame([(8, "alpha beta gamma")], "doc_id long, text string")
    book = RecipeBook(conf, datasets={"bench": bench, "tgt": tgt}, spark=spark)
    out = book.compile("curate")(docs)
    ids = {r.doc_id for r in out.collect()}
    assert 4 not in ids           # bloom-gated
    assert ids and ids <= {1, 2}  # dsir keeps the target-like half
    clip = book.compile("clip")(
        spark.createDataFrame([(float(v),) for v in range(1, 9)], "v double")
    )
    vals = sorted(r.vw for r in clip.collect())
    assert vals[0] == vals[1]  # lower tail clipped to p25
    assert vals[-1] == vals[-2]


def test_classifier_eval_null_labels_single_row(spark):
    from backend_spark.ml import classifier_eval

    df = spark.createDataFrame(
        [(None, None), (None, None), ("a", "a"), ("a", None)],
        "gold string, pred string",
    )
    rows = {r.label: r for r in classifier_eval(df, "gold", "pred").collect()}
    # null is ONE label with its own correct counts, not two broken rows
    assert set(rows) == {None, "a"}
    n = rows[None]
    assert (n.support, n.pred_cnt, n.tp) == (2, 3, 2)
    a = rows["a"]
    assert (a.support, a.pred_cnt, a.tp) == (2, 1, 1)


def test_ridge_train_matches_numpy_closed_form(spark):
    import numpy as np

    from backend_spark import ml

    rows = [(float(i % 7), float((3 * i) % 5) / 10.0, 2.0 + 1.5 * (i % 7) - 4.0 * ((3 * i) % 5) / 10.0 + (i % 3) * 0.01)
            for i in range(200)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    w = {r.feature: r.weight for r in ml.ridge_train(df, ["x1", "x2"], "y").collect()}
    X = np.array([[1.0, r[0], r[1]] for r in rows])
    y = np.array([r[2] for r in rows])
    ref = np.linalg.solve(X.T @ X + 1e-3 * np.diag([0.0, 1.0, 1.0]), X.T @ y)
    assert abs(w["__intercept__"] - ref[0]) < 1e-4
    assert abs(w["x1"] - ref[1]) < 1e-4
    assert abs(w["x2"] - ref[2]) < 1e-4


def test_ridge_score_resid_consistent_and_validations(spark):
    import pytest as _pytest

    from backend_spark import ml

    rows = [(float(i), float(i % 4), 3.0 * i + 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    out = ml.ridge_score(df, ["x1", "x2"], "y").collect()
    for r in out:
        assert abs(r.resid - round(r.y - r.pred, 6)) < 1e-9
    with _pytest.raises(ValueError, match="exactly 2"):
        ml.ridge_train(df, ["x1"], "y")
    with _pytest.raises(ValueError, match="empty"):
        ml.ridge_train(df.where("x1 < 0"), ["x1", "x2"], "y")
    with _pytest.raises(ValueError, match="l2"):
        ml.ridge_train(df, ["x1", "x2"], "y", l2=-1.0)


def test_lr_train_empty_and_overflow_guards(spark):
    import pytest as _pytest

    from backend_spark import ml

    df = spark.createDataFrame([(1.0, 1.0, 1.0)], "x1 double, x2 double, y double")
    with _pytest.raises(ValueError, match="empty"):
        ml.lr_train(df.where("x1 < 0"), ["x1", "x2"], "y")
    # each |contribution| = 0.5 * 1e10 * 1e9 = 5e18 fits BIGINT, but the
    # 2-row sum bound n * max = 1e19 >= 2^63 -> must raise, not wrap
    # (per-element overflow is separately caught by the ANSI cast)
    huge = spark.createDataFrame([(1e10, 0.0), (1e10, 0.0)], "x1 double, y double")
    with _pytest.raises(OverflowError):
        ml.lr_train(huge, ["x1"], "y", grad_scale=1e9)


def test_interpolate_linear_blend_and_no_extrapolation(spark):
    from backend_spark.features import interpolate_linear

    rows = [
        ("u", 0, None), ("u", 10, 1.0), ("u", 15, None), ("u", 20, 3.0),
        ("u", 25, None),
        ("v", 5, None),
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {(r.k, r.t): r.v_interp for r in interpolate_linear(df, "k", "t", "v").collect()}
    assert got[("u", 0)] is None          # before first obs: no extrapolation
    assert got[("u", 10)] == 1.0          # observed passes through
    assert got[("u", 15)] == 2.0          # midpoint of 1..3
    assert got[("u", 25)] is None         # after last obs
    assert got[("v", 5)] is None          # all-null key


def test_interpolate_linear_tied_order_takes_backward_anchor(spark):
    """A null row time-tied with its anchors has coincident anchor
    timestamps (nt == pt): the blend fraction is 0/0, which must fall
    back to the backward value, not raise DIVIDE_BY_ZERO (ANSI).

    A seq tiebreak_col pins the order among the ts=5 rows — without it
    the window sort among ties is nondeterministic and "backward" could
    be either anchor (the docstring only promises determinism for
    unique order_col)."""
    from backend_spark.features import interpolate_linear

    df = spark.createDataFrame(
        [
            ("k", 5, 0, 1.0),
            ("k", 5, 1, None),
            ("k", 5, 2, 2.0),
            ("k", 10, 3, None),
            ("k", 20, 4, 4.0),
        ],
        "k string, ts long, seq long, v double",
    )
    got = {
        (r.ts, r.v, r.v_interp)
        for r in interpolate_linear(df, "k", "ts", "v", tiebreak_col="seq").collect()
    }
    assert (5, None, 1.0) in got          # tied-ts null -> backward anchor
    assert (10, None, 2.666667) in got    # normal blend unaffected


def test_locf_stream_one_batch_equals_batch_fill_forward(spark, tmp_path):
    from backend_spark import streaming
    from backend_spark.features import fill_forward

    rows = [(i, i % 3, i * 10, None if i % 2 == 0 else float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long, value double")
    df.write.parquet(str(tmp_path / "in"))
    sdf = streaming.read_stream(spark, str(tmp_path / "in"))
    out = streaming.locf_stream(sdf, "user_id", "us", "value", tiebreak_col="event_id")
    streaming.run_to_memory(out, "t_locf", checkpoint=str(tmp_path / "ck"))
    got = {
        (r.user_id, r.us): r.value
        for r in spark.sql("SELECT user_id, us, value FROM t_locf").collect()
    }
    want = {
        (r.user_id, r.us): r.value
        for r in fill_forward(df, "user_id", ["us", "event_id"], "value").collect()
    }
    assert got == want


def test_ridge_apply_roundtrip_matches_score(spark, tmp_path):
    from backend_spark import ml

    rows = [(float(i % 9), float(i % 4), 5.0 + 2.0 * (i % 9) - 3.0 * (i % 4)) for i in range(80)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    w = ml.ridge_train(df, ["x1", "x2"], "y")
    path = str(tmp_path / "ridge_model")
    w.write.parquet(path)
    applied = {(r.x1, r.x2): r.pred for r in ml.ridge_apply(df, path, ["x1", "x2"]).collect()}
    scored = {(r.x1, r.x2): r.pred for r in ml.ridge_score(df, ["x1", "x2"], "y").collect()}
    assert applied == scored
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing"):
        ml.ridge_apply(df, w.where("feature = '__intercept__'"), ["x1", "x2"])


def test_lr_train_trace_pinned(spark):
    # ADVICE r8: pin the full training trace on a fixed fixture — the
    # BIGINT gradient sums make every step engine-deterministic
    from backend_spark import ml

    rows = [(0.0, 0.0), (1.0, 0.0), (2.0, 1.0), (3.0, 1.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    trace = ml.lr_train(df, ["x"], "y", n_iter=2, learn_rate=0.5)
    got = {(r.iter, r.feature): r.weight for r in trace.collect()}
    # iter 1: w=(0,0) -> sigma(0)=0.5, resid=(.5,.5,-.5,-.5)
    # g0 = 0, g1 = (0 + .5 - 1 - 1.5) = -2 -> w1 = 0.25
    assert got[(1, "__intercept__")] == 0.0
    assert got[(1, "x")] == 0.25
    # iter 2 values are a fixed IEEE chain over exact BIGINT gradient
    # sums — pinned exactly (any engine/partitioning must reproduce)
    assert got[(2, "__intercept__")] == -0.045476816375
    assert got[(2, "x")] == 0.394421092375


def test_threshold_sweep_counts_and_edges(spark):
    import pytest as _pytest

    from backend_spark import ml

    rows = [(0.9, 1.0), (0.8, 0.0), (0.4, 1.0), (0.1, 0.0)]
    df = spark.createDataFrame(rows, "s double, y double")
    got = {r.threshold: r for r in ml.threshold_sweep(df, "s", "y", [0.5, 0.95]).collect()}
    r5 = got[0.5]
    assert (r5.tp, r5.fp, r5.fn_) == (1, 1, 1)
    assert r5.precision == 0.5 and r5.recall == 0.5 and r5.f1 == 0.5
    r95 = got[0.95]
    assert (r95.tp, r95.fp, r95.fn_) == (0, 0, 2)
    assert r95.precision == 0.0 and r95.f1 == 0.0
    with _pytest.raises(ValueError, match="non-empty"):
        ml.threshold_sweep(df, "s", "y", [])


def test_calibration_bins_means_and_top_bin_fold(spark):
    import pytest as _pytest

    from backend_spark import ml

    rows = [(0.05, 0.0), (0.15, 0.0), (0.17, 1.0), (1.0, 1.0)]
    df = spark.createDataFrame(rows, "s double, y double")
    got = {r.bin: r for r in ml.calibration_bins(df, "s", "y", n_bins=10).collect()}
    assert got[0].n == 1 and got[0].pos_rate == 0.0
    b1 = got[1]
    assert b1.n == 2 and b1.mean_score == 0.16 and b1.pos_rate == 0.5
    assert got[9].n == 1 and got[9].mean_score == 1.0   # 1.0 folds into top bin
    with _pytest.raises(ValueError, match="n_bins"):
        ml.calibration_bins(df, "s", "y", n_bins=0)


def test_auc_exact_values_and_degenerate(spark):
    from backend_spark import ml

    df = spark.createDataFrame(
        [(0.9, 1.0), (0.8, 0.0), (0.4, 1.0), (0.1, 0.0)], "s double, y double"
    )
    r = ml.auc_score(df, "s", "y").collect()[0]
    assert r.auc == 0.75 and r.n_pos == 2 and r.n_neg == 2
    ties = spark.createDataFrame([(0.5, 1.0), (0.5, 0.0), (0.9, 1.0)], "s double, y double")
    assert ml.auc_score(ties, "s", "y").collect()[0].auc == 0.75
    perfect = spark.createDataFrame([(0.9, 1.0), (0.1, 0.0)], "s double, y double")
    assert ml.auc_score(perfect, "s", "y").collect()[0].auc == 1.0
    onlypos = spark.createDataFrame([(0.9, 1.0)], "s double, y double")
    assert ml.auc_score(onlypos, "s", "y").collect()[0].auc is None


def test_auc_matches_sklearn_formula_bruteforce(spark):
    from backend_spark import ml

    rows = [((i * 37 % 100) / 100.0, float(i % 3 == 0)) for i in range(60)]
    df = spark.createDataFrame(rows, "s double, y double")
    got = ml.auc_score(df, "s", "y").collect()[0].auc
    pos = [s for s, y in rows if y == 1.0]
    neg = [s for s, y in rows if y == 0.0]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert abs(got - wins / (len(pos) * len(neg))) < 1e-6


def test_psi_zero_for_identical_and_positive_for_shift(spark):
    import pytest as _pytest

    from backend_spark import ml

    e = spark.createDataFrame([((i % 10) / 10.0,) for i in range(100)], "s double")
    same = ml.psi(e, e, "s", n_bins=5).collect()
    assert all(r.psi_term == 0.0 for r in same)
    shifted = spark.createDataFrame([(0.95,) for _ in range(100)], "s double")
    drift = ml.psi(e, shifted, "s", n_bins=5).collect()
    assert sum(r.psi_term for r in drift) > 0.1
    assert len(drift) == 5                  # empty bins present via eps guard
    with _pytest.raises(ValueError, match="n_bins"):
        ml.psi(e, e, "s", n_bins=0)
    # out-of-range convention (docstring contract): scores >= 1 clamp
    # into the top bin; negative scores are excluded from the totals
    edge = spark.createDataFrame([(1.0,), (7.5,), (-0.1,), (0.0,)], "s double")
    rows = {r.bin: r for r in ml.psi(edge, edge, "s", n_bins=5).collect()}
    assert rows[4].p_expected == _pytest.approx(2 / 3, abs=1e-6)  # 1.0, 7.5 clamp to bin 4
    assert rows[0].p_expected == _pytest.approx(1 / 3, abs=1e-6)  # 0.0; -0.1 excluded
    # a side with ZERO in-range rows: every bin falls to the eps floor
    # instead of raising DIVIDE_BY_ZERO under ANSI mode
    allneg = spark.createDataFrame([(-0.5,), (-0.9,)], "s double")
    degen = ml.psi(allneg, e, "s", n_bins=5).collect()
    assert len(degen) == 5
    assert all(r.p_expected == _pytest.approx(1e-6) for r in degen)


def test_recipe_round9_steps(spark):
    # the round-9 operators exposed at the YAML surface: LOCF repair ->
    # ridge train+score -> readability tagging, one declarative recipe
    conf = load_conf(
        """
recipes:
  r9:
    steps:
      - fill_forward:
          key: k
          order: t
          select: [x1]
      - ridge:
          features: [x1, x2]
          target: y
"""
    )
    book = RecipeBook(conf, spark=spark)
    rows = [
        ("a", 1, 1.0, 2.0, 10.0), ("a", 2, None, 3.0, 12.0),
        ("a", 3, 4.0, 1.0, 9.0), ("b", 1, 2.0, 2.0, 11.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, x1 double, x2 double, y double")
    out = book.compile("r9")(df)
    got = {(r.k, r.t): r for r in out.collect()}
    assert got[("a", 2)].x1 == 1.0          # LOCF repaired the gap
    assert all(r.pred is not None for r in got.values())

    conf2 = load_conf(
        """
recipes:
  u:
    steps:
      - url_normalize:
          select: url
"""
    )
    df2 = spark.createDataFrame([(1, "HTTP://A.com:80/x?b=2&a=1#f")], "id long, url string")
    out2 = RecipeBook(conf2, spark=spark).compile("u")(df2).collect()[0]
    assert out2.url_norm == "http://a.com/x?a=1&b=2"

    conf3 = load_conf(
        """
recipes:
  rd:
    steps:
      - readability:
          id: id
          text: t
"""
    )
    df3 = spark.createDataFrame([(1, "The cat sat. The dog ran!")], "id long, t string")
    out3 = RecipeBook(conf3, spark=spark).compile("rd")(df3).collect()[0]
    assert out3.flesch is not None and "t" in out3.asDict()


def test_diagnostics_null_and_clip_semantics(spark):
    from backend_spark import ml

    rows = [(0.9, 1.0), (None, 1.0), (0.2, None), (-0.5, 0.0), (1.7, 1.0)]
    df = spark.createDataFrame(rows, "s double, y double")
    # sweep: only the 3 non-null rows count
    r = ml.threshold_sweep(df, "s", "y", [0.5]).collect()[0]
    assert (r.tp, r.fp, r.fn_) == (2, 0, 0)   # 0.9 and 1.7 are positives >= .5
    # auc drops nulls; -0.5 (neg) < both positives -> perfect ranking
    a = ml.auc_score(df, "s", "y").collect()[0]
    assert a.auc == 1.0 and a.n_pos == 2 and a.n_neg == 1
    # calibration clips out-of-range scores into the edge bins
    bins = {r.bin: r for r in ml.calibration_bins(df, "s", "y", n_bins=10).collect()}
    assert set(bins) == {0, 9}
    assert bins[0].mean_score == -0.5          # clip is visible in the mean
    assert bins[9].n == 2 and bins[9].mean_score == 1.3   # 0.9 and clipped 1.7


def test_anomaly_stream_exact_gate_hand_check(spark, tmp_path):
    from backend_spark import streaming
    import pytest

    # key 1: values 10,10,10 then a spike 100 — flagged at n_prior=3;
    # key 2: only two points — never flagged (n_prior < 2 gate)
    rows = [
        (1, 1, 10, 10.0), (2, 1, 20, 10.0), (3, 1, 30, 10.0), (4, 1, 40, 100.0),
        (5, 2, 10, 1.0), (6, 2, 20, 999.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long, value double")
    df.write.parquet(str(tmp_path / "in"))
    sdf = streaming.read_stream(spark, str(tmp_path / "in"))
    out = streaming.anomaly_stream(
        sdf, "user_id", "us", "value", k=3, scale=100, tiebreak_col="event_id"
    )
    streaming.run_to_memory(out, "t_anom", checkpoint=str(tmp_path / "ck"))
    got = {
        (r.user_id, r.us): (r.n_prior, r.is_anomaly)
        for r in spark.sql("SELECT * FROM t_anom").collect()
    }
    assert got == {
        (1, 10): (0, False), (1, 20): (1, False),
        # identical priors -> zero variance -> any deviation flags, but
        # 10.0 == mean so (v*n - sx) == 0 is NOT > 0
        (1, 30): (2, False),
        (1, 40): (3, True),
        (2, 10): (0, False), (2, 20): (1, False),
    }
    with pytest.raises(ValueError, match="k and scale"):
        streaming.anomaly_stream(sdf, "user_id", "us", "value", k=0)


def test_anomaly_stream_state_carries_across_batches(spark, tmp_path):
    # two micro-batches (maxFilesPerTrigger=1): the second batch's
    # spike is judged against running stats carried from batch 1
    import os

    from backend_spark import streaming

    src = str(tmp_path / "anom_src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 1, 10, 5.0), (2, 1, 20, 5.0), (3, 1, 30, 5.0)],
        "event_id long, user_id long, us long, value double",
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(4, 1, 40, 50.0)], "event_id long, user_id long, us long, value double"
    ).coalesce(1).write.parquet(src + "/f2")
    sdf = streaming.read_stream(
        spark, src + "/*", max_files_per_trigger=1,
        schema="event_id long, user_id long, us long, value double",
    )
    out = streaming.anomaly_stream(
        sdf, "user_id", "us", "value", k=3, scale=100, tiebreak_col="event_id"
    )
    streaming.run_to_memory(out, "t_anom2", checkpoint=str(tmp_path / "ck"))
    got = {
        r.us: (r.n_prior, r.is_anomaly)
        for r in spark.sql("SELECT * FROM t_anom2").collect()
    }
    assert got[40] == (3, True)
    assert got[10] == (0, False) and got[30] == (2, False)


def test_rolling_anomaly_matches_stream_kernel(spark, tmp_path):
    from backend_spark import streaming
    from backend_spark.features import rolling_anomaly
    import pytest

    rows = [
        (i, i % 3, i * 10, float((i * 7) % 50) + (100.0 if i == 25 else 0.0))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long, value double")
    batch = {
        (r.user_id, r.us): (r.n_prior, r.is_anomaly)
        for r in rolling_anomaly(df, "user_id", ["us", "event_id"], "value").collect()
    }
    df.write.parquet(str(tmp_path / "in"))
    sdf = streaming.read_stream(spark, str(tmp_path / "in"))
    out = streaming.anomaly_stream(
        sdf, "user_id", "us", "value", k=3, scale=100, tiebreak_col="event_id"
    )
    streaming.run_to_memory(out, "t_ranom", checkpoint=str(tmp_path / "ck"))
    stream = {
        (r.user_id, r.us): (r.n_prior, r.is_anomaly)
        for r in spark.sql("SELECT * FROM t_ranom").collect()
    }
    assert batch == stream
    assert any(flag for _, flag in batch.values())  # the spike actually flags
    with pytest.raises(ValueError, match="k and scale"):
        rolling_anomaly(df, "user_id", "us", "value", scale=0)


def test_anomaly_null_values_skip_state_batch_equals_stream(spark, tmp_path):
    from backend_spark import streaming
    from backend_spark.features import rolling_anomaly

    rows = [
        (1, 1, 10, 5.0), (2, 1, 20, None), (3, 1, 30, 5.0),
        (4, 1, 40, None), (5, 1, 50, 50.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long, value double")
    batch = {
        r.us: (r.n_prior, r.is_anomaly)
        for r in rolling_anomaly(df, "user_id", ["us", "event_id"], "value").collect()
    }
    # nulls: FALSE while n_prior < 2 (AND short-circuit), NULL after;
    # they never enter the running stats (n_prior skips them)
    assert batch == {
        10: (0, False), 20: (1, False), 30: (1, False),
        40: (2, None), 50: (2, True),
    }
    df.write.parquet(str(tmp_path / "in"))
    sdf = streaming.read_stream(spark, str(tmp_path / "in"))
    out = streaming.anomaly_stream(
        sdf, "user_id", "us", "value", k=3, scale=100, tiebreak_col="event_id"
    )
    streaming.run_to_memory(out, "t_nanom", checkpoint=str(tmp_path / "ck"))
    stream = {
        r.us: (r.n_prior, r.is_anomaly)
        for r in spark.sql("SELECT * FROM t_nanom").collect()
    }
    assert stream == batch


def test_topk_stream_totals_carry_across_batches(spark, tmp_path):
    import os

    from backend_spark import streaming

    src = str(tmp_path / "topk_src")
    os.makedirs(src)
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 9)], "g string, item long"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("a", 2)], "g string, item long"
    ).coalesce(1).write.parquet(src + "/f2")
    sdf = streaming.read_stream(
        spark, src + "/*", max_files_per_trigger=1, schema="g string, item long"
    )
    out = streaming.topk_stream(sdf, "g", "item")
    streaming.run_to_memory(out, "t_topk1", checkpoint=str(tmp_path / "ck"))
    rows = spark.sql("SELECT * FROM t_topk1").collect()
    # append-mode log: per-batch snapshots; latest total = exact count
    latest = {}
    for r in rows:
        latest[(r.g, r.item)] = max(latest.get((r.g, r.item), 0), r.total)
    assert latest == {("a", 1): 3, ("a", 2): 4, ("b", 9): 1}
    # batch-1 emission shows the pre-carry totals for updated keys
    assert ("a", 1) in {(r.g, r.item) for r in rows if r.total == 2}


def test_recipe_curation_steps(spark):
    # chunk -> sample -> target_encode exposed at the YAML surface
    conf = load_conf(
        """
recipes:
  chunks:
    steps:
      - chunk:
          id: doc_id
          text: text
          tokens: 4
          overlap: 2
  panel:
    steps:
      - sample:
          id: doc_id
          weight: w
          k: 2
          group: g
  enc:
    steps:
      - target_encode:
          cat: g
          target: w
          smoothing: 2.0
"""
    )
    book = RecipeBook(conf, spark=spark)
    df = spark.createDataFrame(
        [(1, "a b c d e f", "x", 3.0), (2, "g h", "x", 1.0), (3, "i", "y", 2.0)],
        "doc_id long, text string, g string, w double",
    )
    chunks = book.compile("chunks")(df).collect()
    assert {(r.doc_id, r.chunk_id) for r in chunks} == {(1, 0), (1, 1), (1, 2), (2, 0), (3, 0)}
    panel = book.compile("panel")(df).collect()
    assert {r.doc_id for r in panel} == {1, 2, 3}  # k=2 caps per group
    enc = book.compile("enc")(df).collect()
    assert all(r.encoded is not None for r in enc) and len(enc) == 3


def test_cusum_matches_recursion(spark):
    from backend_spark.features import cusum

    vals = [10.0, 10.2, 9.9, 10.1, 11.5, 11.8, 12.0, 11.9, 10.0, 8.1, 8.0, 8.2]
    rows = [("a", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = {
        r.t: r
        for r in cusum(df, "g", "t", "v", target=10.0, k=0.25, h=1.0).collect()
    }
    # textbook recursion, same integer quantization
    s_hi = s_lo = 0
    for i, v in enumerate(vals):
        s_hi = max(0, s_hi + round((v - 10.0 - 0.25) * 1_000_000))
        s_lo = max(0, s_lo + round((10.0 - v - 0.25) * 1_000_000))
        r = out[i]
        assert r.cusum_hi == round(s_hi / 1_000_000, 6), f"hi mismatch at {i}"
        assert r.cusum_lo == round(s_lo / 1_000_000, 6), f"lo mismatch at {i}"
        assert r.cusum_alarm == int(s_hi > 1_000_000 or s_lo > 1_000_000)
    # the level shift at t=4..7 must alarm on the high side, and the
    # drop at t=9.. on the low side
    assert out[6].cusum_alarm == 1 and out[6].cusum_hi > 1.0
    assert out[11].cusum_alarm == 1 and out[11].cusum_lo > 1.0
    assert out[3].cusum_alarm == 0


def test_cusum_per_key_isolation_and_validation(spark):
    import pytest

    from backend_spark.features import cusum

    df = spark.createDataFrame(
        [("a", 0, 20.0), ("b", 0, 10.0), ("b", 1, 10.0)], "g string, t long, v double"
    )
    got = {(r.g, r.t): r for r in cusum(df, "g", "t", "v", target=10.0).collect()}
    assert got[("a", 0)].cusum_hi == 10.0  # a's spike does not leak into b
    assert got[("b", 0)].cusum_hi == 0.0 and got[("b", 1)].cusum_hi == 0.0
    with pytest.raises(ValueError, match="not in df"):
        cusum(df, "g", "t", "nope", target=0.0)
    with pytest.raises(ValueError, match="scale"):
        cusum(df, "g", "t", "v", target=0.0, scale=0)
    with pytest.raises(ValueError, match="k >= 0"):
        cusum(df, "g", "t", "v", target=0.0, k=-1.0)


def test_rank_corr_known_values(spark):
    import pytest

    from backend_spark.features import rank_corr

    # perfect monotone, perfect inverse, and a tied case checked
    # against scipy-verified Spearman values
    rows = (
        [("up", float(i), float(i * i)) for i in range(1, 6)]
        + [("down", float(i), float(-i)) for i in range(1, 6)]
        + [("tied", 1.0, 2.0), ("tied", 1.0, 3.0), ("tied", 2.0, 1.0), ("tied", 3.0, 5.0)]
        + [("tiny", 1.0, 1.0)]
        + [("const", 1.0, float(i)) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in rank_corr(df, "g", "x", "y").collect()}
    assert got["up"].rho == 1.0 and got["up"].n == 5
    assert got["down"].rho == -1.0
    # tied group: ranks x = (1.5, 1.5, 3, 4), y = (2, 3, 1, 4)
    # Pearson over those average ranks = 1.5 / sqrt(4.5 * 5) = 0.316228
    assert got["tied"].rho == pytest.approx(0.316228, abs=1e-6)
    assert got["tiny"].rho is None  # n < 2
    assert got["const"].rho is None  # zero x-variance
    # NULL rows drop before ranking
    df2 = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, None), ("g", 3.0, 2.0), ("g", 4.0, 1.5)],
        "g string, x double, y double",
    )
    r = rank_corr(df2, ["g"], "x", "y").collect()[0]
    assert r.n == 3 and r.rho == 0.5
    with pytest.raises(ValueError, match="not in df"):
        rank_corr(df2, "g", "x", "zzz")


def test_table_checksum_detects_any_change(spark):
    import pytest

    from backend_spark.quality import table_checksum

    rows = [(i, f"name_{i}", None if i % 5 == 0 else f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, name string, val string")
    base = {r.bucket: (r.n_rows, r.xor_sig, r.sum_sig) for r in table_checksum(df, n_buckets=8).collect()}
    assert sum(n for n, _, _ in base.values()) == 100
    # identical content (different row order) checksums identically
    again = {r.bucket: (r.n_rows, r.xor_sig, r.sum_sig)
             for r in table_checksum(df.orderBy(F.desc("id")), n_buckets=8).collect()}
    assert again == base
    # a single-cell edit flips exactly the affected bucket(s)
    mut = df.withColumn("val", F.when(F.col("id") == 37, "corrupt").otherwise(F.col("val")))
    diff = {r.bucket: (r.n_rows, r.xor_sig, r.sum_sig) for r in table_checksum(mut, n_buckets=8).collect()}
    changed = {b for b in base if diff.get(b) != base[b]}
    assert 1 <= len(changed) <= 2  # old row leaves one bucket, new lands in <=1 other
    # a duplicated row pair is NOT invisible (xor would cancel; count/sum catch it)
    dup = df.unionByName(df.where("id = 3"))
    ddiff = {r.bucket: (r.n_rows, r.xor_sig, r.sum_sig) for r in table_checksum(dup, n_buckets=8).collect()}
    assert ddiff != base
    # NULL vs the literal sentinel-free string differ
    s1 = table_checksum(spark.createDataFrame([("a", None)], "k string, v string")).collect()
    s2 = table_checksum(spark.createDataFrame([("a", "")], "k string, v string")).collect()
    assert (s1[0].bucket, s1[0].xor_sig) != (s2[0].bucket, s2[0].xor_sig)
    with pytest.raises(ValueError, match="not in df"):
        table_checksum(df, ["zzz"])
    with pytest.raises(ValueError, match="n_buckets"):
        table_checksum(df, n_buckets=0)


def test_cusum_stream_matches_batch(spark, tmp_path):
    import pytest

    from backend_spark import streaming
    from backend_spark.features import cusum

    # level shift mid-series, NULL gaps, negative deviations
    rows = []
    for i in range(30):
        v = 10.0 + (3.0 if 12 <= i < 20 else 0.0) + ((i * 7) % 5) * 0.1
        rows.append((i, i % 2, i * 10, None if i % 9 == 4 else v))
    df = spark.createDataFrame(rows, "event_id long, user_id long, us long, value double")
    batch = {
        (r.user_id, r.us): (r.cusum_hi, r.cusum_lo, r.cusum_alarm)
        for r in cusum(
            df, "user_id", ["us", "event_id"], "value", target=10.0, k=0.5, h=2.0
        ).collect()
    }
    df.write.parquet(str(tmp_path / "in"))
    sdf = streaming.read_stream(spark, str(tmp_path / "in"))
    out = streaming.cusum_stream(
        sdf, "user_id", "us", "value", target=10.0, k=0.5, h=2.0, tiebreak_col="event_id"
    )
    streaming.run_to_memory(out, "t_cusum", checkpoint=str(tmp_path / "ck"))
    stream = {
        (r.user_id, r.us): (r.cusum_hi, r.cusum_lo, r.cusum_alarm)
        for r in spark.sql("SELECT * FROM t_cusum").collect()
    }
    assert batch == stream
    assert any(a == 1 for _, _, a in batch.values())  # the shift alarms
    with pytest.raises(ValueError, match="scale"):
        streaming.cusum_stream(sdf, "user_id", "us", "value", target=0.0, scale=0)
    with pytest.raises(ValueError, match="k >= 0"):
        streaming.cusum_stream(sdf, "user_id", "us", "value", target=0.0, k=-1.0)


def test_recipe_monitoring_and_matching_steps(spark):
    # cusum -> fs_score -> checksum exposed at the YAML surface
    conf = load_conf(
        """
recipes:
  drift:
    steps:
      - cusum:
          key: g
          order: t
          value: v
          target: 10.0
          h: 1.0
  match:
    steps:
      - fs_score:
          features: [f1, f2]
          label: y
  sums:
    steps:
      - checksum:
          select: [id, name]
          buckets: 4
"""
    )
    book = RecipeBook(conf, spark=spark)
    ts = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 1, 13.0), ("a", 2, 13.5)], "g string, t long, v double"
    )
    drift = {r.t: r for r in book.compile("drift")(ts).collect()}
    assert drift[2].cusum_alarm == 1 and drift[0].cusum_alarm == 0
    pairs = spark.createDataFrame(
        [(1, 1, 1, 1), (2, 1, 0, 1), (3, 0, 0, 0), (4, 0, 1, 0), (5, 1, 1, 1)],
        "pid long, f1 int, f2 int, y int",
    )
    scored = book.compile("match")(pairs).collect()
    byp = {r.pid: r.match_weight for r in scored}
    assert byp[1] > byp[3]  # full agreement outscores full disagreement
    rows = spark.createDataFrame([(i, f"n{i}") for i in range(20)], "id long, name string")
    sums = book.compile("sums")(rows).collect()
    assert sum(r.n_rows for r in sums) == 20 and len(sums) <= 4


def test_mutual_info_known_values(spark):
    import math

    import pytest

    from backend_spark.features import mutual_info

    # f_perfect determines y exactly -> I = H(y); f_none is constant ->
    # I = 0; f_null exercises the NULL category
    rows = []
    for i in range(8):
        y = i % 2
        rows.append((f"a{y}", "const", None if i < 4 else "z", y))
    df = spark.createDataFrame(rows, "f_perfect string, f_none string, f_null string, y int")
    got = {r.feature: r for r in mutual_info(df, ["f_perfect", "f_none", "f_null"], "y").collect()}
    assert got["f_perfect"].n == 8
    assert got["f_perfect"].mi == round(math.log(2), 6)  # H(y) for a fair label
    assert got["f_none"].mi == 0.0
    # f_null: value (null vs z) independent of y -> MI 0
    assert got["f_null"].mi == 0.0
    # dependent but imperfect: hand-computed 2x2 table
    rows2 = [("a", 0)] * 3 + [("a", 1)] * 1 + [("b", 0)] * 1 + [("b", 1)] * 3
    df2 = spark.createDataFrame(rows2, "f string, y int")
    exp = sum(
        (c / 8.0) * math.log((c * 8.0) / (cx * cy))
        for c, cx, cy in [(3, 4, 4), (1, 4, 4), (1, 4, 4), (3, 4, 4)]
    )
    r2 = mutual_info(df2, ["f"], "y").collect()[0]
    assert r2.mi == pytest.approx(round(exp, 6), abs=1e-9)
    with pytest.raises(ValueError, match="non-empty"):
        mutual_info(df2, [], "y")
    with pytest.raises(ValueError, match="not in df"):
        mutual_info(df2, ["zzz"], "y")


def test_assoc_rules_known_table(spark):
    import pytest

    from backend_spark.features import assoc_rules

    # 4 baskets: {a,b}, {a,b,c}, {a,c}, {b} — duplicate item rows in a
    # basket count once
    rows = [
        (1, "a"), (1, "b"), (1, "b"),
        (2, "a"), (2, "b"), (2, "c"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {(r.antecedent, r.consequent): r for r in assoc_rules(df, "basket", "item", 2).collect()}
    # c(a)=3, c(b)=3, c(c)=2; c(a,b)=2, c(a,c)=2; c(b,c)=1 < min -> dropped
    assert set(got) == {("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")}
    ab = got[("a", "b")]
    assert ab.pair_count == 2 and ab.support == 0.5
    assert ab.confidence == round(2 / 3, 6)
    assert ab.lift == round(2 * 4 / (3 * 3), 6)
    ca = got[("c", "a")]
    assert ca.confidence == 1.0  # c only ever occurs with a
    assert ca.lift == round(2 * 4 / (2 * 3), 6)
    # oversized baskets drop entirely and shrink the population
    big = df.unionByName(
        spark.createDataFrame([(9, f"x{i}") for i in range(5)], "basket long, item string")
    )
    capped = {(r.antecedent, r.consequent): r for r in assoc_rules(big, "basket", "item", 2, max_basket_size=4).collect()}
    assert capped[("a", "b")].support == 0.5  # basket 9 excluded from n
    with pytest.raises(ValueError, match="min_pair_count"):
        assoc_rules(df, "basket", "item", 0)
    with pytest.raises(ValueError, match="not in df"):
        assoc_rules(df, "basket", "zzz")


def test_shard_stats_envelopes(spark):
    import pytest

    from backend_spark.scale import shard_stats

    rows = [(i, i * 10, None if i % 10 == 0 else f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, v long, tag string")
    out = shard_stats(df, "id", ["v", "tag"], n_shards=4).collect()
    assert len(out) == 8  # 4 shards x 2 columns
    by = {(r.shard, r.column): r for r in out}
    # clustered column: tight disjoint bands
    assert by[(0, "v")].min_val == "0" and by[(0, "v")].max_val == "240"
    assert by[(3, "v")].min_val == "750" and by[(3, "v")].max_val == "990"
    assert all(by[(s, "v")].n_rows == 25 for s in range(4))
    # null accounting
    assert sum(by[(s, "tag")].n_nulls for s in range(4)) == 10
    assert by[(0, "tag")].n_nulls == 3  # ids 0,10,20
    # native-type min/max: string cast happens AFTER (else "990" < "99")
    assert by[(3, "v")].max_val == "990"
    with pytest.raises(ValueError, match="not in df"):
        shard_stats(df, "id", ["zzz"])
    with pytest.raises(ValueError, match="non-empty"):
        shard_stats(df, "id", [])


def test_seasonal_adjust_removes_profile(spark):
    import pytest

    from backend_spark.features import seasonal_adjust

    # two days of a clean daily profile: phase means are exact, so
    # adjusted collapses to the group mean
    rows = []
    for day in range(2):
        for h, v in [(0, 10.0), (8, 50.0), (16, 30.0)]:
            rows.append(("m", h, v))
    rows.append(("m", 0, None))
    df = spark.createDataFrame(rows, "g string, hour int, v double")
    out = seasonal_adjust(df, "hour", "v", by="g")
    got = [(r.hour, r.v, r.seasonal, r.adjusted) for r in out.collect()]
    mean_all = 30.0
    for h, v, s, a in got:
        if v is None:
            assert s is None and a is None
            continue
        assert s == round({0: -20.0, 8: 20.0, 16: 0.0}[h], 6)
        assert a == mean_all
    # no grouping: global profile
    out2 = seasonal_adjust(df.drop("g"), "hour", "v")
    assert {r.adjusted for r in out2.collect() if r.adjusted is not None} == {30.0}
    with pytest.raises(ValueError, match="not in df"):
        seasonal_adjust(df, "nope", "v")
    with pytest.raises(ValueError, match="scale"):
        seasonal_adjust(df, "hour", "v", scale=0)


def test_benford_digits_and_expectations(spark):
    import math

    import pytest

    from backend_spark.features import benford

    # powers of 10 land in digit 1 (the string path; float log10 could misbin)
    vals = [1.0, 10.0, 100.0, 1000.0, 2.5, 25.0, 999.0, -300.0, 0.0, 0.5, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.digit: r for r in benford(df, "v").collect()}
    assert got[1].n == 4
    assert got[2].n == 2
    assert got[9].n == 1 and got[3].n == 1  # -300 -> digit 3 (abs)
    assert 0 not in got  # 0, 0.5, NULL excluded
    assert got[1].expected_p == round(math.log10(2), 6)
    assert got[1].observed_p == 0.5  # 4 of 8 counted values
    assert got[1].deviation == round(0.5 - math.log10(2), 6)
    with pytest.raises(ValueError, match="not in df"):
        benford(df, "zzz")


def test_recipe_fs_score_unsupervised_fallback(spark):
    # no label, no weights dataset -> EM path
    conf = load_conf(
        """
recipes:
  match:
    steps:
      - fs_score:
          features: [f1, f2]
          iters: 15
"""
    )
    book = RecipeBook(conf, spark=spark)
    rows = []
    for i in range(200):
        match = i < 80
        rows.append((i, int((i * 7) % 10 < (9 if match else 1)),
                     int((i * 3) % 10 < (8 if match else 2))))
    pairs = spark.createDataFrame(rows, "pid long, f1 int, f2 int")
    scored = {r.pid: r.match_weight for r in book.compile("match")(pairs).collect()}
    both = [p for p in scored if p < 80][0]
    agree = scored[0]
    disagree = scored[199]
    assert agree > disagree  # EM-learned weights still rank correctly


def test_ridge_train_by_matches_global_per_group(spark):
    import pytest

    from backend_spark.ml import ridge_apply_by, ridge_train, ridge_train_by

    # two groups with DIFFERENT planted linear laws
    rows = []
    for i in range(60):
        x1, x2 = float(i % 7), float((i * 3) % 5)
        rows.append(("a", x1, x2, 2.0 + 3.0 * x1 - 1.0 * x2))
        rows.append(("b", x1, x2, -1.0 + 0.5 * x1 + 2.0 * x2))
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    per = ridge_train_by(df, "g", ["x1", "x2"], "y", l2=1e-6)
    got = {(r.g, r.feature): r.weight for r in per.collect()}
    # per-group weights == ridge_train run on that group's slice alone
    for g in ("a", "b"):
        solo = {r.feature: r.weight for r in
                ridge_train(df.where(F.col("g") == g), ["x1", "x2"], "y", l2=1e-6).collect()}
        for f in ("__intercept__", "x1", "x2"):
            assert got[(g, f)] == solo[f], (g, f)
    # and they recover the planted laws
    assert abs(got[("a", "x1")] - 3.0) < 1e-3 and abs(got[("b", "x2")] - 2.0) < 1e-3
    # apply: group-routed predictions; unseen group -> NULL
    test = spark.createDataFrame(
        [("a", 2.0, 1.0), ("b", 2.0, 1.0), ("zz", 2.0, 1.0)],
        "g string, x1 double, x2 double",
    )
    preds = {r.g: r.pred for r in ridge_apply_by(test, per, "g", ["x1", "x2"]).collect()}
    assert abs(preds["a"] - 7.0) < 1e-2 and abs(preds["b"] - 2.0) < 1e-2
    assert preds["zz"] is None
    with pytest.raises(ValueError, match="singular"):
        ridge_train_by(
            spark.createDataFrame([("c", 1.0, 1.0, 1.0)], "g string, x1 double, x2 double, y double"),
            "g", ["x1", "x2"], "y", l2=0.0,
        )
    with pytest.raises(ValueError, match="max_groups"):
        ridge_train_by(df, "g", ["x1", "x2"], "y", max_groups=1)


def test_isotonic_calibrate_pav(spark):
    import pytest

    from backend_spark.ml import isotonic_calibrate

    # classic pooling case: bins 0/1/2 have rates 1, 0, 1 ->
    # PAV pools the violating first two to 0.5, keeps the last at 1
    rows = (
        [(0.005, 1)]
        + [(0.15, 0)]
        + [(0.25, 1)]
    )
    df = spark.createDataFrame(rows, "score double, y int")
    got = {r.bin: r for r in isotonic_calibrate(df, "score", "y", n_bins=10).collect()}
    assert got[0].calibrated == 0.5 and got[1].calibrated == 0.5
    assert got[2].calibrated == 1.0
    assert got[0].y_rate == 1.0 and got[1].y_rate == 0.0
    # weighted pooling: rates (1.0 x1 row, 0.25 x4 rows) pool to 5/5... 
    rows2 = [(0.05, 1)] + [(0.15, 1)] + [(0.15, 0)] * 3
    df2 = spark.createDataFrame(rows2, "score double, y int")
    got2 = {r.bin: r.calibrated for r in isotonic_calibrate(df2, "score", "y", n_bins=10).collect()}
    assert got2[0] == got2[1] == 0.4  # pooled weighted mean 2/5
    # a calibrated column is always non-decreasing in bin
    import random
    rnd = [( (i * 37 % 100) / 100.0, int((i * 13) % 7 < 3)) for i in range(300)]
    df3 = spark.createDataFrame(rnd, "score double, y int")
    out = sorted(isotonic_calibrate(df3, "score", "y", n_bins=20).collect(), key=lambda r: r.bin)
    assert all(a.calibrated <= b.calibrated + 1e-12 for a, b in zip(out, out[1:]))
    assert sum(r.n for r in out) == 300
    with pytest.raises(ValueError, match="n_bins"):
        isotonic_calibrate(df, "score", "y", n_bins=1)
    with pytest.raises(ValueError, match="not in df"):
        isotonic_calibrate(df, "zzz", "y")


def test_cdc_apply_merge_semantics(spark):
    import pytest

    from backend_spark.scale import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, "U", 5),      # update key 2
            (3, "c", 30.0, "D", 5),       # delete key 3
            (4, "d", 40.0, "I", 5),       # insert key 4
            (2, "bX", 99.0, "U", 3),      # stale update, loses to seq 5
            (5, "e", 50.0, "I", 1),       # insert then delete: gone
            (5, "e", 50.0, "D", 2),
        ],
        "k long, name string, v double, op string, seq long",
    )
    out = {r.k: r for r in cdc_apply(base, changes, "k").collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].name == "a"            # untouched base row
    assert out[2].name == "b2" and out[2].v == 21.0
    assert out[4].name == "d"
    # unknown op treated as upsert (documented loose mode)
    weird = spark.createDataFrame([(1, "z", 0.0, "X", 9)], "k long, name string, v double, op string, seq long")
    out2 = {r.k: r.name for r in cdc_apply(base, weird, "k").collect()}
    assert out2[1] == "z"
    with pytest.raises(ValueError, match="missing column"):
        cdc_apply(base, changes.drop("seq"), "k")
    with pytest.raises(ValueError, match="collides"):
        cdc_apply(base.withColumnRenamed("name", "op"), changes.withColumnRenamed("name", "op2"), "k")


def test_cdc_apply_null_key_is_a_key(spark):
    """NULL keys behave as one key end-to-end: the latest-change window
    already groups them (partitionBy treats NULL as a value), so the
    base anti-join must match them too — the NULL-unequal list-equality
    form kept the NULL base row AND emitted the upsert (the scd2_lookup
    duplicate shape, ADVICE r9)."""
    from backend_spark.scale import cdc_apply

    base = spark.createDataFrame(
        [(None, "null-row", 1.0), (1, "a", 10.0)], "k long, name string, v double"
    )
    upd = spark.createDataFrame(
        [(None, "null-row2", 2.0, "U", 5)],
        "k long, name string, v double, op string, seq long",
    )
    out = cdc_apply(base, upd, "k").collect()
    assert len(out) == 2  # no duplicate NULL-key row
    got = {r.name for r in out}
    assert got == {"null-row2", "a"}
    # and a delete tombstone removes the NULL-keyed row
    dele = spark.createDataFrame(
        [(None, "x", 0.0, "D", 9)],
        "k long, name string, v double, op string, seq long",
    )
    out2 = cdc_apply(base, dele, "k").collect()
    assert [r.name for r in out2] == ["a"]


def test_cdc_apply_changes_derived_from_base(spark):
    """A changelog built FROM the snapshot (shared lineage) must not
    trip AMBIGUOUS_SELF_JOIN or mis-resolve the anti-join condition —
    the eqNullSafe predicate is built through explicit aliases on both
    sides (ADVICE r10)."""
    from backend_spark.scale import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    # derive the changes from base itself: bump v on key 2, delete key 3
    changes = base.where("k >= 2").select(
        "k",
        F.col("name"),
        (F.col("v") + 1).alias("v"),
        F.when(F.col("k") == 3, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit(7).alias("seq"),
    )
    out = {r.k: r for r in cdc_apply(base, changes, "k").collect()}
    assert set(out) == {1, 2}
    assert out[1].v == 10.0
    assert out[2].v == 21.0


def test_cdc_apply_composite_null_key(spark):
    """Composite keys with a NULL component: only the matching
    (NULL, g) pair is replaced — the null-safe predicate applies
    per key column, not to the tuple as a whole (ADVICE r11: this
    block lives in its own test so a composite-key failure reports
    under the right name)."""
    from backend_spark.scale import cdc_apply

    base2 = spark.createDataFrame(
        [(None, "g1", 1.0), (None, "g2", 2.0)], "k long, g string, v double"
    )
    upd2 = spark.createDataFrame(
        [(None, "g1", 11.0, "U", 1)],
        "k long, g string, v double, op string, seq long",
    )
    out3 = {r.g: r.v for r in cdc_apply(base2, upd2, ["k", "g"]).collect()}
    assert out3 == {"g1": 11.0, "g2": 2.0}


def test_cdc_apply_backtick_key_name(spark):
    """A key column whose NAME contains a backtick must round-trip the
    alias-qualified reference (escaped `` form) instead of breaking the
    parse (ADVICE r11)."""
    from backend_spark.scale import cdc_apply

    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k`q", "name"])
    upd = spark.createDataFrame(
        [(2, "b2", "U", 5)], ["k`q", "name", "op", "seq"]
    )
    out = {r["k`q"]: r["name"] for r in cdc_apply(base, upd, "k`q").collect()}
    assert out == {1: "a", 2: "b2"}


def test_stage_modes_switch_mechanism(spark, tmp_path):
    """scale.stage honors the session-conf switch: local (default) =
    localCheckpoint, reliable = checkpoint() into the configured dir;
    any other mode (``persist`` included) and a missing checkpoint dir
    raise with actionable messages (VERDICT r11 #3)."""
    from backend_spark.scale import STAGE_DIR_CONF, STAGE_MODE_CONF, stage

    df = spark.range(50).toDF("x")
    try:
        # default (conf unset) = local: RDD reports checkpointed state
        out = stage(df, eager=True)
        assert out.rdd.isCheckpointed() or out.rdd.getCheckpointFile() is None
        assert sorted(r.x for r in out.collect()) == list(range(50))

        for bad in ("persist", "bogus"):
            spark.conf.set(STAGE_MODE_CONF, bad)
            with pytest.raises(ValueError, match="unknown") as exc:
                stage(df)
            assert "'local'" in str(exc.value) and "'reliable'" in str(exc.value)

        spark.conf.set(STAGE_MODE_CONF, "reliable")
        if spark.sparkContext.getCheckpointDir() is None:
            spark.conf.set(STAGE_DIR_CONF, str(tmp_path / "ck"))
        outr = stage(df, eager=True)
        assert outr.count() == 50
        assert spark.sparkContext.getCheckpointDir() is not None
    finally:
        spark.conf.set(STAGE_MODE_CONF, "local")


def test_stage_modes_agree_on_iterative_query(spark, tmp_path):
    """The checkpoint-heaviest path (connected-components pointer
    jumping, one lineage cut per round) returns identical labels under
    both stage modes — the switch changes fault-tolerance cost, never
    results."""
    from backend_spark.operators.graph import connected_components
    from backend_spark.scale import STAGE_DIR_CONF, STAGE_MODE_CONF

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (11, 12), (3, 1)],
        "src long, dst long",
    )

    def run():
        out = connected_components(edges, src="src", dst="dst")
        return sorted((r[0], r[1]) for r in out.collect())

    try:
        base = run()
        spark.conf.set(STAGE_MODE_CONF, "reliable")
        if spark.sparkContext.getCheckpointDir() is None:
            spark.conf.set(STAGE_DIR_CONF, str(tmp_path / "ck2"))
        assert run() == base
    finally:
        spark.conf.set(STAGE_MODE_CONF, "local")


def test_rollup_merge_equals_direct(spark):
    from pyspark.sql import functions as F

    from backend_spark.scale import rollup_merge, rollup_partials

    rows = [(f"g{i % 3}", float(i) / 7.0, i) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, x double, i long")
    b1 = rollup_partials(df.where("i % 2 = 0"), "g", ["x"])
    b2 = rollup_partials(df.where("i % 2 = 1"), "g", ["x"])
    merged = {r.g: r for r in rollup_merge(b1.unionByName(b2), "g", ["x"]).collect()}
    direct = {r.g: r for r in rollup_merge(rollup_partials(df, "g", ["x"]), "g", ["x"]).collect()}
    assert merged == direct  # associativity: any merge tree, same result
    ref = {
        r.g: r
        for r in df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.round("x", 6)), 6).alias("s"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .collect()
    }
    for g, r in merged.items():
        assert r.n_rows == ref[g].n and r.x_n == ref[g].n
        assert abs(r.x_sum - ref[g].s) < 1e-6
        assert r.x_min == ref[g].lo and r.x_max == ref[g].hi
        assert abs(r.x_avg - r.x_sum / r.x_n) < 1e-6
    # null accounting: nulls drop from x_n/sum but count in n_rows
    dfn = spark.createDataFrame([("a", 1.0), ("a", None)], "g string, x double")
    m = rollup_merge(rollup_partials(dfn, "g", ["x"]), "g", ["x"]).collect()[0]
    assert m.n_rows == 2 and m.x_n == 1 and m.x_sum == 1.0


def test_acf_linear_ramp(spark):
    import pytest

    from backend_spark.features import acf

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(1, 6)], "k string, t long, x double"
    )
    got = {r.lag: r for r in acf(df, "k", "t", "x", max_lag=3).collect()}
    assert got[1].n == 5
    assert got[1].acf == 0.4      # ramp [1..5]: num 4 / den 10
    assert got[2].acf == -0.1
    assert got[3].acf == -0.4
    # constant series: zero variance -> NULL
    cdf = spark.createDataFrame([("c", i, 7.0) for i in range(4)], "k string, t long, x double")
    assert all(r.acf is None for r in acf(cdf, "k", "t", "x", max_lag=2).collect())
    # series shorter than lag -> NULL at that lag
    sdf = spark.createDataFrame([("s", 0, 1.0), ("s", 1, 2.0)], "k string, t long, x double")
    got2 = {r.lag: r.acf for r in acf(sdf, "k", "t", "x", max_lag=3).collect()}
    assert got2[2] is None and got2[3] is None
    with pytest.raises(ValueError, match="max_lag"):
        acf(df, "k", "t", "x", max_lag=0)
    with pytest.raises(ValueError, match="not in df"):
        acf(df, "k", "t", "zzz")


def test_weighted_median(spark):
    from backend_spark.features import weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 1.0), ("a", 4.0, 5.0),
         ("b", 1.0, 1.0), ("b", 2.0, 1.0), ("b", 3.0, 1.0), ("b", 4.0, 1.0)],
        "g string, v double, w double",
    )
    got = {r.g: r for r in weighted_median(df, "g", "v", "w").collect()}
    assert got["a"].wmedian == 4.0      # the weight-5 row dominates
    assert got["b"].wmedian == 2.0      # unweighted lower median
    assert got["a"].total_w == 8.0 and got["b"].n == 4
    # zero/negative weights and NULLs drop
    dfn = spark.createDataFrame(
        [("c", 1.0, 0.0), ("c", 2.0, 1.0), ("c", None, 9.0), ("c", 9.0, -1.0)],
        "g string, v double, w double",
    )
    m = weighted_median(dfn, "g", "v", "w").collect()[0]
    assert m.wmedian == 2.0 and m.n == 1


def test_gini_concentration(spark):
    from backend_spark.features import gini

    df = spark.createDataFrame(
        [("even", 5.0), ("even", 5.0), ("even", 5.0), ("even", 5.0),
         ("conc", 0.0), ("conc", 0.0), ("conc", 0.0), ("conc", 10.0)],
        "g string, v double",
    )
    got = {r.g: r for r in gini(df, "g", "v").collect()}
    assert got["even"].gini == 0.0
    assert got["conc"].gini == 0.75    # (n-1)/n with all mass on one row
    # NULL and negative drop into n_dropped without shifting ranks
    dfn = spark.createDataFrame(
        [("m", None), ("m", -3.0), ("m", 5.0), ("m", 5.0)], "g string, v double"
    )
    r = gini(dfn, "g", "v").collect()[0]
    assert r.n == 2 and r.n_dropped == 2 and r.gini == 0.0


def test_theil_sen_robust_slope(spark):
    import pytest

    from backend_spark.features import theil_sen

    pts = [(1.0, 3.0), (2.0, 5.0), (3.0, 7.0), (4.0, 9.0), (5.0, 100.0)]
    df = spark.createDataFrame([("a", x, y) for x, y in pts], "g string, x double, y double")
    r = theil_sen(df, "g", "x", "y").collect()[0]
    assert r.slope == 2.0 and r.intercept == 1.0   # outlier (5,100) cannot move it
    assert r.n == 5 and r.n_pairs == 10
    # vertical-only group: all x equal -> NULL slope
    vdf = spark.createDataFrame([("v", 1.0, float(i)) for i in range(3)], "g string, x double, y double")
    rv = theil_sen(vdf, "g", "x", "y").collect()[0]
    assert rv.slope is None and rv.n_pairs == 0
    # guard trips on oversized groups
    big = spark.createDataFrame([("z", float(i), float(i)) for i in range(30)], "g string, x double, y double")
    with pytest.raises(ValueError, match="max_group_rows"):
        theil_sen(big, "g", "x", "y", max_group_rows=10)
    with pytest.raises(ValueError, match="not in df"):
        theil_sen(df, "g", "x", "zzz")


def test_ab_test_two_proportion(spark):
    import math

    import pytest

    from backend_spark.quality import ab_test

    rows = (
        [("c", 1)] * 50 + [("c", 0)] * 50      # control: 50%
        + [("t1", 1)] * 70 + [("t1", 0)] * 30  # strong lift
        + [("t2", 1)] * 52 + [("t2", 0)] * 48  # noise
    )
    df = spark.createDataFrame(rows, "arm string, conv int")
    got = {r.arm: r for r in ab_test(df, "arm", "conv", control="c").collect()}
    assert set(got) == {"t1", "t2"}
    t1 = got["t1"]
    assert t1.n == 100 and t1.conv == 70 and t1.control_n == 100
    assert t1.rate == 0.7 and t1.control_rate == 0.5 and t1.lift == 0.2
    p = 120 / 200
    z_exp = 0.2 / math.sqrt(p * (1 - p) * (2 / 100))
    assert abs(t1.z - z_exp) < 1e-6 and t1.significant
    assert not got["t2"].significant
    # degenerate variance: both rates 0 -> NULL z
    dz = spark.createDataFrame([("c", 0), ("t", 0)], "arm string, conv int")
    r = ab_test(dz, "arm", "conv", control="c").collect()[0]
    assert r.z is None and r.significant is None
    with pytest.raises(ValueError, match="not in df"):
        ab_test(df, "arm", "zzz", control="c")


def test_zipf_fit_slope(spark):
    import pytest

    from backend_spark.llm import zipf_fit

    # construct frequencies following freq = 1000 / rank exactly:
    # slope must come out -1, r2 = 1
    rows = []
    for r in range(1, 11):
        rows += [(f"tok{r:02d} ",)] * (1000 // r * 1)
    docs = spark.createDataFrame([(" ".join(w for (w,) in rows),)], "text string")
    out = zipf_fit(docs, "text", top_n=10).collect()[0]
    assert out.n_terms == 10
    assert abs(out.slope + 1.0) < 0.02    # floor(1000/r) quantization
    assert out.r2 > 0.999
    with pytest.raises(ValueError, match="top_n"):
        zipf_fit(docs, "text", top_n=2)


def test_seq_patterns_paths(spark):
    import pytest

    from backend_spark.features import seq_patterns

    rows = [
        ("u1", 1, "view"), ("u1", 2, "click"), ("u1", 3, "buy"),
        ("u2", 1, "view"), ("u2", 2, "click"), ("u2", 3, "buy"),
        ("u3", 1, "view"), ("u3", 2, "click"), ("u3", 3, None), ("u3", 4, "buy"),
    ]
    df = spark.createDataFrame(rows, "u string, t long, s string")
    got = {r.pattern: r for r in seq_patterns(df, "u", "t", "s", length=3, min_count=1).collect()}
    # u3's window (view,click,NULL) and (click,NULL,buy) drop whole
    assert got["view>click>buy"].cnt == 2
    assert all(p.count(">") == 2 for p in got)
    total = sum(r.cnt for r in got.values())
    assert abs(sum(r.share for r in got.values()) - 1.0) < 1e-9
    assert got["view>click>buy"].share == round(2 / total, 6)
    with pytest.raises(ValueError, match="length"):
        seq_patterns(df, "u", "t", "s", length=1)
    with pytest.raises(ValueError, match="not in df"):
        seq_patterns(df, "u", "t", "zzz")


def test_recipe_new_steps_cdc_rollup_cascade(spark):
    from backend_spark.plans import RecipeBook
    from backend_spark.scale import rollup_partials

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [(2, "b2", "U", 1), (3, "c", "I", 1)], "k long, v string, op string, seq long"
    )
    conf = {
        "recipes": {
            "merge": {"steps": [{"cdc": {"changes": "chg", "keys": ["k"]}}]},
            "roll": {"steps": [{"rollup": {"keys": ["g"], "values": ["x"]}}]},
            "roll2": {
                "steps": [
                    {"rollup": {"keys": ["g"], "values": ["x"], "merge": True,
                                "merge_with": ["batch2"]}}
                ]
            },
            "cascade": {
                "steps": [
                    {"match_cascade": {
                        "dataset": "ref",
                        "passes": [{"name": "exact", "keys": [["v", "rv"]]}],
                        "select": {"m_id": "rid"},
                    }}
                ]
            },
        }
    }
    raw = spark.createDataFrame([("g1", 1.0), ("g1", 3.0)], "g string, x double")
    b1 = rollup_partials(raw.where("x < 2"), ["g"], ["x"])
    b2 = rollup_partials(raw.where("x >= 2"), ["g"], ["x"])
    ref = spark.createDataFrame([(7, "a")], "rid long, rv string")
    book = RecipeBook(conf, datasets={"chg": changes, "batch2": b2, "ref": ref}, spark=spark)
    merged = {r.k: r.v for r in book.run("merge", base).collect()}
    assert merged == {1: "a", 2: "b2", 3: "c"}
    roll = book.run("roll", raw).collect()[0]
    assert roll.n_rows == 2 and roll.x_sum == 4.0
    roll2 = book.run("roll2", b1).collect()[0]
    assert roll2.n_rows == 2 and roll2.x_avg == 2.0
    casc = {r.v: r for r in book.run("cascade", base).collect()}
    assert casc["a"].m_id == 7 and casc["a"].match_pass == "exact"
    assert casc["b"].m_id is None


def test_recipe_new_steps_stats(spark):
    from backend_spark.plans import RecipeBook

    conf = {
        "recipes": {
            "ab": {"steps": [{"ab_test": {"arm": "arm", "conv": "c", "control": "ctl"}}]},
            "g": {"steps": [{"gini": {"by": "s", "value": "v"}}]},
            "a": {"steps": [{"acf": {"key": "s", "order": "t", "value": "v", "max_lag": 1}}]},
            "sq": {"steps": [{"seq_patterns": {"key": "s", "order": "t", "state": "e",
                                               "length": 2, "min_count": 1}}]},
            "z": {"steps": [{"zipf": {"text": "txt", "top_n": 3}}]},
        }
    }
    book = RecipeBook(conf, spark=spark)
    ab = spark.createDataFrame(
        [("ctl", 0), ("ctl", 1), ("t", 1), ("t", 1)], "arm string, c int"
    )
    assert book.run("ab", ab).collect()[0].arm == "t"
    ts = spark.createDataFrame(
        [("s1", 1, 1.0, "x"), ("s1", 2, 2.0, "y"), ("s1", 3, 3.0, "x")],
        "s string, t long, v double, e string",
    )
    assert book.run("g", ts).collect()[0].gini is not None
    assert book.run("a", ts).collect()[0].lag == 1
    pats = {r.pattern for r in book.run("sq", ts).collect()}
    assert pats == {"x>y", "y>x"}
    docs = spark.createDataFrame([("a a a b b c",)], "txt string")
    assert book.run("z", docs).collect()[0].n_terms == 3


def test_cdc_stream_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from backend_spark.scale import cdc_apply
    from backend_spark.streaming import cdc_stream, read_cdc_state

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, "U", 5),
            (3, "c", 30.0, "D", 5),
            (4, "d", 40.0, "I", 5),
            (2, "bX", 99.0, "U", 3),   # stale: arrives in a LATER file
            (3, "zombie", 0.0, "U", 4),  # stale vs the seq-5 delete
        ],
        "k long, name string, v double, op string, seq long",
    )
    # feed = base as seq-0 upserts + changes, sliced into many files ->
    # many micro-batches in arbitrary order
    feed = base.select(
        "k", "name", "v", F.lit("B").alias("op"), F.lit(0).cast("long").alias("seq")
    ).unionByName(changes)
    src = str(tmp_path / "feed")
    feed.repartition(4).write.parquet(src)
    state = str(tmp_path / "state")
    sdf = spark.readStream.schema(feed.schema).option("maxFilesPerTrigger", 1).parquet(src)
    cdc_stream(sdf, state, "k", seq_col="seq", op_col="op",
               checkpoint=str(tmp_path / "ck"), n_buckets=4)
    got = {
        r.k: r
        for r in read_cdc_state(spark, state).select("k", "name", "v").collect()
    }
    expect = {
        r.k: r for r in cdc_apply(base, changes, "k").collect()
    }
    assert set(got) == set(expect) == {1, 2, 4}
    for k in expect:
        assert (got[k].name, got[k].v) == (expect[k].name, expect[k].v)
    # the tombstone is physically present but filtered
    raw = spark.read.parquet(state)
    assert raw.where("k = 3").count() == 1


def test_attribution_models(spark):
    import pytest

    from backend_spark.features import attribution

    rows = [
        # u1: ad > email > CONV ; then social > CONV
        ("u1", 1, "ad", 0), ("u1", 2, "email", 0), ("u1", 3, "-", 1),
        ("u1", 4, "social", 0), ("u1", 5, "-", 1),
        # u2: conversion with NO touches -> (direct)
        ("u2", 1, "-", 1),
        # u3: touches but never converts -> no credit at all
        ("u3", 1, "ad", 0), ("u3", 2, "ad", 0),
    ]
    df = spark.createDataFrame(rows, "u string, t long, ch string, conv int")
    last = {r.channel: r for r in attribution(df, "u", "t", "ch", "conv", model="last").collect()}
    assert last["email"].credit == 1.0 and last["social"].credit == 1.0
    assert last["(direct)"].credit == 1.0 and "ad" not in last
    first = {r.channel: r.credit for r in attribution(df, "u", "t", "ch", "conv", model="first").collect()}
    assert first == {"ad": 1.0, "social": 1.0, "(direct)": 1.0}
    lin = {r.channel: r for r in attribution(df, "u", "t", "ch", "conv", model="linear").collect()}
    assert lin["ad"].credit == 0.5 and lin["email"].credit == 0.5
    assert lin["social"].credit == 1.0 and lin["(direct)"].credit == 1.0
    assert lin["ad"].journeys == 1
    # three-way split floors at micro precision: 2/3 journey -> 0.666666
    df3 = spark.createDataFrame(
        [("x", 1, "a", 0), ("x", 2, "a", 0), ("x", 3, "b", 0), ("x", 4, "-", 1)],
        "u string, t long, ch string, conv int",
    )
    lin3 = {r.channel: r.credit for r in attribution(df3, "u", "t", "ch", "conv", model="linear").collect()}
    assert lin3["a"] == 0.666666 and lin3["b"] == 0.333333
    with pytest.raises(ValueError, match="unknown model"):
        attribution(df, "u", "t", "ch", "conv", model="shapley")


def test_compaction_plan_bins(spark):
    import pytest

    from backend_spark.scale import compaction_plan

    # 10 files of 40 bytes -> target 100 -> bins of floor-fill
    rows = [(f"f{i:02d}", 40) for i in range(10)] + [("big", 500)]
    df = spark.createDataFrame(rows, "path string, sz long")
    out = compaction_plan(df, "path", "sz", target_bytes=100).collect()
    assert all(r.path != "big" for r in out)       # >= target excluded
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin, []).append(r)
    # exclusive-prefix fill: bins 0..3 get [3,2,3,2] files (100-byte target,
    # 40-byte files straddle boundaries into the bin they start in)
    sizes = {b: sum(r.bytes for r in rs) for b, rs in by_bin.items()}
    assert sum(sizes.values()) == 400
    assert all(s <= 140 for s in sizes.values())   # within one file of target
    assert sorted(r.bin_seq for r in by_bin[0]) == list(range(1, len(by_bin[0]) + 1))
    # deterministic: same input -> same plan
    out2 = compaction_plan(df, "path", "sz", target_bytes=100).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    with pytest.raises(ValueError, match="target_bytes"):
        compaction_plan(df, "path", "sz", target_bytes=0)
    with pytest.raises(ValueError, match="not in df"):
        compaction_plan(df, "path", "zzz", target_bytes=10)


def test_label_encode_ids(spark):
    import pytest

    from backend_spark.features import label_encode

    df = spark.createDataFrame(
        [("b",), ("b",), ("b",), ("a",), ("a",), ("c",), (None,)], "cat string"
    )
    freq = {r.cat: r.cat_id for r in label_encode(df, "cat").collect()}
    assert freq == {"b": 0, "a": 1, "c": 2, None: None}  # freq desc, ties by value
    val = {r.cat: r.cat_id for r in label_encode(df, "cat", order="value").collect()}
    assert val == {"a": 0, "b": 1, "c": 2, None: None}
    # frequency ties break by value ascending
    df2 = spark.createDataFrame([("z",), ("y",)], "cat string")
    tie = {r.cat: r.cat_id for r in label_encode(df2, "cat").collect()}
    assert tie == {"y": 0, "z": 1}
    with pytest.raises(ValueError, match="collides"):
        label_encode(df.withColumnRenamed("cat", "cat_id").withColumn("cat", F.lit("x")), "cat")
    with pytest.raises(ValueError, match="unknown order"):
        label_encode(df, "cat", order="hash")


def test_scd2_lookup_point_in_time(spark):
    import pytest

    from backend_spark.quality import scd2_lookup

    dim = spark.createDataFrame(
        [
            (1, "bronze", 10, 20),
            (1, "silver", 20, 40),
            (1, "gold", 40, None),
            (2, "bronze", 5, None),
        ],
        "k long, tier string, valid_from long, valid_to long",
    )
    facts = spark.createDataFrame(
        [(100, 1, 15), (101, 1, 20), (102, 1, 39), (103, 1, 99),
         (104, 1, 5),   # predates history
         (105, 2, 7), (106, 3, 7)],  # unknown key
        "fid long, k long, ts long",
    )
    got = {r.fid: r for r in scd2_lookup(facts, dim, "k", "ts").collect()}
    assert got[100].dim_tier == "bronze"
    assert got[101].dim_tier == "silver"     # half-open: boundary -> new version
    assert got[102].dim_tier == "silver"
    assert got[103].dim_tier == "gold"       # NULL valid_to = current
    assert got[104].dim_tier is None         # before first version, kept (left)
    assert got[105].dim_tier == "bronze"
    assert got[106].dim_tier is None
    inner = scd2_lookup(facts, dim, "k", "ts", how="inner")
    assert sorted(r.fid for r in inner.collect()) == [100, 101, 102, 103, 105]
    # NULL-safe left: a MATCHED fact carrying a NULL payload column must
    # come back exactly once, with its dim attrs (a payload-column
    # anti-join would duplicate it — NULL never equals NULL in SQL)
    nf = spark.createDataFrame(
        [(200, 1, 15, None), (201, 1, 5, None)],
        "fid long, k long, ts long, note string",
    )
    nrows = scd2_lookup(nf, dim, "k", "ts").collect()
    assert len(nrows) == 2
    by_fid = {r.fid: r for r in nrows}
    assert by_fid[200].dim_tier == "bronze" and by_fid[200].note is None
    assert by_fid[201].dim_tier is None      # predates history, kept once
    with pytest.raises(ValueError, match="collide"):
        scd2_lookup(facts.withColumn("dim_tier", F.lit("x")), dim, "k", "ts")
    with pytest.raises(ValueError, match="missing column"):
        scd2_lookup(facts, dim.drop("valid_to"), "k", "ts")


def test_ks_test_exact(spark):
    import math

    import pytest

    from backend_spark.features import ks_test

    # identical distributions -> D = 0
    rows = [("a", float(i % 5)) for i in range(50)] + [("b", float(i % 5)) for i in range(50)]
    df = spark.createDataFrame(rows, "s string, v double")
    r = ks_test(df, "s", "v", "a", "b").collect()[0]
    assert r.d_stat == 0.0 and r.p_approx == 1.0 and r.n_a == 50
    # disjoint supports -> D = 1
    rows2 = [("a", float(i)) for i in range(10)] + [("b", float(i + 100)) for i in range(10)]
    df2 = spark.createDataFrame(rows2, "s string, v double")
    r2 = ks_test(df2, "s", "v", "a", "b").collect()[0]
    assert r2.d_stat == 1.0
    assert r2.p_approx == round(2 * math.exp(-2 * 1 * 100 / 20), 6)
    # hand-checked asymmetric case: a={1,2}, b={1,3,3}
    df3 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 3.0), ("b", 3.0), ("x", 9.9)],
        "s string, v double",
    )
    r3 = ks_test(df3, "s", "v", "a", "b").collect()[0]
    # ECDFs at 1: 1/2 vs 1/3; at 2: 1 vs 1/3 -> D = 2/3; label 'x' ignored
    assert r3.d_stat == round(2 / 3, 6) and r3.n_b == 3
    # grouped path matches the global path per group
    g = df3.withColumn("g", F.lit("g1"))
    rg = ks_test(g, "s", "v", "a", "b", by="g").collect()[0]
    assert rg.d_stat == r3.d_stat and rg.g == "g1"
    with pytest.raises(ValueError, match="not in df"):
        ks_test(df3, "s", "zzz", "a", "b")


def test_bipartite_projection_copurchase(spark):
    import pytest

    from backend_spark.operators.graph import bipartite_projection

    edges = spark.createDataFrame(
        [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"), ("u3", "a"),
         ("u3", "c"), ("u1", "a")],  # duplicate edge must not inflate
        "u string, item string",
    )
    out = {(r.item_i, r.item_j): r for r in
           bipartite_projection(edges, "u", "item", min_common=1).collect()}
    ab = out[("a", "b")]
    assert ab.common == 2                       # u1, u2 (dup collapsed)
    assert ab.jaccard == round(2 / 3, 6)        # |{u1,u2}| / |{u1,u2,u3}|
    assert out[("a", "c")].common == 1
    assert ("b", "c") not in out
    # hub cap: dropping u1 (deg 2... use cap 1) removes its wedges
    capped = {(r.item_i, r.item_j): r.common for r in
              bipartite_projection(edges, "u", "item", min_common=1, max_left_degree=1).collect()}
    assert capped == {}   # every left with >=2 items exceeds cap 1
    # under an ACTIVE cap the jaccard denominator must use degrees over
    # the capped edge set: u1:{a,b}, u2:{a,b,c} with cap 2 drops u2
    # entirely -> common(a,b)=1 over capped degrees 1,1 -> jaccard 1.0
    # (uncapped degrees 2,2 would understate it as 1/3)
    e2 = spark.createDataFrame(
        [("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "b"), ("u2", "c")],
        "u string, item string",
    )
    c2 = {(r.item_i, r.item_j): r for r in
          bipartite_projection(e2, "u", "item", min_common=1, max_left_degree=2).collect()}
    assert c2[("a", "b")].common == 1 and c2[("a", "b")].jaccard == 1.0
    with pytest.raises(ValueError, match="min_common"):
        bipartite_projection(edges, "u", "item", min_common=0)


def test_twap_duration_weighting(spark):
    import pytest

    from backend_spark.features import twap

    rows = [("s", 0, 9.0), ("s", 3600, 1.0), ("s", 3601, 1.0),
            ("one", 5, 2.0)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    got = {r.k: r for r in twap(df, "k", "ts", "v").collect()}
    # 9.0 held 3600s, 1.0 held 1s -> (9*3600 + 1*1)/3601
    assert got["s"].twap == round((9 * 3600 + 1) / 3601, 6)
    assert got["s"].span == 3601 and got["s"].n == 3
    assert got["one"].twap is None              # no span
    # equal timestamps: tie_break pins the lead() pairing — tied
    # readings hold 0 duration except the last, deterministically
    tied = spark.createDataFrame(
        [("t", 0, 5.0, "b"), ("t", 0, 7.0, "a"), ("t", 10, 1.0, "c")],
        "k string, ts long, v double, id string",
    )
    r = {x.k: x for x in twap(tied, "k", "ts", "v", tie_break="id").collect()}
    # order (0,'a')=7, (0,'b')=5, (10,'c'): 7 holds 0s, 5 holds 10s
    assert r["t"].twap == 5.0 and r["t"].span == 10
    with pytest.raises(ValueError, match="not in df"):
        twap(df, "k", "ts", "zzz")


def test_rfm_scores(spark):
    from backend_spark.features import rfm

    rows = []
    for i in range(10):
        for e in range(i + 1):                  # key i has i+1 events
            rows.append((i, 100 * i + e, float(10 * i)))
    df = spark.createDataFrame(rows, "k long, ts long, amt double")
    got = {r.k: r for r in rfm(df, "k", "ts", "amt").collect()}
    assert got[9].r_score == 5 and got[9].f_score == 5 and got[9].m_score == 5
    assert got[0].r_score == 1 and got[0].f_score == 1 and got[0].m_score == 1
    assert got[9].frequency == 10 and got[9].monetary == 900.0
    assert got[9].recency == 909
    # uneven split must reproduce ntile exactly: 7 keys into 3 tiles ->
    # bucket sizes 3,2,2 (first N mod n buckets one larger)
    df7 = spark.createDataFrame(
        [(i, 10 * i, float(i)) for i in range(7)], "k long, ts long, amt double"
    )
    s7 = {r.k: r.r_score for r in rfm(df7, "k", "ts", "amt", n_tiles=3).collect()}
    assert s7 == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 3}


def test_bucket_quantiles_exact(spark):
    import pytest

    from backend_spark.features import bucket_quantiles

    df = spark.createDataFrame([("g", float(i)) for i in range(1, 101)], "g string, v double")
    r = bucket_quantiles(df, "g", "v", percentiles=[50, 95, 99, 100]).collect()[0]
    assert (r.p50, r.p95, r.p99, r.p100) == (50.0, 95.0, 99.0, 100.0)
    assert r.n == 100
    # small group: lower quantile = ceil(p*n/100)-th value
    df2 = spark.createDataFrame([("g", 1.0), ("g", 2.0), ("g", 3.0)], "g string, v double")
    r2 = bucket_quantiles(df2, "g", "v", percentiles=[50]).collect()[0]
    assert r2.p50 == 2.0    # ceil(1.5) = 2nd value
    with pytest.raises(ValueError, match="percentiles"):
        bucket_quantiles(df, "g", "v", percentiles=[0])


def test_bloom_filter_join_exact(spark):
    import pytest

    from backend_spark.scale import bloom_filter_join

    big = spark.createDataFrame([(i, f"r{i}") for i in range(500)], "k long, payload string")
    small = spark.createDataFrame([(i * 7,) for i in range(30)], "k long")  # 0,7,...,203
    semi = bloom_filter_join(big, small, "k")
    expect = big.join(small, "k", "left_semi")
    assert sorted(map(tuple, semi.collect())) == sorted(map(tuple, expect.collect()))
    # inner keeps small's columns too
    small2 = spark.createDataFrame([(7, "x")], "k long, tag string")
    inner = bloom_filter_join(big, small2, "k", how="inner").collect()
    assert len(inner) == 1 and inner[0].tag == "x" and inner[0].payload == "r7"
    # big side never shuffles before the exact join: the bloom stage is
    # broadcast joins only
    plan = bloom_filter_join(big, small, "k")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError, match="left_semi/inner"):
        bloom_filter_join(big, small, "k", how="right")



def test_disparate_impact_four_fifths(spark):
    import pytest

    from backend_spark.quality import disparate_impact

    rows = [("ref", 1)] * 50 + [("ref", 0)] * 50 \
        + [("g1", 1)] * 30 + [("g1", 0)] * 70 \
        + [("g2", 1)] * 45 + [("g2", 0)] * 55
    df = spark.createDataFrame(rows, "g string, y int")
    got = {r.group: r for r in disparate_impact(df, "g", "y", reference="ref").collect()}
    assert got["g1"].di_ratio == 0.6 and got["g1"].adverse
    assert got["g2"].di_ratio == 0.9 and not got["g2"].adverse
    assert got["g1"].ref_rate == 0.5 and got["g1"].rate == 0.3
    with pytest.raises(ValueError, match="not in df"):
        disparate_impact(df, "g", "zzz", reference="ref")


def test_freshness_lag(spark):
    from backend_spark.quality import freshness

    df = spark.createDataFrame(
        [("a", 1000), ("a", 5000), ("b", 4000), ("c", None)],
        "src string, us long",
    )
    got = {r.source: r for r in freshness(df, "src", "us", max_lag_us=500).collect()}
    assert got["a"].lag_us == 0 and not got["a"].stale
    assert got["b"].lag_us == 1000 and got["b"].stale
    assert "c" not in got            # only-NULL source has no evidence
    assert got["a"].n == 2


def test_ece_calibration_error(spark):
    from backend_spark.ml import ece

    # perfectly calibrated: 10 rows at 0.3 with 3 positives, etc.
    rows = [(0.35, 1)] * 3 + [(0.35, 0)] * 7 + [(0.95, 1)] * 9 + [(0.95, 0)] * 1
    df = spark.createDataFrame(rows, "score double, y int")
    r = ece(df, "score", "y").collect()[0]
    # bin 3: acc 0.3 conf 0.35 -> |diff| .05; bin 9: acc 0.9 conf 0.95
    assert r.ece == round((10 / 20) * 0.05 + (10 / 20) * 0.05, 6)
    assert r.n == 20 and r.n_bins_used == 2
    # overconfident garbage: score 0.99, never right
    bad = spark.createDataFrame([(0.99, 0)] * 5, "score double, y int")
    assert ece(bad, "score", "y").collect()[0].ece == 0.99


def test_fix_mojibake_roundtrip(spark):
    import pytest

    from backend_spark.llm import MOJIBAKE_RULES, fix_mojibake

    broken = "caf\u00c3\u00a9 \u00e2\u0080\u009cquoted\u00e2\u0080\u009d ok"
    df = spark.createDataFrame([(1, broken), (2, "clean text")], "id long, text string")
    got = {r.id: r for r in fix_mojibake(df, "text").collect()}
    assert got[1].text_fixed == "caf\u00e9 \u201cquoted\u201d ok"
    assert got[1].mojibake and not got[2].mojibake
    assert got[2].text_fixed == "clean text"
    # every rule actually fires
    all_bad = " ".join(b for b, _ in MOJIBAKE_RULES)
    all_good = " ".join(g for _, g in MOJIBAKE_RULES)
    df2 = spark.createDataFrame([(all_bad,)], "text string")
    assert fix_mojibake(df2, "text").collect()[0].text_fixed == all_good
    with pytest.raises(ValueError, match="collides"):
        fix_mojibake(df.withColumn("text_fixed", df.text), "text")


def test_merge_intervals_islands(spark):
    import pytest

    from backend_spark.features import merge_intervals

    rows = [
        ("k", 0, 10), ("k", 5, 12),      # overlap -> one span
        ("k", 12, 15),                   # touching (half-open) -> merges at gap 0
        ("k", 20, 40), ("k", 25, 30),    # contained interval swallowed
        ("k", 50, 60),
        ("k", 3, None), ("k", 9, 7),     # invalid rows drop
    ]
    df = spark.createDataFrame(rows, "k string, lo long, hi long")
    got = sorted((r.lo, r.hi, r.n_merged) for r in merge_intervals(df, "k", "lo", "hi").collect())
    assert got == [(0, 15, 3), (20, 40, 2), (50, 60, 1)]
    # max_gap=5 bridges 15->20 (gap 5) but not 40->50 (gap 10)
    g = sorted((r.lo, r.hi) for r in merge_intervals(df, "k", "lo", "hi", max_gap=5).collect())
    assert g == [(0, 40), (50, 60)]
    # max_gap=10 bridges everything
    g10 = sorted((r.lo, r.hi) for r in merge_intervals(df, "k", "lo", "hi", max_gap=10).collect())
    assert g10 == [(0, 60)]
    with pytest.raises(ValueError, match="max_gap"):
        merge_intervals(df, "k", "lo", "hi", max_gap=-1)


def test_ri_check_orphans(spark):
    import pytest

    from backend_spark.quality import ri_check

    facts = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (99,), (99,), (42,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    out = ri_check(facts, dim, "fk", dim_key="id", top_k=2)
    rows = {(-1 if r.key is None else 0, r.kind, r.key): r for r in out.collect()}
    summary = rows[(-1, "summary", None)]
    assert summary.n == 8 and summary.orphan_rate == round(5 / 8, 6)  # 4 orphans + 1 null
    assert rows[(-1, "null", None)].n == 1
    assert rows[(0, "orphan", "99")].n == 3
    assert rows[(0, "orphan", "42")].n == 1
    with pytest.raises(ValueError, match="not in facts"):
        ri_check(facts, dim, "zzz", dim_key="id")


def test_sync_plan_actions(spark):
    from backend_spark.scale import cdc_apply  # noqa: F401  (module warm)
    from backend_spark.quality import sync_plan

    old = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    # new: k=5 changed, k=7 deleted, k=200 added
    new = (
        old.where("k <> 5 and k <> 7")
        .unionByName(spark.createDataFrame([(5, "CHANGED"), (200, "v200")], "k long, v string"))
    )
    plan = sync_plan(old, new, n_buckets=16).collect()
    assert plan, "identical tables would give an empty plan"
    actions = {r.action for r in plan}
    assert actions <= {"copy", "delete", "resync"}
    # every touched bucket accounts for a real difference
    assert all(r.old_rows != r.new_rows or r.action == "resync" for r in plan)
    # identical inputs -> empty plan
    assert sync_plan(old, old, n_buckets=16).count() == 0


def test_gap_report_finds_silence(spark):
    import pytest

    from backend_spark.features import gap_report

    rows = [("a", 0), ("a", 10), ("a", 1000), ("a", 1020), ("a", 5000),
            ("b", 0), ("b", 5)]
    df = spark.createDataFrame(rows, "k string, us long")
    got = sorted((r.k, r.gap_start, r.gap_end, r.gap_us)
                 for r in gap_report(df, "k", "us", min_gap=100).collect())
    assert got == [("a", 10, 1000, 990), ("a", 1020, 5000, 3980)]
    top = gap_report(df, "k", "us", min_gap=100, top_k_per_key=1).collect()
    assert len(top) == 1 and top[0].gap_us == 3980 and top[0].rank == 1
    with pytest.raises(ValueError, match="min_gap"):
        gap_report(df, "k", "us", min_gap=0)


def test_dup_report_histogram(spark):
    from backend_spark.llm import dup_report

    # per-doc random hex words: char-shingle overlap across docs stays
    # far below threshold, so only the exact copies cluster
    import hashlib

    base = [
        (i, " ".join(hashlib.md5(f"{i}-{j}".encode()).hexdigest() for j in range(12)))
        for i in range(20)
    ]
    # ids 100/101 duplicate doc 0's text; 200 duplicates doc 1's
    dups = [(100, base[0][1]), (101, base[0][1]), (200, base[1][1])]
    df = spark.createDataFrame(base + dups, "doc_id long, text string")
    got = {r.size: r for r in dup_report(df, "doc_id", "text").collect()}
    assert got[3].n_clusters == 1          # {0, 100, 101}
    assert got[2].n_clusters == 1          # {1, 200}
    assert got[1].n_clusters == 18
    assert got[3].n_docs == 3 and got[3].share == round(3 / 23, 6)
    assert sum(r.n_docs for r in got.values()) == 23


def test_pop_change_periods(spark):
    import pytest

    from backend_spark.features import pop_change

    rows = [("a", "2024-01", 10.0), ("a", "2024-01", 5.0),
            ("a", "2024-02", 30.0), ("a", "2024-04", 15.0),
            ("b", "2024-01", 8.0)]
    df = spark.createDataFrame(rows, "k string, p string, v double")
    got = {(r.k, r.p): r for r in pop_change(df, "k", "p", "v").collect()}
    assert got[("a", "2024-01")].value == 15.0 and got[("a", "2024-01")].prev_value is None
    feb = got[("a", "2024-02")]
    assert (feb.prev_value, feb.change, feb.pct_change) == (15.0, 15.0, 1.0)
    apr = got[("a", "2024-04")]
    assert apr.prev_value == 30.0 and apr.pct_change == -0.5   # previous WITH data
    assert got[("b", "2024-01")].prev_value is None
    cnt = {(r.k, r.p): r.value for r in pop_change(df, "k", "p", "v", agg="count").collect()}
    assert cnt[("a", "2024-01")] == 2.0
    with pytest.raises(ValueError, match="agg"):
        pop_change(df, "k", "p", "v", agg="avg")


def test_session_stats_depth_and_bounce(spark):
    import pytest

    from backend_spark.features import session_stats

    rows = [("u", 0), ("u", 50), ("u", 80),        # session 1: 3 events
            ("u", 1000),                           # session 2: bounce
            ("u", 3000), ("u", 3010),              # session 3
            ("v", 7)]
    df = spark.createDataFrame(rows, "k string, us long")
    got = {(r.k, r.session): r for r in session_stats(df, "k", "us", gap_us=100).collect()}
    s1 = got[("u", 1)]
    assert (s1.n_events, s1.session_start, s1.session_end, s1.duration_us, s1.bounce) == (3, 0, 80, 80, False)
    assert got[("u", 2)].bounce and got[("u", 2)].n_events == 1
    assert got[("u", 3)].duration_us == 10
    assert got[("v", 1)].bounce
    # spacing exactly == gap does NOT break (strictly greater rule)
    df2 = spark.createDataFrame([("w", 0), ("w", 100)], "k string, us long")
    assert session_stats(df2, "k", "us", gap_us=100).count() == 1
    with pytest.raises(ValueError, match="gap_us"):
        session_stats(df, "k", "us", gap_us=0)
