"""Recipe compiler: the reference's YAML recipe tree -> a DataFrame
transformation function (reference: Recipe.__init__ code/recipes.py:976-1139,
step dispatch :1282-1283, run_chunk :1270-1307; SURVEY.md §3.1).

The recipe tree IS the logical plan: each step is either an internal
operator or another recipe (recursion).  Compilation is declarative —
every step chains DataFrame transformations, so one recipe becomes one
Catalyst plan and the reference's chunk loop / worker pool / write
queue machinery has no equivalent here (SURVEY.md §4).

YAML conventions preserved:
* ``recipes: {name: {input?, steps: [...], output?}}``
* each step is a one-key mapping ``{opname: args}``;
* ``!ENV ${VAR}`` / ``${VAR}`` interpolation from the environment
  (reference code/config.py:53-91);
* ``pause`` short-circuits the remaining steps (code/recipes.py:1292-1293);
* a step name that matches another recipe runs that recipe inline.
"""

from __future__ import annotations

import os
import re
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_spark import operators as ops
from backend_spark.sources import read_dataset, write_dataset

_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _interpolate(node):
    if isinstance(node, str):
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), node)
    if isinstance(node, dict):
        return {k: _interpolate(v) for k, v in node.items()}
    if isinstance(node, list):
        return [_interpolate(v) for v in node]
    return node


def load_conf(text_or_path: str) -> dict:
    """Parse recipe YAML (string or file path) with env interpolation.
    ``!ENV`` tags are treated as plain scalars then interpolated."""
    import yaml

    class _Loader(yaml.SafeLoader):
        pass

    _Loader.add_constructor("!ENV", lambda loader, node: loader.construct_scalar(node))
    if os.path.exists(text_or_path):
        with open(text_or_path) as fh:
            raw = yaml.load(fh, Loader=_Loader)
    else:
        raw = yaml.load(text_or_path, Loader=_Loader)
    return _interpolate(raw or {})


def _prepared(df: DataFrame, prepare: Callable) -> Callable[[DataFrame], DataFrame]:
    """A step whose ``prepare(frame)`` builds against the frame's schema,
    as a function of a frame: it keeps the build for one schema and
    rebuilds when a frame of another schema arrives.  The steps before
    it may change their output schema from one request to the next
    while the recipe's input schema stays the same (``unnest`` of a JSON
    column, ``sql``, steps that read datasets)."""
    held = (df.schema, prepare(df))

    def bind(d: DataFrame) -> DataFrame:
        nonlocal held
        schema, fn = held
        if d.schema != schema:
            schema, fn = held = d.schema, prepare(d)
        return fn(d)

    return bind


class RecipeBook:
    """Compiles and runs recipes against named datasets.

    ``datasets`` maps dataset names -> DataFrame (or zero-arg callables
    returning one) — the referential side of joins and recipe inputs.
    File-backed datasets can be declared in the conf under ``datasets:``
    with {path, format, options}.

    ``compile(name)`` resolves a recipe once: every step is turned,
    against the frame it receives, into a function that only runs
    DataFrame operations on each new frame.  Built once and kept: the
    Columns of ``normalize``, ``eval`` (tier-1 compile, its analysis
    check, the tier-2 fallback decision) and ``keep``; a join's pruned
    broadcast referential projection and its ``fuzzy_match`` Columns;
    the referential's persisted ``fuzzy_dictionary`` per (dataset, word
    column) for automata/fastcomp joins; the ``PipelineModel`` an
    ``apply_model`` step loads.  The steps built from a schema
    (``normalize``, ``eval``, ``keep``, ``apply_model``) keep one build
    and rebuild it when a frame of another schema reaches them, so
    client-chosen schemas replace builds rather than grow them.  Steps
    whose work reads the request's data (``sql`` views, ``dsir
    keep_frac``'s percentile) and joins against callable datasets (they
    may return new data on each call) run whole on each request.

    One book-scoped cache holds the compiled recipes, dictionaries and
    models, under one invalidation rule: an entry is stale once anything
    it was built from has changed — the object held in
    ``datasets[name]``, or the files under a model path (any file
    added, removed, or of another mtime or size).  A stale dictionary
    is unpersisted when it is replaced.  Recipe definitions are read
    when a recipe is first compiled.
    """

    def __init__(self, conf: dict, datasets: dict | None = None, spark: SparkSession | None = None):
        self.conf = conf
        self.recipes: dict = conf.get("recipes", {})
        self.dataset_conf: dict = conf.get("datasets", {})
        self.datasets = dict(datasets or {})
        self.spark = spark
        # key -> (deps, value); deps are the (kind, key, stamp) the value
        # was built from, see _fresh.  Each key has a lock serializing its
        # builds across the REST server's threads (_lock guards _locks);
        # _views serializes sql view registration
        self._cache: dict[tuple, tuple[list, object]] = {}
        self._locks: dict[tuple, threading.RLock] = {}
        self._lock = threading.Lock()
        self._views = threading.Lock()

    # -- datasets ----------------------------------------------------------

    def dataset(self, name: str) -> DataFrame:
        if name in self.datasets:
            ds = self.datasets[name]
            return ds() if callable(ds) else ds
        if name in self.dataset_conf:
            c = self.dataset_conf[name]
            opts = dict(c.get("options", {}))
            if "select" in c:  # column pruning reaches the scan (ReadSchema)
                opts.setdefault("select", c["select"])
            df = read_dataset(self.spark, c["path"], c.get("format", "parquet"), **opts)
            if "filter" in c:
                # read-time filter recipe (reference input.filter,
                # code/recipes.py:512-523) — a Column-only recipe here
                # pushes its predicates into the scan via Catalyst
                df = self._resolve_steps(self.recipes[c["filter"]].get("steps", []), df, [], None)[1]
            self.datasets[name] = df
            return df
        raise KeyError(f"unknown dataset: {name}")

    # -- cache -------------------------------------------------------------

    def _stamp(self, kind: str, key: str):
        if kind == "dataset":
            return self.datasets.get(key)
        # "model": (relative path, mtime, size) of the local path and of
        # everything under it, so a model rewritten in place is seen too
        try:
            entries = [("", os.stat(key).st_mtime_ns, 0)]
            for root, dirs, files in os.walk(key):
                for entry in dirs + files:
                    full = os.path.join(root, entry)
                    st = os.stat(full)
                    entries.append((os.path.relpath(full, key), st.st_mtime_ns, st.st_size))
        except OSError:  # not a local path: never fresh, reloaded per compile
            return object()
        return sorted(entries)

    def _fresh(self, deps: list) -> bool:
        """The one invalidation rule: every (kind, key, stamp) an entry
        was built from still has its stamp — the same object in
        ``datasets[key]``, the same files under model path ``key``."""
        return all(self._stamp(kind, key) == stamp for kind, key, stamp in deps)

    def _cached(self, key: tuple, build: Callable, release: Callable | None = None):
        """Cache entry ``key``: ``build(deps)`` at first use, kept while
        the (kind, key, stamp) it appended to ``deps`` are fresh, then
        rebuilt (``release``-ing the stale value).  Builds of one key are
        serialized; other keys and ``sql`` steps do not wait for them."""
        with self._lock:
            lock = self._locks.setdefault(key, threading.RLock())
        with lock:
            held = self._cache.get(key)
            if held is not None and self._fresh(held[0]):
                return held[1]
            if held is not None and release is not None:
                release(held[1])
            deps: list = []
            value = build(deps)
            self._cache[key] = (deps, value)
            return value

    def _fuzzy_dictionary(self, name: str, ref: DataFrame, word_col: str) -> DataFrame:
        """The cached ``fuzzy_dictionary`` of dataset ``name``, built and
        materialized on first use.  ``cache()`` rather than a lineage
        cut: evicted blocks are recomputed from the referential, so a
        long-lived server never reads a lost block.  fastcomp and the
        recipes' automata joins both match at distance 1."""

        def build(deps):
            deps.append(("dataset", name, ref))
            dictionary = ops.fuzzy_dictionary(ref, word_col, 1).cache()
            dictionary.count()
            return dictionary

        return self._cached(("dictionary", name, word_col), build, DataFrame.unpersist)

    def _model(self, path: str, deps: list):
        """The ``PipelineModel`` at ``path``, loaded once per stamp."""
        from pyspark.ml import PipelineModel

        dep = ("model", path, self._stamp("model", path))
        deps.append(dep)

        def load(own):
            own.append(dep)
            return PipelineModel.load(path)

        return self._cached(("model", path), load)

    # -- steps -------------------------------------------------------------

    def _resolve_steps(
        self, steps: list, df: DataFrame, deps: list, test_n: int | None, trace: list | None = None
    ) -> tuple[Callable[[DataFrame], DataFrame], DataFrame]:
        """Resolve ``steps`` against ``df``: (the function applying the
        resolved steps to a frame of ``df``'s schema, its result on
        ``df``).  ``test_n`` is the test-mode row cap of ``sql`` steps;
        ``trace`` collects each step's columns and row count."""
        binds, out = [], df
        for step in steps:
            ((name, args),) = [(step, None)] if isinstance(step, str) else step.items()
            if name in self.recipes:  # sub-recipe, resolved inline
                bind, out = self._resolve_steps(self.recipes[name].get("steps", []), out, deps, test_n)
            else:
                bind = self._bind_step(out, name, args if args is not None else {}, deps, test_n)
                out = bind(out)
            binds.append(bind)
            if trace is not None:
                trace.append({"step": name, "columns": out.columns, "rows": out.count()})
            if name == "pause" and name not in self.recipes:
                break  # short-circuit: drop the remaining steps

        def run(frame: DataFrame) -> DataFrame:
            for bind in binds:
                frame = bind(frame)
            return frame

        return run, out

    def _bind_step(
        self, df: DataFrame, name: str, a, deps: list, test_n: int | None
    ) -> Callable[[DataFrame], DataFrame]:
        """One step, resolved against ``df`` (the frame it receives) into
        a function of a frame of that schema."""
        if name == "map":
            return lambda d: ops.op_map(d, a)
        if name == "rename":
            return lambda d: ops.op_rename(d, a)
        if name == "keep":
            return _prepared(df, lambda d: ops.prepare_keep(d, a.get("select"), a.get("where")))
        if name == "delete":
            return lambda d: ops.op_delete(d, a.get("select") if isinstance(a, dict) else a)
        if name == "fillna":
            return lambda d: ops.op_fillna(d, a)
        if name == "to_integer":
            return lambda d: ops.op_to_integer(d, a.get("select"))
        if name == "to_float":
            return lambda d: ops.op_to_float(d, a.get("select"), a.get("na_value"))
        if name == "parsedate":
            return lambda d: ops.op_parsedate(d, a.get("select"), a.get("format", "%Y%m%d"))
        if name == "replace":
            return lambda d: ops.op_replace(d, a.get("select"), a.get("regex", []))
        if name == "normalize":
            return _prepared(df, lambda d: ops.prepare_normalize(d, a.get("select")))
        if name == "eval":
            return _prepared(df, lambda d: ops.prepare_eval(d, a))
        if name == "exec":
            return lambda d: ops.op_exec(d, a if not isinstance(a, dict) else a.get("statements"),
                                         a.get("schema") if isinstance(a, dict) else None)
        if name == "shuffle":
            return ops.op_shuffle
        if name == "pause":
            return lambda d: ops.op_pause(d, a.get("select"), a.get("head"))
        if name == "unfold":
            return lambda d: ops.op_unfold(d, a.get("select"), a.get("fill_na"))
        if name == "unnest":
            # forward max_keys so a >10k-key map plan can raise the cap
            # from the spec (the overflow error's stated remedy)
            return lambda d: ops.op_unnest(
                d, a.get("select"), a.get("prefix", ""),
                max_keys=a.get("max_keys", 10000),
            )
        if name == "nest":
            return lambda d: ops.op_nest(d, a.get("select"), a.get("target", "nested"))
        if name == "ngram":
            return lambda d: ops.op_ngram(d, a.get("select"), a.get("n", [2, 3]))
        if name == "list_to_tuple":
            return ops.op_list_to_tuple
        if name == "tuple_to_list":
            return ops.op_tuple_to_list
        if name == "groupby":
            return lambda d: ops.op_groupby(
                d, a.get("select"), a.get("agg"), a.get("transform"), a.get("rank")
            )
        if name == "sql":
            return lambda d: self._sql(d, a if isinstance(a, str) else a["query"], test_n)
        if name == "join":
            return self._bind_join(a, deps)
        if name == "clique":
            # reference key is 'compute'; op_clique normalizes str/'all'
            return lambda d: ops.op_clique(d, a.get("select"), a.get("metrics", a.get("compute")))
        if name == "build_model":
            from backend_spark import ml

            return lambda d: ml.build_model(
                d,
                numerical=a.get("numerical"),
                categorical=a.get("categorical"),
                target=a.get("target"),
                output=a.get("output", "matchid_hit_score_ml"),
                model_path=a.get("model", {}).get("name") if isinstance(a.get("model"), dict) else a.get("model_path"),
                tries=a.get("tries", 2),
                test_size=a.get("test_size", 0.33),
                seed=a.get("seed", 42),
            )
        if name == "apply_model":
            # reference internal_apply_model (code/recipes.py:1833-1897):
            # args are `name` (persisted model), `target` (output col);
            # feature selection rides the persisted pipeline here, so
            # numerical/categorical regexes are accepted but only the
            # numeric null->0 prep needs them
            from backend_spark import ml

            model = a.get("model")
            path = (
                model.get("name") if isinstance(model, dict)
                else (a.get("name") or a.get("model_path") or model)
            )
            model = self._model(path, deps)
            return _prepared(
                df, lambda d: ml.prepare_apply_model(d, model, target=a.get("target", "matchid_hit_score_ml"))
            )
        if name == "dedup":
            # corpus dedup as a declarative step (beyond-reference; the
            # LLM-pipeline operators from backend_spark.llm)
            from backend_spark import llm

            method = a.get("method", "exact")
            id_col, text_col = a.get("id", "doc_id"), a.get("text", "text")
            if method == "exact":
                return lambda d: llm.dedup_exact(d, id_col, text_col, normalize=a.get("normalize", False))
            if method == "minhash":
                kw = {
                    k: a[k]
                    for k in ("num_perm", "bands", "shingle_n", "jaccard_threshold")
                    if k in a
                }
                return lambda d: llm.dedup_minhash(d, id_col, text_col, **kw)
            raise KeyError(f"unknown dedup method: {method}")
        if name == "quality":
            from backend_spark import llm

            kw = {
                k: a[k]
                for k in (
                    "min_words", "max_words", "min_mean_word_len", "max_mean_word_len",
                    "max_symbol_word_ratio", "min_stopword_hits", "max_dup_ngram_frac",
                    "ngram_n", "lang",
                )
                if k in a
            }
            id_col = a.get("id", "doc_id")

            def quality(d):
                out = llm.quality_filter(d, id_col, a.get("text", "text"), **kw)
                if a.get("drop", True):  # default: act as a filter on the corpus
                    return d.join(out.where("keep").select(id_col), id_col, "left_semi")
                return out

            return quality
        if name == "pii":
            from backend_spark import llm

            return lambda d: llm.pii_scan(
                d, a.get("id", "doc_id"), a.get("text", "text"),
                redact=a.get("redact", True),
            )
        if name == "decontaminate":
            from backend_spark import llm

            id_col = a.get("id", "doc_id")

            def decontaminate(d):
                flags = llm.decontaminate(
                    d, id_col, a.get("text", "text"), self.dataset(a["benchmark"]),
                    bench_text_col=a.get("benchmark_text", "text"), n=a.get("n", 13),
                )
                if a.get("drop", True):
                    return d.join(flags.where(~F.col("contaminated")).select(id_col), id_col, "left_semi")
                return flags

            return decontaminate
        if name == "dsir":
            # DSIR importance weights toward a declared target dataset;
            # keep_frac gates the corpus on the weight's in-corpus rank
            from backend_spark import llm

            id_col = a.get("id", "doc_id")

            def dsir(d):
                weights = llm.dsir_weights(
                    d, self.dataset(a["target"]), id_col, a.get("text", "text"),
                    buckets=a.get("buckets", 8192), alpha=a.get("alpha", 1.0),
                )
                frac = a.get("keep_frac")
                if frac is None:
                    return d.join(weights.select(id_col, "logweight"), id_col, "left")
                thr = weights.agg(
                    F.percentile(F.col("logweight"), F.lit(1.0 - float(frac)))
                ).collect()[0][0]
                kept = weights.where(F.col("logweight") >= thr).select(id_col)
                return d.join(kept, id_col, "left_semi")

            return dsir
        if name == "bloom_decontaminate":
            from backend_spark import llm

            id_col = a.get("id", "doc_id")

            def bloom_decontaminate(d):
                flags = llm.bloom_decontaminate(
                    d, self.dataset(a["benchmark"]), id_col, a.get("text", "text"),
                    n=a.get("n", 8), m_bits=a.get("m_bits", 1 << 18),
                    k=a.get("k", 4), threshold=a.get("threshold", 0.5),
                )
                if a.get("drop", True):
                    return d.join(flags.where(~F.col("flagged")).select(id_col), id_col, "left_semi")
                return flags

            return bloom_decontaminate
        if name == "winsorize":
            from backend_spark.features import winsorize

            return lambda d: winsorize(
                d, a["col"], lower=a.get("lower", 0.01),
                upper=a.get("upper", 0.99), group_col=a.get("group"),
                out_col=a.get("out"),
            )
        if name == "ridge":
            # hash-exact linear scoring as a declarative step: train on
            # this frame (features + target) and attach pred/resid, or
            # apply persisted weights (model:) as pure plan literals
            from backend_spark import ml

            feats = a["features"]
            if a.get("model"):
                return lambda d: ml.ridge_apply(d, a["model"], feats, out_col=a.get("out", "pred"))
            return lambda d: ml.ridge_score(d, feats, a["target"], l2=a.get("l2", 1e-3))
        if name == "fill_forward":
            from backend_spark.features import fill_forward

            return lambda d: fill_forward(d, a["key"], a["order"], a["select"])
        if name == "url_normalize":
            from backend_spark import llm

            return lambda d: llm.url_normalize(d, a.get("select", "url"))
        if name == "readability":
            from backend_spark import llm

            id_col = a.get("id", "doc_id")
            return lambda d: d.join(
                llm.readability(d, id_col, a.get("text", "text")).select(id_col, "flesch"),
                id_col, "left",
            )
        if name == "chunk":
            from backend_spark import llm

            return lambda d: llm.chunk_text(
                d, a.get("id", "doc_id"), a.get("text", "text"),
                chunk_tokens=a.get("tokens", 128), overlap=a.get("overlap", 32),
                min_tokens=a.get("min_tokens", 1),
            )
        if name == "sample":
            # deterministic weighted panel (priority sampling) as a
            # declarative step — weight col + k, optional per-group
            from backend_spark import llm

            return lambda d: llm.priority_sample(
                d, a.get("id", "doc_id"), a["weight"], k=a["k"],
                group_col=a.get("group"), salt=a.get("salt", "prio"),
            )
        if name == "target_encode":
            from backend_spark.features import target_encode

            return lambda d: target_encode(
                d, a["cat"], a["target"], smoothing=a.get("smoothing", 10.0),
                out_col=a.get("out", "encoded"),
            )
        if name == "cusum":
            # drift change-point statistic as a monitoring step
            from backend_spark.features import cusum

            return lambda d: cusum(
                d, a["key"], a["order"], a["value"], target=a["target"],
                k=a.get("k", 0.0), h=a.get("h", 5.0),
                scale=a.get("scale", 1_000_000),
            )
        if name == "fs_score":
            # Fellegi-Sunter match weights: score with a provided
            # weights dataset, estimate from labeled pairs, or — with
            # neither — learn unsupervised via deterministic EM
            from backend_spark.operators import fs_em, fs_score, fs_weights

            feats = a["features"]

            def score(d):
                if a.get("weights"):
                    w = self.dataset(a["weights"])
                elif a.get("label"):
                    w = fs_weights(d, feats, a["label"], smoothing=a.get("smoothing", 0.5))
                else:
                    w = fs_em(d, feats, n_iter=a.get("iters", 10))
                return fs_score(d, w, feats, out_col=a.get("out", "match_weight"))

            return score
        if name == "checksum":
            from backend_spark.quality import table_checksum

            return lambda d: table_checksum(d, a.get("select"), n_buckets=a.get("buckets", 256))
        if name == "cdc":
            # apply a changelog dataset (op/seq columns) to this frame
            from backend_spark.scale import cdc_apply

            return lambda d: cdc_apply(
                d, self.dataset(a["changes"]), a["keys"],
                op_col=a.get("op", "op"), seq_col=a.get("seq", "seq"),
            )
        if name == "rollup":
            # mergeable partial-aggregate state; merge: folds this frame
            # (already partials, e.g. a union of persisted batches),
            # otherwise build partials from raw rows — with merge_with:
            # fold extra persisted batch datasets in too
            from backend_spark.scale import rollup_merge, rollup_partials

            keys, cols = a["keys"], a["values"]
            scale_ = a.get("scale", 1_000_000)

            def rollup(d):
                part = d if a.get("merge") else rollup_partials(d, keys, cols, scale=scale_)
                for extra in a.get("merge_with", []):
                    part = part.unionByName(self.dataset(extra))
                return rollup_merge(part, keys, cols, scale=scale_)

            return rollup
        if name == "match_cascade":
            # waterfall matching against a referential dataset
            from backend_spark.operators import match_cascade

            return lambda d: match_cascade(
                d, self.dataset(a["dataset"]), a["passes"], a["select"],
                pass_col=a.get("pass_col", "match_pass"),
            )
        if name == "ab_test":
            from backend_spark.quality import ab_test

            return lambda d: ab_test(
                d, a["arm"], a["conv"], control=a["control"],
                z_crit=a.get("z_crit", 1.96),
            )
        if name == "gini":
            from backend_spark.features import gini

            return lambda d: gini(d, a["by"], a["value"], scale=a.get("scale", 1_000_000))
        if name == "acf":
            from backend_spark.features import acf

            return lambda d: acf(
                d, a["key"], a["order"], a["value"],
                max_lag=a.get("max_lag", 3), scale=a.get("scale", 1_000_000),
            )
        if name == "seq_patterns":
            from backend_spark.features import seq_patterns

            return lambda d: seq_patterns(
                d, a["key"], a["order"], a["state"],
                length=a.get("length", 3), min_count=a.get("min_count", 2),
            )
        if name == "zipf":
            from backend_spark.llm import zipf_fit

            return lambda d: zipf_fit(d, a.get("text", "text"), top_n=a.get("top_n", 100))
        raise KeyError(f"unknown step: {name}")

    def _sql(self, df: DataFrame, query: str, test_n: int | None) -> DataFrame:
        """SQL-direct step (reference CTAS pushdown, code/recipes.py:1487-1492):
        the incoming frame is registered as `df`, named datasets as views.
        In test mode every view is LIMIT-capped and the query gets an
        outer LIMIT — the Spark shape of the reference's
        MATCHID_INPUT_TABLE CTE rewrite (code/recipes.py:487-505);
        Catalyst pushes the caps into the scans (LocalLimit)."""
        views = {ds_name: self.dataset(ds_name) for ds_name in {**self.datasets, **self.dataset_conf}}
        if test_n is not None:
            views = {ds_name: view.limit(test_n) for ds_name, view in views.items()}
            query = f"SELECT * FROM (\n{query}\n) query LIMIT {test_n}"
        # temp views are session-wide: concurrent requests register and
        # analyze one at a time, and analysis is eager, so the returned
        # plan holds the views as they were registered here
        with self._views:
            df.createOrReplaceTempView("df")
            for ds_name, view in views.items():
                view.createOrReplaceTempView(ds_name)
            return df.sparkSession.sql(query)

    def _bind_join(self, a: dict, deps: list) -> Callable[[DataFrame], DataFrame]:
        """The in_memory strict/fuzzy joins (reference code/recipes.py:2120-2264).
        ES joins are expressed as top-k blocking joins — declare them
        programmatically with operators.join_topk (SURVEY.md §2.2)."""
        name = a["dataset"]
        method = a.get("fuzzy_method", "automata")

        def prepare(ref, dictionary=None):
            if a.get("fuzzy"):
                return ops.prepare_join_fuzzy(
                    ref, a["fuzzy"], strict=a.get("strict"), select=a.get("select"),
                    fuzzy_method=method, dictionary=dictionary,
                )
            return ops.prepare_join_strict(ref, a["strict"], select=a.get("select"))

        if callable(self.datasets.get(name)):
            # may return new data on each call: joined as it is per request
            return lambda d: prepare(self.dataset(name))(d)
        ref = self.dataset(name)
        deps.append(("dataset", name, ref))
        if a.get("fuzzy") and method in ("automata", "fastcomp"):
            (word_col,) = a["fuzzy"].values()
            return prepare(ref, self._fuzzy_dictionary(name, ref, word_col))
        return prepare(ref)

    # -- public API --------------------------------------------------------

    def compile(self, name: str) -> Callable[[DataFrame], DataFrame]:
        """Recipe name -> DataFrame transformation function.  The recipe
        is resolved at the function's first call and again whenever its
        cache entry is stale (see the class docstring)."""
        return lambda df: self._apply(name, df)

    def _apply(self, name: str, df: DataFrame) -> DataFrame:
        first: list = []  # the resolving call's result on df

        def build(deps):
            bind, out = self._resolve_steps(self.recipes[name].get("steps", []), df, deps, None)
            first.append(out)
            return bind

        bind = self._cached(("recipe", name), build)
        return first[0] if first else bind(df)

    def run(self, name: str, df: DataFrame | None = None, test: bool = False) -> DataFrame:
        """Run a recipe: run its ``before`` dependency recipes, resolve
        its input dataset (unless ``df`` is given), apply the steps,
        write the output dataset if declared (skipped in test mode,
        like the reference's test entry point — code/api.py:975-999
        reads one truncated chunk and never writes), then run ``after``
        recipes.  A dependency name suffixed ``&`` runs async in a
        daemon thread (reference run_deps, code/recipes.py:1309-1350);
        Spark schedules concurrent jobs from multiple threads natively.

        Test mode caps the input and every ``sql`` step's views and
        result at 30 rows (reference test_chunk_size, conf/conf.yml:23;
        the reference wraps input tables in a LIMIT CTE and the query in
        an outer LIMIT, code/recipes.py:487-505); its resolution is not
        cached.
        """
        recipe = self.recipes[name]
        self._run_deps(recipe.get("before", []), test)
        if df is None:
            inp = recipe.get("input")
            src = inp["dataset"] if isinstance(inp, dict) else inp
            df = self.dataset(src)
            if test:
                df = df.limit(30)
        if test:
            out = self._resolve_steps(recipe.get("steps", []), df, [], 30)[1]
        else:
            out = self._apply(name, df)
        output = recipe.get("output")
        if output and not test:
            c = output if isinstance(output, dict) else {"path": output}
            write_dataset(out, c["path"], c.get("format", "parquet"), **c.get("options", {}))
        self._run_deps(recipe.get("after", []), test)
        return out

    def trace(self, name: str, df: DataFrame | None = None, n: int = 30) -> list[dict]:
        """Test-mode per-step capture (reference test entry point returns
        rows + per-step log, code/api.py:975-999): run the recipe on an
        ``n``-row sample, recording after every step the step name, the
        output columns and the sample row count.  Driver-side cost is
        bounded by ``n`` — each prefix re-plans but only ``n`` rows flow.
        """
        recipe = self.recipes[name]
        if df is None:
            inp = recipe.get("input")
            df = self.dataset(inp["dataset"] if isinstance(inp, dict) else inp)
        records: list[dict] = []
        self._resolve_steps(recipe.get("steps", []), df.limit(n), [], n, records)
        return records

    def _run_deps(self, deps: list, test: bool) -> None:
        for dep in deps:
            if dep.endswith("&"):
                threading.Thread(
                    target=self.run, args=(dep[:-1],), kwargs={"test": test}, daemon=True
                ).start()
            else:
                self.run(dep, test=test)
