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


class RecipeBook:
    """Compiles and runs recipes against named datasets.

    ``datasets`` maps dataset names -> DataFrame (or zero-arg callables
    returning one) — the referential side of joins and recipe inputs.
    File-backed datasets can be declared in the conf under ``datasets:``
    with {path, format, options}.

    A fuzzy (automata/fastcomp) join against a DataFrame dataset reuses
    one persisted ``fuzzy_dictionary`` per (dataset, word column,
    max_dist), built at its first use.  Assigning another frame to
    ``datasets[name]`` makes the next such join rebuild it and
    unpersist the old one.  A callable dataset may return new data on
    each call, so its joins build their dictionary inline.
    """

    def __init__(self, conf: dict, datasets: dict | None = None, spark: SparkSession | None = None):
        self.conf = conf
        self.recipes: dict = conf.get("recipes", {})
        self.dataset_conf: dict = conf.get("datasets", {})
        self.datasets = dict(datasets or {})
        self.spark = spark
        # test-mode row cap, set for the duration of run(test=True)/trace();
        # the sql step reads it to rewrite queries (reference wraps input
        # tables in a LIMIT CTE and the whole query in an outer LIMIT in
        # test mode, code/recipes.py:487-505)
        self._test_n: int | None = None
        # (dataset, word col, max_dist) -> (referential frame, its cached
        # dictionary); the lock serializes builds across the REST
        # server's request threads
        self._dictionaries: dict[tuple, tuple[DataFrame, DataFrame]] = {}
        self._dictionaries_lock = threading.Lock()

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
                df = self._apply_steps(df, self.recipes[c["filter"]].get("steps", []))
            self.datasets[name] = df
            return df
        raise KeyError(f"unknown dataset: {name}")

    # -- steps -------------------------------------------------------------

    def _apply_step(self, df: DataFrame, name: str, args) -> DataFrame | None:
        """One step; returns None to signal pause (stop chaining)."""
        if name in self.recipes:  # sub-recipe, recursively compiled
            return self._apply_steps(df, self.recipes[name].get("steps", []))

        a = args if args is not None else {}
        if name == "map":
            return ops.op_map(df, a)
        if name == "rename":
            return ops.op_rename(df, a)
        if name == "keep":
            return ops.op_keep(df, a.get("select"), a.get("where"))
        if name == "delete":
            return ops.op_delete(df, a.get("select") if isinstance(a, dict) else a)
        if name == "fillna":
            return ops.op_fillna(df, a)
        if name == "to_integer":
            return ops.op_to_integer(df, a.get("select"))
        if name == "to_float":
            return ops.op_to_float(df, a.get("select"), a.get("na_value"))
        if name == "parsedate":
            return ops.op_parsedate(df, a.get("select"), a.get("format", "%Y%m%d"))
        if name == "replace":
            return ops.op_replace(df, a.get("select"), a.get("regex", []))
        if name == "normalize":
            return ops.op_normalize(df, a.get("select"))
        if name == "eval":
            return ops.op_eval(df, a)
        if name == "exec":
            return ops.op_exec(df, a if not isinstance(a, dict) else a.get("statements"),
                               a.get("schema") if isinstance(a, dict) else None)
        if name == "shuffle":
            return ops.op_shuffle(df)
        if name == "pause":
            out = ops.op_pause(df, a.get("select"), a.get("head"))
            return ("pause", out)
        if name == "unfold":
            return ops.op_unfold(df, a.get("select"), a.get("fill_na"))
        if name == "unnest":
            # forward max_keys so a >10k-key map plan can raise the cap
            # from the spec (the overflow error's stated remedy)
            return ops.op_unnest(
                df, a.get("select"), a.get("prefix", ""),
                max_keys=a.get("max_keys", 10000),
            )
        if name == "nest":
            return ops.op_nest(df, a.get("select"), a.get("target", "nested"))
        if name == "ngram":
            return ops.op_ngram(df, a.get("select"), a.get("n", [2, 3]))
        if name == "list_to_tuple":
            return ops.op_list_to_tuple(df)
        if name == "tuple_to_list":
            return ops.op_tuple_to_list(df)
        if name == "groupby":
            return ops.op_groupby(
                df, a.get("select"), a.get("agg"), a.get("transform"), a.get("rank")
            )
        if name == "sql":
            # SQL-direct step (reference CTAS pushdown, code/recipes.py:1487-1492):
            # the incoming frame is registered as `df`, named datasets as views.
            # In test mode every view is LIMIT-capped and the query gets an
            # outer LIMIT — the Spark shape of the reference's
            # MATCHID_INPUT_TABLE CTE rewrite (code/recipes.py:487-505);
            # Catalyst pushes the caps into the scans (LocalLimit).
            spark = df.sparkSession
            df.createOrReplaceTempView("df")
            for ds_name in {**self.datasets, **self.dataset_conf}:
                view = self.dataset(ds_name)
                if self._test_n is not None:
                    view = view.limit(self._test_n)
                view.createOrReplaceTempView(ds_name)
            query = a if isinstance(a, str) else a["query"]
            if self._test_n is not None:
                query = f"SELECT * FROM (\n{query}\n) query LIMIT {self._test_n}"
            return spark.sql(query)
        if name == "join":
            return self._apply_join(df, a)
        if name == "clique":
            # reference key is 'compute'; op_clique normalizes str/'all'
            return ops.op_clique(df, a.get("select"), a.get("metrics", a.get("compute")))
        if name == "build_model":
            from backend_spark import ml

            return ml.build_model(
                df,
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
            return ml.apply_model(
                df,
                path,
                target=a.get("target", "matchid_hit_score_ml"),
                numerical=a.get("numerical"),
            )
        if name == "dedup":
            # corpus dedup as a declarative step (beyond-reference; the
            # LLM-pipeline operators from backend_spark.llm)
            from backend_spark import llm

            method = a.get("method", "exact")
            id_col, text_col = a.get("id", "doc_id"), a.get("text", "text")
            if method == "exact":
                return llm.dedup_exact(df, id_col, text_col, normalize=a.get("normalize", False))
            if method == "minhash":
                kw = {
                    k: a[k]
                    for k in ("num_perm", "bands", "shingle_n", "jaccard_threshold")
                    if k in a
                }
                return llm.dedup_minhash(df, id_col, text_col, **kw)
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
            out = llm.quality_filter(
                df, a.get("id", "doc_id"), a.get("text", "text"), **kw
            )
            if a.get("drop", True):  # default: act as a filter on the corpus
                return df.join(out.where("keep").select(a.get("id", "doc_id")),
                               a.get("id", "doc_id"), "left_semi")
            return out
        if name == "pii":
            from backend_spark import llm

            return llm.pii_scan(
                df, a.get("id", "doc_id"), a.get("text", "text"),
                redact=a.get("redact", True),
            )
        if name == "decontaminate":
            from backend_spark import llm

            bench = self.dataset(a["benchmark"])
            flags = llm.decontaminate(
                df, a.get("id", "doc_id"), a.get("text", "text"), bench,
                bench_text_col=a.get("benchmark_text", "text"), n=a.get("n", 13),
            )
            if a.get("drop", True):
                return df.join(
                    flags.where(~F.col("contaminated")).select(a.get("id", "doc_id")),
                    a.get("id", "doc_id"), "left_semi",
                )
            return flags
        if name == "dsir":
            # DSIR importance weights toward a declared target dataset;
            # keep_frac gates the corpus on the weight's in-corpus rank
            from backend_spark import llm

            id_col = a.get("id", "doc_id")
            target = self.dataset(a["target"])
            weights = llm.dsir_weights(
                df, target, id_col, a.get("text", "text"),
                buckets=a.get("buckets", 8192), alpha=a.get("alpha", 1.0),
            )
            frac = a.get("keep_frac")
            if frac is None:
                return df.join(weights.select(id_col, "logweight"), id_col, "left")
            thr = weights.agg(
                F.percentile(F.col("logweight"), F.lit(1.0 - float(frac)))
            ).collect()[0][0]
            kept = weights.where(F.col("logweight") >= thr).select(id_col)
            return df.join(kept, id_col, "left_semi")
        if name == "bloom_decontaminate":
            from backend_spark import llm

            id_col = a.get("id", "doc_id")
            bench = self.dataset(a["benchmark"])
            flags = llm.bloom_decontaminate(
                df, bench, id_col, a.get("text", "text"),
                n=a.get("n", 8), m_bits=a.get("m_bits", 1 << 18),
                k=a.get("k", 4), threshold=a.get("threshold", 0.5),
            )
            if a.get("drop", True):
                return df.join(
                    flags.where(~F.col("flagged")).select(id_col), id_col, "left_semi"
                )
            return flags
        if name == "winsorize":
            from backend_spark.features import winsorize

            return winsorize(
                df, a["col"], lower=a.get("lower", 0.01),
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
                return ml.ridge_apply(
                    df, a["model"], feats, out_col=a.get("out", "pred")
                )
            return ml.ridge_score(df, feats, a["target"], l2=a.get("l2", 1e-3))
        if name == "fill_forward":
            from backend_spark.features import fill_forward

            return fill_forward(df, a["key"], a["order"], a["select"])
        if name == "url_normalize":
            from backend_spark import llm

            return llm.url_normalize(df, a.get("select", "url"))
        if name == "readability":
            from backend_spark import llm

            scores = llm.readability(df, a.get("id", "doc_id"), a.get("text", "text"))
            return df.join(
                scores.select(a.get("id", "doc_id"), "flesch"),
                a.get("id", "doc_id"), "left",
            )
        if name == "chunk":
            from backend_spark import llm

            return llm.chunk_text(
                df, a.get("id", "doc_id"), a.get("text", "text"),
                chunk_tokens=a.get("tokens", 128), overlap=a.get("overlap", 32),
                min_tokens=a.get("min_tokens", 1),
            )
        if name == "sample":
            # deterministic weighted panel (priority sampling) as a
            # declarative step — weight col + k, optional per-group
            from backend_spark import llm

            return llm.priority_sample(
                df, a.get("id", "doc_id"), a["weight"], k=a["k"],
                group_col=a.get("group"), salt=a.get("salt", "prio"),
            )
        if name == "target_encode":
            from backend_spark.features import target_encode

            return target_encode(
                df, a["cat"], a["target"], smoothing=a.get("smoothing", 10.0),
                out_col=a.get("out", "encoded"),
            )
        if name == "cusum":
            # drift change-point statistic as a monitoring step
            from backend_spark.features import cusum

            return cusum(
                df, a["key"], a["order"], a["value"], target=a["target"],
                k=a.get("k", 0.0), h=a.get("h", 5.0),
                scale=a.get("scale", 1_000_000),
            )
        if name == "fs_score":
            # Fellegi-Sunter match weights: score with a provided
            # weights dataset, estimate from labeled pairs, or — with
            # neither — learn unsupervised via deterministic EM
            from backend_spark.operators import fs_em, fs_score, fs_weights

            feats = a["features"]
            if a.get("weights"):
                w = self.dataset(a["weights"])
            elif a.get("label"):
                w = fs_weights(df, feats, a["label"], smoothing=a.get("smoothing", 0.5))
            else:
                w = fs_em(df, feats, n_iter=a.get("iters", 10))
            return fs_score(df, w, feats, out_col=a.get("out", "match_weight"))
        if name == "checksum":
            from backend_spark.quality import table_checksum

            return table_checksum(
                df, a.get("select"), n_buckets=a.get("buckets", 256)
            )
        if name == "cdc":
            # apply a changelog dataset (op/seq columns) to this frame
            from backend_spark.scale import cdc_apply

            return cdc_apply(
                df, self.dataset(a["changes"]), a["keys"],
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
            part = df if a.get("merge") else rollup_partials(df, keys, cols, scale=scale_)
            for extra in a.get("merge_with", []):
                part = part.unionByName(self.dataset(extra))
            return rollup_merge(part, keys, cols, scale=scale_)
        if name == "match_cascade":
            # waterfall matching against a referential dataset
            from backend_spark.operators import match_cascade

            return match_cascade(
                df, self.dataset(a["dataset"]), a["passes"], a["select"],
                pass_col=a.get("pass_col", "match_pass"),
            )
        if name == "ab_test":
            from backend_spark.quality import ab_test

            return ab_test(
                df, a["arm"], a["conv"], control=a["control"],
                z_crit=a.get("z_crit", 1.96),
            )
        if name == "gini":
            from backend_spark.features import gini

            return gini(df, a["by"], a["value"], scale=a.get("scale", 1_000_000))
        if name == "acf":
            from backend_spark.features import acf

            return acf(
                df, a["key"], a["order"], a["value"],
                max_lag=a.get("max_lag", 3), scale=a.get("scale", 1_000_000),
            )
        if name == "seq_patterns":
            from backend_spark.features import seq_patterns

            return seq_patterns(
                df, a["key"], a["order"], a["state"],
                length=a.get("length", 3), min_count=a.get("min_count", 2),
            )
        if name == "zipf":
            from backend_spark.llm import zipf_fit

            return zipf_fit(df, a.get("text", "text"), top_n=a.get("top_n", 100))
        raise KeyError(f"unknown step: {name}")

    def _apply_join(self, df: DataFrame, a: dict) -> DataFrame:
        """The in_memory strict/fuzzy joins (reference code/recipes.py:2120-2264).
        ES joins are expressed as top-k blocking joins — declare them
        programmatically with operators.join_topk (SURVEY.md §2.2)."""
        name = a["dataset"]
        ref = self.dataset(name)
        select = a.get("select")
        if a.get("fuzzy"):
            method = a.get("fuzzy_method", "automata")
            dictionary = None
            if method in ("automata", "fastcomp") and not callable(self.datasets[name]):
                (word_col,) = a["fuzzy"].values()
                dictionary = self._fuzzy_dictionary(name, ref, word_col, max_dist=1)
            return ops.join_fuzzy(
                df,
                ref,
                a["fuzzy"],
                strict=a.get("strict"),
                select=select,
                fuzzy_method=method,
                dictionary=dictionary,
            )
        return ops.join_strict(df, ref, a["strict"], select=select)

    def _fuzzy_dictionary(self, name: str, ref: DataFrame, word_col: str, max_dist: int) -> DataFrame:
        """The cached ``fuzzy_dictionary`` of dataset ``name``, built and
        materialized on first use.  ``cache()`` rather than a lineage
        cut: evicted blocks are recomputed from the referential, so a
        long-lived server never reads a lost block."""
        key = (name, word_col, max_dist)
        with self._dictionaries_lock:
            held = self._dictionaries.get(key)
            if held is not None and held[0] is ref:
                return held[1]
            if held is not None:
                held[1].unpersist()
            dictionary = ops.fuzzy_dictionary(ref, word_col, max_dist).cache()
            dictionary.count()
            self._dictionaries[key] = (ref, dictionary)
            return dictionary

    def _apply_steps(self, df: DataFrame, steps: list) -> DataFrame:
        out = df
        for step in steps:
            if isinstance(step, str):
                name, args = step, None
            else:
                (name, args), = step.items()
            res = self._apply_step(out, name, args)
            if isinstance(res, tuple) and res[0] == "pause":
                return res[1]  # short-circuit: drop the remaining steps
            out = res
        return out

    # -- public API --------------------------------------------------------

    def compile(self, name: str) -> Callable[[DataFrame], DataFrame]:
        """Recipe name -> DataFrame transformation function."""
        recipe = self.recipes[name]
        steps = recipe.get("steps", [])
        return lambda df: self._apply_steps(df, steps)

    def run(self, name: str, df: DataFrame | None = None, test: bool = False) -> DataFrame:
        """Run a recipe: run its ``before`` dependency recipes, resolve
        its input dataset (unless ``df`` is given), apply the steps,
        write the output dataset if declared (skipped in test mode,
        like the reference's test entry point — code/api.py:975-999
        reads one truncated chunk and never writes), then run ``after``
        recipes.  A dependency name suffixed ``&`` runs async in a
        daemon thread (reference run_deps, code/recipes.py:1309-1350);
        Spark schedules concurrent jobs from multiple threads natively.
        """
        recipe = self.recipes[name]
        self._run_deps(recipe.get("before", []), test)
        if df is None:
            inp = recipe.get("input")
            src = inp["dataset"] if isinstance(inp, dict) else inp
            df = self.dataset(src)
            if test:
                df = df.limit(30)  # reference test_chunk_size (conf/conf.yml:23)
        self._test_n = 30 if test else None
        try:
            out = self.compile(name)(df)
        finally:
            self._test_n = None
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
        out = df.limit(n)
        records = []
        self._test_n = n
        try:
            return self._trace_steps(recipe, out, records)
        finally:
            self._test_n = None

    def _trace_steps(self, recipe: dict, out: DataFrame, records: list) -> list[dict]:
        for step in recipe.get("steps", []):
            sname, args = (step, None) if isinstance(step, str) else next(iter(step.items()))
            res = self._apply_step(out, sname, args)
            paused = isinstance(res, tuple) and res[0] == "pause"
            out = res[1] if paused else res
            records.append(
                {"step": sname, "columns": out.columns, "rows": out.count()}
            )
            if paused:
                break
        return records

    def _run_deps(self, deps: list, test: bool) -> None:
        import threading

        for dep in deps:
            if dep.endswith("&"):
                threading.Thread(
                    target=self.run, args=(dep[:-1],), kwargs={"test": test}, daemon=True
                ).start()
            else:
                self.run(dep, test=test)
