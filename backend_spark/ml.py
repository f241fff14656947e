"""ML re-ranking operators (reference build_model/apply_model,
code/recipes.py:1728-1898; SURVEY.md §2.7) on pyspark.ml.

The reference trains a sklearn RandomForest on regex-selected numeric
features (""->0) + DictVectorizer'd categoricals against a binary
target, keeps the best of ``tries`` random train/test splits by test
ROC-AUC, persists with joblib, and scores rows 0-100.  Here:

* features: numeric columns regex-selected, nulls->0, assembled with
  VectorAssembler; categoricals via StringIndexer+OneHotEncoder;
* estimator: RandomForestRegressor (same estimator family and the
  reference's default hyperparameters, conf/conf.yml:38-42);
* selection: ``tries`` seeded random splits, best test ROC-AUC
  (BinaryClassificationEvaluator on the regression score — same
  ranking-quality criterion the reference applies to predict() output);
* persistence: PipelineModel.save/load;
* scoring: round(100 * prediction) into the target column.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from backend_spark import functions as fn
from backend_spark.scale import broadcast_back, prefix_sums, stage


def _feature_pipeline(df: DataFrame, numerical, categorical):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler

    num_cols = (
        [c for c in df.columns if re.search(numerical, c)]
        if isinstance(numerical, str)
        else list(numerical or [])
    )
    cat_cols = list(categorical or [])
    stages, assembled = [], []
    for c in cat_cols:
        stages.append(StringIndexer(inputCol=c, outputCol=f"__idx_{c}", handleInvalid="keep"))
        stages.append(OneHotEncoder(inputCol=f"__idx_{c}", outputCol=f"__oh_{c}"))
        assembled.append(f"__oh_{c}")
    assembled.extend(num_cols)
    stages.append(VectorAssembler(inputCols=assembled, outputCol="__features", handleInvalid="keep"))
    return Pipeline(stages=stages), num_cols


def _prep(df: DataFrame, num_cols) -> DataFrame:
    # ""/null -> 0 on numeric features (reference prep, code/recipes.py:1610-1620)
    out = df
    for c in num_cols:
        out = out.withColumn(c, F.coalesce(F.col(c).cast("double"), F.lit(0.0)))
    return out


def build_model(
    df: DataFrame,
    numerical: str | list | None,
    target: str,
    categorical: list | None = None,
    output: str = "matchid_hit_score_ml",
    model_path: str | None = None,
    tries: int = 2,
    test_size: float = 0.33,
    seed: int = 42,
    num_trees: int = 50,
    max_depth: int = 10,
) -> DataFrame:
    """Train, keep the best split by test ROC-AUC, persist, score the
    full frame 0-100 into ``output`` (reference code/recipes.py:1728-1831).
    Training materializes the input (the reference requires
    ``chunked: False`` for the same reason, docs/recipes.md:224-231)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.regression import RandomForestRegressor

    feats, num_cols = _feature_pipeline(df, numerical, categorical)
    data = _prep(df, num_cols).withColumn("__label", F.col(target).cast("double"))

    rf = RandomForestRegressor(
        featuresCol="__features",
        labelCol="__label",
        predictionCol="__pred",
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=seed,
    )
    pipe = Pipeline(stages=[feats, rf])
    evaluator = BinaryClassificationEvaluator(
        labelCol="__label", rawPredictionCol="__pred", metricName="areaUnderROC"
    )

    best_model, best_auc = None, -1.0
    for i in range(max(1, tries)):
        train, test = data.randomSplit([1 - test_size, test_size], seed=seed + i)
        model = pipe.fit(train)
        auc = evaluator.evaluate(model.transform(test))
        if auc > best_auc:
            best_model, best_auc = model, auc

    if model_path:
        best_model.write().overwrite().save(model_path)

    scored = best_model.transform(data)
    return (
        scored.withColumn(output, F.round(100 * F.col("__pred")).cast("int"))
        .drop("__features", "__pred", "__label", *[c for c in scored.columns if c.startswith("__idx_") or c.startswith("__oh_")])
    )


def model_features(
    df: DataFrame,
    numerical: str | list | None,
    categorical: list | None = None,
    id_col: str = "id",
    test_size: float = 0.33,
    seed: int = 42,
) -> DataFrame:
    """The deterministic half of :func:`build_model`'s pipeline — the
    exact feature matrix the estimator consumes, with none of the RF
    nondeterminism, so it is oracle-expressible end-to-end:

    * numeric features: the same regex selection + ``""``/null → 0
      coercion as :func:`_prep` (reference prep, code/recipes.py:1610-1620);
    * categoricals: the exact MLlib ``StringIndexer`` label index under
      its default ``frequencyDesc`` order (count desc, value asc; null →
      ``numLabels``, matching ``handleInvalid="keep"``) — computed as a
      broadcast frequency-rank join, pure Column ops, no MLlib, so the
      one-hot layout of the trained pipeline is pinned by an ANSI-SQL
      oracle;
    * split membership: a seeded md5-hash rule (``hash(seed,id) %
      1e6 < test_size·1e6``) — the hash-exact, partition-independent
      stand-in for ``randomSplit`` (whose membership is
      partition-dependent and unreproducible cross-engine; build_model
      keeps randomSplit, this column documents a deterministic
      alternative suitable for 100 TB reruns).

    The categorical frequency rank uses a global (unpartitioned) window
    over the *distinct label set* — cardinality-of-the-dim rows, the
    same smallness assumption OneHotEncoder itself makes.
    Returns (id, <numeric cols>, <cat>_idx ..., is_test).
    """
    from pyspark.sql import Window

    num_cols = (
        [c for c in df.columns if re.search(numerical, c)]
        if isinstance(numerical, str)
        else list(numerical or [])
    )
    out = _prep(df, num_cols).select(id_col, *num_cols, *(categorical or []))
    for c in categorical or []:
        freq = df.where(F.col(c).isNotNull()).groupBy(c).agg(F.count(F.lit(1)).alias("__cnt"))
        # partition-less rank window is bounded by LABEL CARDINALITY,
        # not corpus size: `freq` has one row per distinct category, and
        # a column only belongs here if it is one-hot-encodable (the
        # broadcast join below makes the same assumption) — ~1e3-1e5
        # rows, never data-shaped input
        w = Window.orderBy(F.col("__cnt").desc(), F.col(c).asc())
        idx = freq.select(F.col(c), (F.row_number().over(w) - 1).cast("bigint").alias(f"__i_{c}"))
        n_labels = idx.agg(F.count(F.lit(1)).alias(f"__n_{c}"))
        out = (
            out.join(F.broadcast(idx), c, "left")
            .crossJoin(F.broadcast(n_labels))
            .withColumn(
                f"{c}_idx",
                F.coalesce(F.col(f"__i_{c}"), F.col(f"__n_{c}")),
            )
            .drop(f"__i_{c}", f"__n_{c}", c)
        )
    out = out.withColumn(
        "is_test",
        (
            fn.md5_long(F.concat(F.lit(f"split:{seed}:"), F.col(id_col).cast("string")))
            % 1_000_000
            < int(test_size * 1_000_000)
        ),
    )
    return out


def apply_model(
    df: DataFrame,
    model_path: str,
    target: str = "matchid_hit_score_ml",
    numerical: str | list | None = None,
) -> DataFrame:
    """Load a persisted PipelineModel and score rows 0-100 into
    ``target`` (reference apply_model, code/recipes.py:1833-1898)."""
    from pyspark.ml import PipelineModel

    return prepare_apply_model(df, PipelineModel.load(model_path), target)(df)


def prepare_apply_model(
    df: DataFrame, model, target: str = "matchid_hit_score_ml"
) -> Callable[[DataFrame], DataFrame]:
    """``apply_model`` with an already loaded ``model``, compiled against
    ``df``'s schema: the feature preparation and score Columns are built
    once; the returned function scores any frame of that schema."""
    assembler_inputs: list[str] = []
    for stage in model.stages:
        inner = getattr(stage, "stages", [stage])
        for s in inner:
            if s.__class__.__name__ == "VectorAssembler":
                assembler_inputs = [c for c in s.getInputCols() if not c.startswith("__oh_")]
    num_cols = [c for c in assembler_inputs if c in df.columns]
    score = F.round(100 * F.col("__pred")).cast("int")

    def bind(d: DataFrame) -> DataFrame:
        scored = model.transform(_prep(d, num_cols))
        return (
            scored.withColumn(target, score)
            .drop("__features", "__pred", *[c for c in scored.columns if c.startswith("__idx_") or c.startswith("__oh_")])
        )

    return bind


def classifier_eval(
    df: DataFrame,
    gold_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-label evaluation of a (gold, prediction) pair — the report
    card for :func:`~backend_spark.llm.nb_score`,
    :func:`~backend_spark.llm.language_id_from_tokens` or any
    classifier applied at corpus scale (the reference's only quality
    readout is the ROC-AUC it prints during build_model,
    code/recipes.py:1728-1898; this is the multi-class counterpart).

    Returns one row per label appearing in gold or pred: (label,
    support, pred_cnt, tp, precision, recall, f1).  Zero denominators
    score 0.0 (sklearn's ``zero_division=0`` convention); ``f1`` is
    computed from the *unrounded* precision/recall, then all three
    round to ``fn.NDIGITS``.

    Scale: ONE keyed count over (gold, pred) pairs — ≤ |labels|²
    rows — and everything else is arithmetic on that tiny table.
    Nulls count as a label value (they surface as a row, which is the
    diagnostic you want when a scorer drops to null).
    """
    pairs = (
        df.groupBy(
            F.col(gold_col).alias("__g"), F.col(pred_col).alias("__p")
        ).agg(F.count(F.lit(1)).alias("__n"))
    ).transform(stage, eager=False)
    support = pairs.groupBy(F.col("__g").alias("label")).agg(F.sum("__n").alias("support"))
    pred_cnt = pairs.groupBy(F.col("__p").alias("label")).agg(F.sum("__n").alias("pred_cnt"))
    # null-safe throughout: a null label is a legitimate label value
    # (the diagnostic case the docstring promises), and plain `=` joins
    # would split it into disconnected support/pred rows
    tp = (
        pairs.where(F.col("__g").eqNullSafe(F.col("__p")))
        .groupBy(F.col("__g").alias("label"))
        .agg(F.sum("__n").alias("tp"))
    )
    pc = pred_cnt.withColumnRenamed("label", "__lp")
    tpr = tp.withColumnRenamed("label", "__lt")
    base = (
        support.join(pc, F.col("label").eqNullSafe(F.col("__lp")), "full_outer")
        .withColumn("label", F.coalesce("label", "__lp"))
        .join(tpr, F.col("label").eqNullSafe(F.col("__lt")), "left")
        .select(
            "label",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("pred_cnt", F.lit(0)).alias("pred_cnt"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    prec = F.when(F.col("pred_cnt") > 0, F.col("tp") / F.col("pred_cnt")).otherwise(F.lit(0.0))
    rec = F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(F.lit(0.0))
    f1 = F.when(prec + rec > 0, (F.lit(2.0) * prec * rec) / (prec + rec)).otherwise(F.lit(0.0))
    return base.select(
        "label",
        "support",
        "pred_cnt",
        "tp",
        F.round(prec, fn.NDIGITS).alias("precision"),
        F.round(rec, fn.NDIGITS).alias("recall"),
        F.round(f1, fn.NDIGITS).alias("f1"),
    )


def lr_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iter: int = 3,
    learn_rate: float = 0.5,
    grad_scale: float = 1e9,
) -> DataFrame:
    """Deterministic full-batch gradient-descent logistic regression —
    the hash-checkable linear sibling of :func:`build_model` (RF scores
    are engine-specific; these weights reproduce bit-for-bit on any
    engine and any partitioning).

    Determinism design: a float ``sum()`` is partition-order dependent,
    so each row's gradient contribution ``(σ(w·x) − y)·x_j`` is scaled
    by ``grad_scale``, rounded to an integer and summed as BIGINT —
    integer addition is associative, so the gradient is exact under ANY
    shuffle/partition order, and the weight update
    ``w_j − lr·(S_j/scale)/n`` is a fixed chain of IEEE ops.  The only
    cross-engine wobble left is ``exp()`` (libm vs JVM can differ by
    1 ulp, which flips a rounded contribution only when a value lands
    within ~1e-16 relative of a .5 boundary — negligible and accepted,
    same class as the round(,6) convention elsewhere).

    Scale shape: one map-side-combined aggregate per iteration (d+1
    BIGINT sums), weights broadcast back into the next iteration's
    closed-form expression; the driver holds only the (d+1)-float
    weight vector per round — the pagerank-style bounded collect.

    Returns the full training trace: (iter, feature, weight) with
    ``iter`` ∈ 1..n_iter and feature ``__intercept__`` first — so an
    oracle checks every step, not just the converged point.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    spark = df.sparkSession
    d = df.select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("__y"),
    )
    names = ["__intercept__", *feature_cols]
    w = [0.0] * len(names)
    trace = []
    for it in range(1, n_iter + 1):
        z = F.lit(w[0])
        for wj, c in zip(w[1:], feature_cols):
            z = z + F.lit(wj) * F.col(c)
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("__y")
        feats = [F.lit(1.0), *[F.col(c) for c in feature_cols]]
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.round(resid * x * F.lit(grad_scale)).cast("long")).alias(f"g{j}")
                for j, x in enumerate(feats)
            ],
            *[
                F.max(F.abs(F.round(resid * x * F.lit(grad_scale)).cast("long"))).alias(f"m{j}")
                for j, x in enumerate(feats)
            ],
        )
        try:
            row = row.collect()[0]
        except Exception as e:  # ANSI mode throws in-engine on cast/sum overflow
            if "OVERFLOW" in str(e).upper():
                raise OverflowError(
                    f"lr_train: gradient contribution or BIGINT sum overflow "
                    f"(grad_scale={grad_scale}); lower grad_scale or "
                    f"standardize features"
                ) from e
            raise
        n = row["n"]
        if n == 0:
            raise ValueError("lr_train: empty input DataFrame")
        # BIGINT-sum overflow guard: |sum| <= n * max|contribution|; the
        # max is computed in the SAME aggregate, so a violation raises
        # instead of silently returning wrapped-sum weights.  (Python
        # ints are unbounded, so the check itself cannot overflow.)
        for j in range(len(w)):
            if n * (row[f"m{j}"] or 0) >= 2 ** 63:
                raise OverflowError(
                    f"lr_train: gradient sum for weight {j} can exceed BIGINT "
                    f"(n={n}, max|contrib|={row[f'm{j}']}); lower grad_scale "
                    f"or standardize features"
                )
        w = [
            wj - learn_rate * ((row[f"g{j}"] / grad_scale) / n)
            for j, wj in enumerate(w)
        ]
        trace += [(it, name, wj) for name, wj in zip(names, w)]
    return spark.createDataFrame(trace, "iter int, feature string, weight double")


def _det3(m):
    # fixed parenthesization — mirrored verbatim by the SQL oracle so
    # both engines walk the identical IEEE-754 expression tree
    return (
        m[0][0] * (m[1][1] * m[2][2] - m[1][2] * m[2][1])
        - m[0][1] * (m[1][0] * m[2][2] - m[1][2] * m[2][0])
        + m[0][2] * (m[1][0] * m[2][1] - m[1][1] * m[2][0])
    )


def _ridge_fit(
    df: DataFrame,
    keys: list[str],
    feature_cols: list[str],
    label_col: str,
    l2: float,
    qscale: float,
    name: str,
    max_groups: int | None = None,
) -> DataFrame:
    """The one ridge fit behind :func:`ridge_train` (``keys=[]``) and
    :func:`ridge_train_by` (``keys=[group_col]``): exact quantized moment
    sums per ``keys`` group, then the pinned d=2 Cramer solve per group
    on the driver.  Returns (*keys, feature, weight), groups in key
    order (nulls last), weights rounded to ``fn.NDIGITS``; errors name
    ``name`` (and the group).

    Each value is quantized to ``round(x * qscale)`` as BIGINT; every
    first- and second-order moment is then an exact integer, summed as
    DECIMAL(38,0) (Spark) / HUGEINT (the DuckDB oracle) — associative,
    so identical under any partitioning."""
    if len(feature_cols) != 2:
        raise ValueError(f"{name}: exactly 2 feature columns supported (d=2 Cramer solve)")
    if l2 < 0:
        raise ValueError(f"{name}: l2 must be >= 0, got {l2}")
    for key in keys:
        if key not in df.columns:
            raise ValueError(f"{name}: group column {key!r} not in df")
    cols = [*feature_cols, label_col]
    # Deliberately NOT spread_scan'd (round-15, measured): the decimal
    # moment sums over sf0.1 lineitem cost ~1.3 s single-task, and a
    # round-robin exchange of the 600k projected rows costs about the
    # same — the shuffle cancels the parallelism win (guide §1.2: the
    # per-task work is decimal arithmetic, and moving rows to spread it
    # ships every byte the aggregate would otherwise fold in place).
    q = [F.round(F.col(c).cast("double") * F.lit(qscale)).cast("long") for c in cols]
    qd = [x.cast("decimal(38,0)") for x in q]
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, x in enumerate(qd):
        aggs.append(F.sum(x).alias(f"s{i}"))
    for i in range(len(qd)):
        for j in range(i, len(qd)):
            aggs.append(F.sum(qd[i] * qd[j]).alias(f"s{i}{j}"))
    rows = df.groupBy(*keys).agg(*aggs).collect()
    # a global aggregate returns one n=0 row on empty input
    if not rows or rows[0]["n"] == 0:
        raise ValueError(f"{name}: empty input DataFrame")
    if max_groups is not None and len(rows) > max_groups:
        raise ValueError(
            f"{name}: {len(rows)} groups exceed max_groups={max_groups} "
            "— is the group column actually categorical?"
        )
    q1 = float(qscale)
    q2 = q1 * q1
    out = []
    for row in sorted(rows, key=lambda r: [(r[key] is None, r[key]) for key in keys]):
        g = [row[key] for key in keys]
        # the error texts of ridge_train_by name the group
        in_group, of_group = (f" in group {g[0]!r}", f" (group {g[0]!r})") if keys else ("", "")
        s = {}
        for k, v in row.asDict().items():
            if k in keys or k == "n":
                continue
            if v is None:
                raise OverflowError(f"{name}: DECIMAL(38,0) sum overflow in {k}{of_group}")
            s[k[1:]] = int(v)
        # real-space moments: each is double(int)/double — correctly rounded
        a11 = float(row["n"])
        a12 = float(s["0"]) / q1
        a13 = float(s["1"]) / q1
        a22 = float(s["00"]) / q2 + l2
        a23 = float(s["01"]) / q2
        a33 = float(s["11"]) / q2 + l2
        b1 = float(s["2"]) / q1
        b2 = float(s["02"]) / q2
        b3 = float(s["12"]) / q2
        A = [[a11, a12, a13], [a12, a22, a23], [a13, a23, a33]]
        det = _det3(A)
        if det == 0.0:
            raise ValueError(f"{name}: singular normal equations{in_group} (raise l2)")
        w0 = _det3([[b1, a12, a13], [b2, a22, a23], [b3, a23, a33]]) / det
        w1 = _det3([[a11, b1, a13], [a12, b2, a23], [a13, b3, a33]]) / det
        w2 = _det3([[a11, a12, b1], [a12, a22, b2], [a13, a23, b3]]) / det
        out += [(*g, "__intercept__", w0), (*g, feature_cols[0], w1), (*g, feature_cols[1], w2)]
    dtypes = dict(df.dtypes)
    schema = ", ".join([*(f"{key} {dtypes[key]}" for key in keys), "feature string, weight double"])
    # round via F.round (HALF_UP), not Python round (half-even) — the
    # DuckDB oracles' round() is away-from-zero, matching F.round
    return df.sparkSession.createDataFrame(out, schema).select(
        *keys, "feature", F.round("weight", fn.NDIGITS).alias("weight")
    )


def ridge_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    l2: float = 1e-3,
    qscale: float = 1e6,
) -> DataFrame:
    """Closed-form normal-equations ridge regression whose weights are
    HASH-EXACT across engines — the deterministic linear counterpart of
    :func:`build_model` (reference code/recipes.py:1728-1898, whose RF
    scores are engine-specific and only rows-checkable).

    Determinism design: features and label are quantized to
    ``round(x*qscale)`` BIGINTs, so the Gram matrix ``X'X`` and moment
    vector ``X'y`` are EXACT integer sums (DECIMAL(38,0) Spark-side,
    HUGEINT oracle-side) — immune to float-sum partition-order drift.
    The 3x3 solve (2 features + intercept; Cramer's rule with a pinned
    parenthesization) then runs on correctly-rounded doubles derived
    from those integers, an identical IEEE-754 expression tree in both
    engines; weights are rounded to ``fn.NDIGITS``.  Ridge ``l2`` is added
    to the non-intercept diagonal only.

    Scale shape: ONE map-side-combined aggregate over the data (10
    decimal sums for d=2) and an O(1) driver solve — no iteration, no
    per-row Python.  Currently d=2 exactly (explicit Cramer oracle);
    raise for other d rather than silently approximating.

    Returns (feature, weight): ``__intercept__`` first, then
    ``feature_cols`` in order.
    """
    return _ridge_fit(df, [], feature_cols, label_col, l2, qscale, "ridge_train")


def ridge_score(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    l2: float = 1e-3,
    qscale: float = 1e6,
) -> DataFrame:
    """Train :func:`ridge_train` on ``df`` and score every row with the
    ROUNDED weights: ``pred = round(w0 + w1*x1 + w2*x2, fn.NDIGITS)`` and
    ``resid = round(label - pred, fn.NDIGITS)``.  Because the weights are
    rounded before scoring, both engines multiply identical doubles in
    an identical order — the whole train→score path is hash-exact (the
    gap VERDICT r8 flagged for build_model/apply_model).

    Scale shape: one aggregate (the train pass) + one broadcast-free
    map over the rows; weights travel as three literals in the plan.
    The input is WALKED TWICE (training sums, then scoring) — fine for
    a table scan (pushdown makes the rescan cheap), but stage an
    expensive upstream pipeline (joins/UDF features) with
    ``localCheckpoint`` first, as ``er_pipeline`` does.
    """
    w = {r["feature"]: r["weight"] for r in ridge_train(
        df, feature_cols, label_col, l2=l2, qscale=qscale
    ).collect()}
    pred = F.round(
        F.lit(w["__intercept__"])
        + F.lit(w[feature_cols[0]]) * F.col(feature_cols[0]).cast("double")
        + F.lit(w[feature_cols[1]]) * F.col(feature_cols[1]).cast("double"),
        fn.NDIGITS,
    )
    return df.select(
        "*",
        pred.alias("pred"),
        F.round(F.col(label_col).cast("double") - pred, fn.NDIGITS).alias("resid"),
    )


def ridge_apply(
    df: DataFrame,
    weights,
    feature_cols: list[str],
    out_col: str = "pred",
) -> DataFrame:
    """Score rows with a persisted/collected ridge model — the
    :func:`apply_model` counterpart for the hash-exact linear path
    (reference code/recipes.py:1850-1898 applies a joblib model; here
    the "model" is the (feature, weight) DataFrame :func:`ridge_train`
    returns, round-trippable through any Spark sink).

    ``weights``: the ridge_train DataFrame, or a path string to a
    parquet written from it.  Weights travel as three plan literals —
    scoring is a pure projection, zero shuffle, and reproduces
    ridge_score's ``pred`` bit-for-bit because both use the ROUNDED
    weights.
    """
    if isinstance(weights, str):
        weights = df.sparkSession.read.parquet(weights)
    w = {r["feature"]: r["weight"] for r in weights.collect()}
    missing = {"__intercept__", *feature_cols} - set(w)
    if missing:
        raise ValueError(f"ridge_apply: weights missing entries for {sorted(missing)}")
    pred = F.lit(w["__intercept__"])
    for c in feature_cols:
        pred = pred + F.lit(w[c]) * F.col(c).cast("double")
    return df.withColumn(out_col, F.round(pred, fn.NDIGITS))


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision/recall/F1 at each decision threshold — the PR-curve
    table that picks the operating point for a link classifier
    (:func:`ridge_score` / ``nb_score`` output) before it gates an ER
    merge or a quality filter.

    Scale shape: ONE pass — each row explodes into |thresholds| (t,
    predicted) pairs and a map-side-combined groupBy(t) counts
    TP/FP/FN; no per-threshold rescan, no sort.  Ratios are computed
    from exact counts and rounded, so the output is hash-exact.

    Returns (threshold, tp, fp, fn_, precision, recall, f1) — one row
    per threshold (``fn_`` because ``fn`` collides with common
    aliases).  Rows with a NULL score or label are dropped explicitly
    (an unscored row is neither a prediction nor a miss).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    t = F.explode(F.array(*[F.lit(float(x)) for x in thresholds])).alias("threshold")
    y = F.col(label_col).cast("double")
    s = F.col(score_col).cast("double")
    e = df.where(s.isNotNull() & y.isNotNull()).select(s.alias("__s"), y.alias("__y"), t)
    pred = F.col("__s") >= F.col("threshold")
    agg = e.groupBy("threshold").agg(
        F.sum(F.when(pred & (F.col("__y") == 1.0), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pred & (F.col("__y") != 1.0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pred & (F.col("__y") == 1.0), 1).otherwise(0)).alias("fn_"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0))
    rec = F.when(F.col("tp") + F.col("fn_") > 0, F.col("tp") / (F.col("tp") + F.col("fn_"))).otherwise(F.lit(0.0))
    f1 = F.when(prec + rec > 0, (F.lit(2.0) * prec * rec) / (prec + rec)).otherwise(F.lit(0.0))
    return agg.select(
        "threshold", "tp", "fp", "fn_",
        F.round(prec, fn.NDIGITS).alias("precision"),
        F.round(rec, fn.NDIGITS).alias("recall"),
        F.round(f1, fn.NDIGITS).alias("f1"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table: scores in [0, 1] bucket into
    ``n_bins`` fixed-width bins; each bin reports its count, mean
    score, and empirical positive rate — the calibration check that
    decides whether a classifier's scores can be read as probabilities
    (and therefore whether a fixed threshold transfers across corpora).

    Scale shape: one map-side-combined groupBy on the bin id; means are
    computed from an exact quantized BIGINT sum of the scores (the
    house determinism pattern), so the table is hash-exact.  Scores at
    exactly 1.0 fold into the top bin; out-of-range scores clip into
    the edge bins (their raw value still moves ``mean_score``, making
    the clipping visible); NULL scores/labels are dropped.
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    b = F.greatest(
        F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)), F.lit(0)
    )
    q = F.round(s * F.lit(1e6)).cast("long")
    agg = (
        df.where(s.isNotNull() & y.isNotNull())
        .select(b.alias("bin"), q.alias("__q"), y.alias("__y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__q").alias("__sq"),
            F.sum(F.when(F.col("__y") == 1.0, 1).otherwise(0)).alias("__pos"),
        )
    )
    return agg.select(
        "bin",
        "n",
        F.round((F.col("__sq") / F.lit(1e6)) / F.col("n"), fn.NDIGITS).alias("mean_score"),
        F.round(F.col("__pos") / F.col("n"), fn.NDIGITS).alias("pos_rate"),
    )


def auc_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """EXACT ROC-AUC via the tie-aware Mann-Whitney rank statistic —
    the single-number ranking metric :func:`build_model` selects on,
    but hash-reproducible: AUC = (S2 − npos·(npos+1)) / (2·npos·nneg)
    where S2 = Σ over positives of (2·avg_rank), and every term is an
    exact integer (ties get the exact doubled average rank
    ``2·cum − cnt + 1``), summed as DECIMAL(38,0).

    Scale shape: scores are quantized to ``round(score, 6)`` and
    aggregated to one row per DISTINCT score first (≤ ~2e6 rows for
    scores in [-1, 1] — bounded regardless of corpus size); the
    cumulative count over that table is
    :func:`backend_spark.scale.prefix_sums`, never a one-task window.

    Returns one row: (auc, n_pos, n_neg).  Degenerate inputs (no
    positives or no negatives) yield NULL auc rather than a division
    error; rows with a NULL score or label are dropped (a NULL score
    has no rank).
    """
    s = F.round(F.col(score_col).cast("double"), fn.NDIGITS)
    y = F.col(label_col).cast("double")
    per = (
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(s.alias("__s"), y.alias("__y"))
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.sum(F.when(F.col("__y") == 1.0, 1).otherwise(0)).alias("__pos"),
        )
    )
    ranked = prefix_sums(per, "__s", {"__cum": F.col("__cnt")})[0]
    # 2*avg_rank for every member of this tie group, exact integer
    two_rank = F.lit(2) * F.col("__cum") - F.col("__cnt") + F.lit(1)
    agg = ranked.agg(
        F.sum(F.col("__pos").cast("decimal(38,0)") * two_rank).alias("__s2"),
        F.sum("__pos").alias("n_pos"),
        F.sum(F.col("__cnt") - F.col("__pos")).alias("n_neg"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.round(
            (F.col("__s2").cast("double")
             - F.col("n_pos").cast("double") * (F.col("n_pos") + 1).cast("double"))
            / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
            fn.NDIGITS,
        ),
    )
    return agg.select(auc.alias("auc"), "n_pos", "n_neg")


def psi(
    expected: DataFrame,
    actual: DataFrame,
    score_col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per bin — the standard score-drift
    monitor between a reference (training-time) score distribution and
    a production one: ``term_i = (p_i − q_i)·ln(p_i/q_i)`` over
    fixed-width bins of [0, 1]; Σ terms < 0.1 is conventionally
    "stable".  Empty bins substitute ``eps`` (the standard guard), so
    the table is total and deterministic.  Out-of-range handling is
    one-sided by construction: scores >= 1 CLAMP into the top bin (the
    ``least`` guard, same convention as ``isotonic_calibrate``), while
    negative scores land in negative bin ids that the 0..n_bins-1 bin
    table's left join excludes from both totals — run the raw score
    through :func:`calibration_bins`'s clipping first if negative mass
    must count.

    Scale shape: one map-side-combined bin count per side, joined on
    the ≤ ``n_bins``-row bin table — both corpora stream through one
    aggregate each.  ``ln`` is the one function with cross-engine
    1-ulp wobble (same accepted class as exp in lr_train); terms are
    rounded to ``fn.NDIGITS``.

    Returns (bin, p_expected, p_actual, psi_term).
    """
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")

    def binned(df: DataFrame, name: str) -> DataFrame:
        b = F.least(
            F.floor(F.col(score_col).cast("double") * n_bins).cast("int"),
            F.lit(n_bins - 1),
        )
        out = df.select(b.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).alias(f"__n_{name}")
        )
        return out

    spark = expected.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    e = binned(expected, "e")
    a = binned(actual, "a")
    j = bins.join(e, "bin", "left").join(a, "bin", "left").select(
        "bin",
        F.coalesce("__n_e", F.lit(0)).alias("__ne"),
        F.coalesce("__n_a", F.lit(0)).alias("__na"),
    )
    tot = j.agg(F.sum("__ne").alias("__te"), F.sum("__na").alias("__ta"))
    jj = j.crossJoin(F.broadcast(tot))
    # a side with ZERO in-range rows has no distribution: every bin
    # falls to the eps floor (guard mandatory under ANSI mode, where
    # the bare n/total raises DIVIDE_BY_ZERO instead of NULLing)
    p = F.greatest(
        F.when(F.col("__te") > 0, F.col("__ne") / F.col("__te")).otherwise(0.0),
        F.lit(float(eps)),
    )
    q = F.greatest(
        F.when(F.col("__ta") > 0, F.col("__na") / F.col("__ta")).otherwise(0.0),
        F.lit(float(eps)),
    )
    return jj.select(
        "bin",
        F.round(p, fn.NDIGITS).alias("p_expected"),
        F.round(q, fn.NDIGITS).alias("p_actual"),
        F.round((p - q) * F.log(p / q), fn.NDIGITS).alias("psi_term"),
    )


def ridge_train_by(
    df: DataFrame,
    group_col: str,
    feature_cols: list[str],
    label_col: str,
    l2: float = 1e-3,
    qscale: float = 1e6,
    max_groups: int = 100_000,
) -> DataFrame:
    """Per-group :func:`ridge_train` — one hash-exact linear model per
    segment (market segment, language, source…) from ONE pass: the
    same quantized DECIMAL(38,0) moment sums, keyed by ``group_col``
    instead of global, then the pinned d=2 Cramer solve per group
    driver-side.  "Train a model per segment over 100 TB" stays a
    single map-side-combined aggregate; the collect is |groups| rows
    (guarded by ``max_groups``) and the solve is O(|groups|).

    Groups whose normal equations are singular (fewer than 3 distinct
    points, collinear features) raise with the group named — silent
    NULL weights would poison a downstream :func:`ridge_apply_by`.

    Returns (group_col, feature, weight): ``__intercept__`` then the
    two features, per group.
    """
    return _ridge_fit(
        df, [group_col], feature_cols, label_col, l2, qscale, "ridge_train_by", max_groups
    )


def ridge_apply_by(
    df: DataFrame,
    weights: DataFrame,
    group_col: str,
    feature_cols: list[str],
    out_col: str = "pred",
) -> DataFrame:
    """Score with :func:`ridge_train_by` output: the per-group weight
    triples pivot to one row per group and BROADCAST-join back on the
    group key; the prediction ``w0 + w1·x1 + w2·x2`` (that operand
    order, rounded) is a pure projection — the corpus never shuffles.
    Rows from groups absent in the weights table get NULL predictions
    (score-time segments the trainer never saw should be visible, not
    silently zeroed).
    """
    if len(feature_cols) != 2:
        raise ValueError("ridge_apply_by: exactly 2 feature columns supported")
    missing = [c for c in [group_col, *feature_cols] if c not in df.columns]
    if missing:
        raise ValueError(f"ridge_apply_by: column(s) not in df: {missing}")
    w = (
        weights.groupBy(group_col)
        .pivot("feature", ["__intercept__", *feature_cols])
        .agg(F.first("weight"))
        .select(
            F.col(group_col),
            F.col("__intercept__").alias("__w0"),
            F.col(feature_cols[0]).alias("__w1"),
            F.col(feature_cols[1]).alias("__w2"),
        )
    )
    pred = (
        F.col("__w0")
        + F.col("__w1") * F.col(feature_cols[0]).cast("double")
        + F.col("__w2") * F.col(feature_cols[1]).cast("double")
    )
    return (
        broadcast_back(df, w, [group_col])
        .withColumn(out_col, F.round(pred, fn.NDIGITS))
        .drop("__w0", "__w1", "__w2")
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 100,
) -> DataFrame:
    """Isotonic (PAV) probability calibration of classifier scores —
    the standard nonparametric step between a ranker's raw scores and
    usable match probabilities (Zadrozny & Elkan 2002; the calibrator
    behind a Fellegi-Sunter threshold that is actually a probability).
    ``calibration_bins`` DESCRIBES miscalibration; this FIXES it.

    Scores (expected in [0, 1]) bucket to ``n_bins`` fixed-width bins;
    per-bin label counts are exact BIGINTs.  The fit uses the minimax
    identity  ``iso(i) = max_{j≤i} min_{k≥i} mean(y[j..k])``  instead
    of the sequential pool-adjacent-violators loop: contiguous-range
    means come from prefix sums, the inner min is ONE suffix-min
    window over the (j, k) pair table, the outer max ONE aggregate —
    all on a ≤ n_bins² table that never touches the corpus again.  No
    float SUMS anywhere (means are single divisions of exact integers;
    min/max/compare are order-free), so the result is engine- and
    partition-exact without ordered folds.

    Output per non-empty bin: (bin, score_lo, n, y_rate, calibrated) —
    ``calibrated`` is non-decreasing in ``bin`` by construction.
    Apply by bucketing scores the same way and joining this table
    (broadcast — it is ≤ n_bins rows).
    """
    if not 2 <= n_bins <= 10_000:
        raise ValueError(f"isotonic_calibrate: need 2 <= n_bins <= 10000, got {n_bins}")
    missing = [c for c in (score_col, label_col) if c not in df.columns]
    if missing:
        raise ValueError(f"isotonic_calibrate: column(s) not in df: {missing}")
    s = F.col(score_col).cast("double")
    y = (F.coalesce(F.col(label_col).cast("int"), F.lit(0)) != 0).cast("long")
    b = F.least(
        F.greatest(F.floor(s * n_bins), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    bins = (
        df.where(F.col(score_col).isNotNull())
        .select(b.alias("bin"), y.alias("__y"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__y").alias("__s"))
    )
    w_pre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre = bins.select(
        "bin", "n", "__s",
        F.sum("n").over(w_pre).alias("__cn"),
        F.sum("__s").over(w_pre).alias("__cs"),
    )
    lo = pre.select(
        F.col("bin").alias("__j"),
        (F.col("__cn") - F.col("n")).alias("__nj"),  # prefix BEFORE j
        (F.col("__cs") - F.col("__s")).alias("__sj"),
    )
    hi = pre.select(
        F.col("bin").alias("__k"), F.col("__cn").alias("__nk"), F.col("__cs").alias("__sk")
    )
    mean_jk = (F.col("__sk") - F.col("__sj")).cast("double") / (
        F.col("__nk") - F.col("__nj")
    ).cast("double")
    pair = (
        lo.join(hi, F.col("__j") <= F.col("__k"))
        .select("__j", "__k", mean_jk.alias("__m"))
    )
    w_suf = (
        Window.partitionBy("__j")
        .orderBy(F.col("__k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m_ji = pair.select("__j", "__k", F.min("__m").over(w_suf).alias("__minm"))
    iso = (
        m_ji.where(F.col("__j") <= F.col("__k"))
        .groupBy(F.col("__k").alias("bin"))
        .agg(F.max("__minm").alias("__iso"))
    )
    return (
        bins.join(iso, "bin")
        .select(
            "bin",
            F.round(F.col("bin").cast("double") / n_bins, fn.NDIGITS).alias("score_lo"),
            "n",
            F.round(
                F.col("__s").cast("double") / F.col("n").cast("double"), fn.NDIGITS
            ).alias("y_rate"),
            F.round(F.col("__iso"), fn.NDIGITS).alias("calibrated"),
        )
    )


def ece(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Expected Calibration Error — the one-number companion to
    :func:`isotonic_calibrate` and the ``calibration_bins`` reliability
    diagram: bin predictions by score, ECE = Σ_b (n_b/N) · |accuracy_b
    − confidence_b|.  A model can have great AUC and terrible ECE;
    this is the number that says whether 0.9 means 90%.

    Scores quantize to fixed point so per-bin confidence sums are
    exact integers; accuracy is an exact label count — the only floats
    are |bins| divisions and the final weighted fold, computed in bin
    order (bounded, deterministic).  ONE map-side-combined aggregate
    to ≤ ``n_bins`` rows, then the fold over those.  Returns one row:
    (n, n_bins_used, ece).
    """
    if n_bins < 2:
        raise ValueError(f"ece: n_bins must be >= 2, got {n_bins}")
    missing = [c for c in (score_col, label_col) if c not in df.columns]
    if missing:
        raise ValueError(f"ece: column(s) not in df: {missing}")
    dec = "decimal(38,0)"
    s = F.col(score_col)
    b = F.least(
        F.greatest(F.floor(s * n_bins), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    sv = F.floor(s * scale + F.lit(0.5)).cast(dec)
    bins = (
        df.where(s.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(b.alias("__b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col(label_col).cast("long")).alias("__pos"),
            F.sum(sv).alias("__conf"),
        )
    )
    folded = bins.agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        fn.ordered_sum(
            F.col("__b"),
            F.col("__n").cast("double")
            * F.abs(
                F.col("__pos").cast("double") / F.col("__n").cast("double")
                - F.col("__conf").cast("double") / F.lit(float(scale)) / F.col("__n").cast("double")
            ),
        ).alias("__wsum"),
    )
    return folded.select(
        "n",
        "n_bins_used",
        F.round(F.col("__wsum") / F.col("n").cast("double"), fn.NDIGITS).alias("ece"),
    )
