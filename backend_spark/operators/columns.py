"""Column / projection operators (reference: code/recipes.py:1596-2486,
SURVEY.md §2.1).  Every operator is a pure function DataFrame -> DataFrame
built from builtin Column expressions, so Catalyst prunes/pushes through
them — there is no chunk loop and no Python in the hot path.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from backend_spark import functions as fn
from backend_spark.expr import eval_expr_column


def _select_columns(df: DataFrame, select) -> list[str]:
    """Regex-or-list column selection (reference select_columns,
    code/recipes.py:1596-1608)."""
    if select is None:
        return list(df.columns)
    if isinstance(select, str):
        pat = re.compile(select)
        return [c for c in df.columns if pat.search(c)]
    return [c for c in select if c in df.columns]


def op_map(df: DataFrame, mapping: dict) -> DataFrame:
    """Add columns as copies of others; a list value produces an array
    column (reference internal_map, code/recipes.py:1702-1715)."""
    out = df
    for new, old in mapping.items():
        if isinstance(old, (list, tuple)):
            out = out.withColumn(new, F.array(*[F.col(c).cast("string") for c in old]))
        else:
            out = out.withColumn(new, F.col(old))
    return out


def op_rename(df: DataFrame, mapping: dict) -> DataFrame:
    """Rename columns; arg is {new: old} like the reference
    (internal_rename, code/recipes.py:1697-1700)."""
    return df.withColumnsRenamed({old: new for new, old in mapping.items()})


def op_keep(df: DataFrame, select=None, where: str | None = None) -> DataFrame:
    """Keep matching columns, optionally filter rows with an eval
    expression (reference internal_keep, code/recipes.py:1900-1914).
    The `where` expression goes through the tier-1 compiler, so simple
    predicates stay pushdown-able."""
    return prepare_keep(df, select, where)(df)


def prepare_keep(df: DataFrame, select=None, where: str | None = None) -> Callable[[DataFrame], DataFrame]:
    """``op_keep`` compiled against ``df``'s schema: the predicate and
    the kept columns are built once; the returned function filters and
    projects any frame of that schema."""
    cond = eval_expr_column(where, df, "boolean").cast("boolean") if where else None
    keep = [F.col(c) for c in _select_columns(df, select)]

    def bind(d: DataFrame) -> DataFrame:
        return (d if cond is None else d.filter(cond)).select(*keep)

    return bind


def op_delete(df: DataFrame, select) -> DataFrame:
    """Drop matching columns (reference internal_delete,
    code/recipes.py:2072-2085)."""
    return df.drop(*_select_columns(df, select))


def op_fillna(df: DataFrame, defaults: list[dict] | dict) -> DataFrame:
    """Per-column default; creates the column when absent — the
    reference uses this to stabilize schemas (internal_fillna,
    code/recipes.py:1622-1631; test tests/test_recipes.py:48-60)."""
    if isinstance(defaults, dict):
        defaults = [defaults]
    out = df
    for d in defaults:
        for col, val in d.items():
            if col in out.columns:
                out = out.withColumn(col, F.coalesce(F.col(col), F.lit(val)))
            else:
                out = out.withColumn(col, F.lit(val))
    return out


def op_to_integer(df: DataFrame, select) -> DataFrame:
    """""/invalid -> null, else cast to long (reference
    internal_to_integer, code/recipes.py:1916-1927 — the reference
    leaves the chunk unchanged when a cast fails; with typed columns we
    take per-value try_cast semantics, documented divergence)."""
    out = df
    for c in _select_columns(df, select):
        out = out.withColumn(c, F.when(F.col(c).cast("string") == "", None).otherwise(F.col(c).try_cast("long")))
    return out


def op_to_float(df: DataFrame, select, na_value=None) -> DataFrame:
    """""/invalid -> na_value (default null), else cast to double
    (reference internal_to_float, code/recipes.py:1955-1970)."""
    out = df
    for c in _select_columns(df, select):
        casted = F.col(c).try_cast("double")
        if na_value is not None:
            casted = F.coalesce(casted, F.lit(float(na_value)))
        out = out.withColumn(c, F.when(F.col(c).cast("string") == "", F.lit(na_value).cast("double")).otherwise(casted))
    return out


def op_parsedate(df: DataFrame, select, format: str = "%Y%m%d") -> DataFrame:
    """String -> timestamp with python strptime format, null on parse
    failure (reference internal_parsedate, code/recipes.py:2448-2459)."""
    out = df
    for c in _select_columns(df, select):
        out = out.withColumn(c, fn.parsedate(F.col(c), format))
    return out


def op_replace(df: DataFrame, select, regex: list[dict]) -> DataFrame:
    """Ordered regex->replacement chain on selected columns (reference
    internal_replace, code/recipes.py:2461-2474 — order is load-bearing,
    the reference warns about dict ordering at :2466).  Array columns
    are transformed element-wise.  Replacement templates are translated
    from python (\\1) to java ($1) dialect."""
    steps = []
    for d in regex:
        for pat, repl in d.items():
            steps.append((fn.python_regex_to_java(pat), fn.python_repl_to_java(str(repl))))
    def _elem(p, r):
        return lambda x: F.regexp_replace(x, p, r)

    out = df
    for c in _select_columns(df, select):
        col = F.col(c)
        is_array = dict(df.dtypes).get(c, "").startswith("array")
        for pat, repl in steps:
            if is_array:
                col = F.transform(col, _elem(pat, repl))
            else:
                col = F.regexp_replace(col, pat, repl)
        out = out.withColumn(c, col)
    return out


def op_normalize(df: DataFrame, select, thorough: bool = False) -> DataFrame:
    """Accent-strip + lower + despace (reference internal_normalize,
    code/recipes.py:2476-2483).  Default path is the codegen'd translate
    table; `thorough=True` switches to full-Unicode NFKD (pandas_udf)."""
    return prepare_normalize(df, select, thorough)(df)


def prepare_normalize(df: DataFrame, select, thorough: bool = False) -> Callable[[DataFrame], DataFrame]:
    """``op_normalize`` compiled against ``df``'s schema: one normalize
    Column per selected column, built once (the accent fold alone is
    ~30 Column calls per column)."""
    cols = {}
    for c in _select_columns(df, select):
        col = F.col(c)
        if thorough:
            cols[c] = F.trim(F.regexp_replace(F.lower(fn.nfkd_ascii(col)), r"[^a-z0-9]+", " "))
        else:
            cols[c] = fn.normalize(col)
    return lambda d: d.withColumns(cols)


def op_eval(df: DataFrame, exprs: list[dict], result_type: str | None = None) -> DataFrame:
    """The swiss-knife (reference internal_eval, code/recipes.py:1644-1695).
    [{col: expr}] adds/overwrites col; a list of exprs produces an array
    column.  Tier-1 Column compilation with transparent tier-2 Python
    fallback (see backend_spark.expr).

    Error-value divergence between the tiers, by design: a per-row
    erroring expression (division by zero, bad cast, out-of-range
    index) yields NULL on the tier-1 Column path (ANSI-safe
    try_divide/try_mod/try_element_at/try_cast lowering), but the
    reference's "Ooops: ..." marker STRING on the tier-2 safeeval path
    (expr/fallback.py:230, mirroring code/recipes.py:1680-1686).  Both
    keep the pipeline alive; which shape an erroring row takes depends
    on which tier the expression routes to.  Users comparing output
    against the reference should expect NULL where tier-1 handled the
    expression."""
    return prepare_eval(df, exprs, result_type)(df)


def prepare_eval(
    df: DataFrame, exprs: list[dict], result_type: str | None = None
) -> Callable[[DataFrame], DataFrame]:
    """``op_eval`` compiled against ``df``'s schema: each expression is
    compiled (tier 1, analysis-checked, else tier 2) once, against the
    columns the expressions before it produce; the returned function
    only adds the prebuilt Columns, in order, to any frame of that
    schema."""
    if isinstance(exprs, dict):
        exprs = [exprs]
    cols: list[tuple[str, Column]] = []
    out = df
    for d in exprs:
        for name, expr in d.items():
            if isinstance(expr, (list, tuple)):
                parts = [eval_expr_column(e, out, result_type) for e in expr]
                col = F.array(*[c.cast("string") for c in parts])
            else:
                col = eval_expr_column(expr, out, result_type)
            cols.append((name, col))
            out = out.withColumn(name, col)

    def bind(d: DataFrame) -> DataFrame:
        for name, col in cols:
            d = d.withColumn(name, col)
        return d

    return bind


def op_exec(df: DataFrame, statements, schema=None) -> DataFrame:
    """Arbitrary Python against the chunk (reference internal_exec,
    code/recipes.py:1636-1642) — mapInPandas escape hatch, a barrier
    operator by design."""
    from backend_spark.expr.fallback import python_exec

    return python_exec(df, statements, schema)


def op_shuffle(df: DataFrame, seed: int = 42) -> DataFrame:
    """Independently permute each column (anonymization; reference
    internal_shuffle, code/recipes.py:1717-1726).

    Partition-local permutation via one Arrow batch pass — no global
    sort, no shuffle, scales linearly with partition count.  The
    reference permutes per-chunk (code/recipes.py:1717-1726), so
    batch-local permutation is the same semantics it ships; anonymity
    holds identically (each column draws an independent permutation).
    """
    import numpy as np

    schema = df.schema
    cols = list(df.columns)

    def _perm(batches):
        rng = np.random.default_rng(seed)
        for pdf in batches:
            out = pdf
            for c in cols:
                out[c] = out[c].sample(
                    frac=1, random_state=int(rng.integers(0, 2**31 - 1))
                ).reset_index(drop=True)
            yield out

    return df.mapInPandas(_perm, schema=schema)


def op_list_to_tuple(df: DataFrame, select=None) -> DataFrame:
    """Identity in Spark: arrays are group-able, so the reference's
    hashability conversion (internal_list_to_tuple,
    code/recipes.py:1929-1940) has nothing to do."""
    return df


def op_tuple_to_list(df: DataFrame, select=None) -> DataFrame:
    """Identity (reference internal_tuple_to_list, code/recipes.py:1942-1953)."""
    return df


def op_pause(df: DataFrame, select=None, head: int | None = None) -> DataFrame:
    """Debug truncation (reference internal_pause, code/recipes.py:2485-2486;
    short-circuit at :1292-1293): optional projection + limit.  The recipe
    compiler stops chaining after a pause step."""
    out = df.select(*_select_columns(df, select)) if select else df
    if head:
        out = out.limit(head)
    return out
