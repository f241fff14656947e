"""Two-tier `eval` expression compiler (reference: code/recipes.py:1644-1695,
safeeval code/tools.py:232-246; SURVEY.md §2.1 + §7).

The reference evaluates per-row Python expressions with row fields as
local variables.  That is its user extension surface — every scoring
recipe (conf/recipes/matching.yml:58-126) is written in it.

Tier 1 (here): parse the expression with `ast` and translate it to a
Column expression tree.  Everything tier-1 emits stays inside Catalyst
(whole-stage codegen, pushdown, pruning) — this covers the documented
function catalog (SURVEY.md §2.8) plus arithmetic, comparisons,
boolean logic, ternaries, string slicing, membership tests and list
literals, i.e. all expressions in the reference's shipped confs.

Tier 2 (`backend_spark.expr.fallback`): verbatim Python evaluation of
the expression inside an Arrow-vectorized pandas UDF — the guarantee
that *any* reference expression still runs, at Arrow-batch cost.
`eval_expr_column` tries tier 1 and transparently falls back.
"""

from __future__ import annotations

import ast
import logging
import threading
from dataclasses import dataclass

from pyspark.logger import PySparkLogger
from pyspark.sql import Column
from pyspark.sql import functions as F

from backend_spark import functions as fn


class CompileError(Exception):
    """Expression not expressible as a Column — use the tier-2 fallback."""


@dataclass
class Typed:
    """A compiled sub-expression with a coarse kind tag ('str', 'num',
    'bool', 'array', 'any') so polymorphic builtins (len, max, +) pick
    the right Column function.  ``const`` carries a plan-time constant
    (e.g. a folded ``type(x)==list`` check) so conditionals on it can
    emit only the taken branch."""

    col: Column
    kind: str = "any"
    const: object = None


def _t(col: Column, kind: str = "any", const=None) -> Typed:
    return Typed(col, kind, const)


_CMP = {
    ast.Eq: lambda a, b: a == b,
    ast.NotEq: lambda a, b: a != b,
    ast.Lt: lambda a, b: a < b,
    ast.LtE: lambda a, b: a <= b,
    ast.Gt: lambda a, b: a > b,
    ast.GtE: lambda a, b: a >= b,
}


class _Compiler(ast.NodeVisitor):
    def __init__(self, schema_kinds: dict[str, str]):
        self.kinds = schema_kinds

    # -- leaves ------------------------------------------------------------
    def visit_Name(self, node: ast.Name) -> Typed:
        if node.id in self.kinds:
            return _t(F.col(node.id), self.kinds[node.id])
        raise CompileError(f"unknown name: {node.id}")

    def visit_Constant(self, node: ast.Constant) -> Typed:
        v = node.value
        if v is None:
            return _t(F.lit(None), "any")
        if isinstance(v, bool):
            return _t(F.lit(v), "bool")
        if isinstance(v, (int, float)):
            return _t(F.lit(v), "num")
        if isinstance(v, str):
            return _t(F.lit(v), "str")
        raise CompileError(f"unsupported constant: {v!r}")

    def visit_List(self, node: ast.List) -> Typed:
        return _t(F.array(*[self.visit(e).col for e in node.elts]), "array")

    visit_Tuple = visit_List

    # -- operators ---------------------------------------------------------
    def visit_BinOp(self, node: ast.BinOp) -> Typed:
        a, b = self.visit(node.left), self.visit(node.right)
        op = node.op
        if isinstance(op, ast.Add):
            if "str" in (a.kind, b.kind):
                return _t(F.concat(a.col.cast("string"), b.col.cast("string")), "str")
            if "array" in (a.kind, b.kind):
                return _t(F.concat(a.col, b.col), "array")
            return _t(a.col + b.col, "num")
        if isinstance(op, ast.Sub):
            return _t(a.col - b.col, "num")
        if isinstance(op, ast.Mult):
            return _t(a.col * b.col, "num")
        # try_divide/try_mod, not bare operators: the reference's
        # safeeval catches per-row errors and yields a marker/None for
        # just that row (tools.py:232-243), and tier-2 mirrors it — a
        # bare / under ANSI mode would instead kill the whole query on
        # one zero divisor, diverging from both
        if isinstance(op, ast.Div):
            return _t(F.try_divide(a.col, b.col), "num")
        if isinstance(op, ast.FloorDiv):
            return _t(F.floor(F.try_divide(a.col, b.col)).cast("long"), "num")
        if isinstance(op, ast.Mod):
            return _t(F.try_mod(a.col, b.col), "num")
        if isinstance(op, ast.Pow):
            return _t(F.pow(a.col, b.col), "num")
        raise CompileError(f"unsupported binop {op}")

    def visit_UnaryOp(self, node: ast.UnaryOp) -> Typed:
        v = self.visit(node.operand)
        if isinstance(node.op, ast.USub):
            return _t(-v.col, "num")
        if isinstance(node.op, ast.Not):
            return _t(~v.col.cast("boolean"), "bool")
        raise CompileError("unsupported unary op")

    def visit_BoolOp(self, node: ast.BoolOp) -> Typed:
        vals = [self.visit(v).col.cast("boolean") for v in node.values]
        out = vals[0]
        for v in vals[1:]:
            out = (out & v) if isinstance(node.op, ast.And) else (out | v)
        return _t(out, "bool")

    _TYPE_KINDS = {"list": "array", "str": "str", "int": "num", "float": "num", "bool": "bool"}

    def _fold_type_check(self, node: ast.Compare) -> Typed | None:
        """Fold ``type(x) == list`` (and !=) to a plan-time constant —
        the schema already knows the type.  The reference confs gate on
        this to normalize scalars-vs-lists (conf/recipes/name.yml:5-6).
        """
        if len(node.ops) != 1 or not isinstance(node.ops[0], (ast.Eq, ast.NotEq)):
            return None

        def _type_call(n):
            return (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id == "type"
                and len(n.args) == 1
            )

        call, tname = None, None
        comp = node.comparators[0]
        if _type_call(node.left) and isinstance(comp, ast.Name):
            call, tname = node.left, comp.id
        elif _type_call(comp) and isinstance(node.left, ast.Name) and node.left.id in self._TYPE_KINDS:
            call, tname = comp, node.left.id
        if call is None or tname not in self._TYPE_KINDS:
            return None
        kind = self.visit(call.args[0]).kind
        if kind == "any":
            raise CompileError("type() on unknown kind -> tier 2")
        val = kind == self._TYPE_KINDS[tname]
        if isinstance(node.ops[0], ast.NotEq):
            val = not val
        return _t(F.lit(val), "bool", const=val)

    def visit_Compare(self, node: ast.Compare) -> Typed:
        folded = self._fold_type_check(node)
        if folded is not None:
            return folded
        left = self.visit(node.left)
        out = None
        cur = left
        for op, comp in zip(node.ops, node.comparators):
            if isinstance(op, (ast.In, ast.NotIn)):
                target = comp
                if isinstance(target, (ast.List, ast.Tuple)) and all(
                    isinstance(e, ast.Constant) for e in target.elts
                ):
                    c = cur.col.isin([e.value for e in target.elts])
                else:
                    arr = self.visit(target)
                    if arr.kind == "str":
                        c = arr.col.contains(cur.col)
                    else:
                        c = F.array_contains(arr.col, cur.col)
                if isinstance(op, ast.NotIn):
                    c = ~c
                nxt = None
            elif isinstance(op, (ast.Is, ast.IsNot)):
                if not (isinstance(comp, ast.Constant) and comp.value is None):
                    raise CompileError("`is` only supported against None")
                c = cur.col.isNull() if isinstance(op, ast.Is) else cur.col.isNotNull()
                nxt = None
            else:
                right = self.visit(comp)
                try:
                    c = _CMP[type(op)](cur.col, right.col)
                except KeyError:
                    raise CompileError(f"unsupported comparison {op}") from None
                nxt = right
            out = c if out is None else (out & c)
            if nxt is not None:
                cur = nxt
        return _t(out, "bool")

    def visit_IfExp(self, node: ast.IfExp) -> Typed:
        cond = self.visit(node.test)
        if cond.const is not None:  # folded test: emit only the live branch
            return self.visit(node.body if cond.const else node.orelse)
        a, b = self.visit(node.body), self.visit(node.orelse)
        kind = a.kind if a.kind == b.kind else "any"
        return _t(F.when(cond.col.cast("boolean"), a.col).otherwise(b.col), kind)

    def visit_Subscript(self, node: ast.Subscript) -> Typed:
        base = self.visit(node.value)
        sl = node.slice

        def _const_idx(n):
            """Constant integer value of an index node (handles -k as
            USub(Constant)); None when not a constant."""
            if isinstance(n, ast.Constant) and isinstance(n.value, int):
                return n.value
            if (
                isinstance(n, ast.UnaryOp)
                and isinstance(n.op, ast.USub)
                and isinstance(n.operand, ast.Constant)
                and isinstance(n.operand.value, int)
            ):
                return -n.operand.value
            return None

        if isinstance(sl, ast.Slice):
            if sl.step is not None:
                raise CompileError("slice step unsupported")
            lo = _const_idx(sl.lower) if sl.lower is not None else 0
            hi = _const_idx(sl.upper) if sl.upper is not None else None
            if lo is None or (sl.upper is not None and hi is None):
                raise CompileError("non-constant slice bounds -> tier 2")
            if lo < 0 or (hi is not None and hi < 0):
                # python negative-slice semantics need the length; keep
                # the common x[:-k] / x[-k:] string forms, punt the rest
                if base.kind != "str" and base.kind != "any":
                    raise CompileError("negative array slice -> tier 2")
                if lo == 0 and hi is not None and hi < 0:
                    return _t(
                        base.col.substr(F.lit(1), F.greatest(F.length(base.col) + hi, F.lit(0))),
                        "str",
                    )
                if lo < 0 and sl.upper is None:
                    return _t(F.substring(base.col, lo, -lo), "str")
                raise CompileError("negative slice form -> tier 2")
            if base.kind == "array":
                if hi is None:
                    raise CompileError("open-ended array slice unsupported")
                return _t(F.slice(base.col, lo + 1, hi - lo), "array")
            # string slicing: x[:n] / x[a:b]  (python 0-based half-open)
            if hi is None:
                return _t(F.substring(base.col, lo + 1, 2_000_000), "str")
            return _t(base.col.substr(F.lit(lo + 1), F.lit(max(hi - lo, 0))), "str")
        idx = _const_idx(sl)
        if idx is None:
            raise CompileError("non-constant subscript -> tier 2")
        if base.kind == "array":
            # try_element_at (negative positions supported): python's
            # IndexError is a per-row "Ooops" in the reference's
            # safeeval, so an out-of-range index must NULL the row —
            # under ANSI a bare element_at would kill the whole query
            return _t(F.try_element_at(base.col, F.lit(idx + 1 if idx >= 0 else idx)), "any")
        if idx < 0:
            return _t(F.substring(base.col, idx, 1), "str")
        return _t(base.col.substr(F.lit(idx + 1), F.lit(1)), "str")

    # -- calls: the function catalog ----------------------------------------
    def visit_Call(self, node: ast.Call) -> Typed:
        if not isinstance(node.func, ast.Name):
            # method calls: s.upper(), s.lower(), s.strip(), s.split()
            if isinstance(node.func, ast.Attribute):
                base = self.visit(node.func.value)
                m = node.func.attr
                if m == "upper":
                    return _t(F.upper(base.col), "str")
                if m == "lower":
                    return _t(F.lower(base.col), "str")
                if m == "strip":
                    return _t(F.trim(base.col), "str")
                if m == "split":
                    sep = self.visit(node.args[0]).col if node.args else F.lit(r"\s+")
                    return _t(F.split(base.col, sep), "array")
                if m == "startswith":
                    return _t(base.col.startswith(self.visit(node.args[0]).col), "bool")
                if m == "endswith":
                    return _t(base.col.endswith(self.visit(node.args[0]).col), "bool")
                if m == "replace":
                    a, b = (self.visit(x).col for x in node.args[:2])
                    return _t(F.replace(base.col, a, b), "str")
                if m == "join":
                    # '-'.join(arr) / str(' ').join(arr) -> array_join
                    arr = self.visit(node.args[0])
                    return _t(F.array_join(arr.col, self._const_str(node.func.value)), "str")
                if m == "zfill":
                    if not (node.args and isinstance(node.args[0], ast.Constant)):
                        raise CompileError("zfill needs a constant width")
                    return _t(F.lpad(base.col, int(node.args[0].value), "0"), "str")
            raise CompileError("unsupported call target")
        name = node.func.id
        # list(OrderedDict.fromkeys(x)) — the reference's order-preserving
        # array dedup idiom (conf/recipes/name.yml:10-11); array_distinct
        # keeps first occurrence, identical semantics
        if (
            name == "list"
            and node.args
            and isinstance(node.args[0], ast.Call)
            and isinstance(node.args[0].func, ast.Attribute)
            and node.args[0].func.attr == "fromkeys"
            and isinstance(node.args[0].func.value, ast.Name)
            and node.args[0].func.value.id == "OrderedDict"
        ):
            return _t(F.array_distinct(self.visit(node.args[0].args[0]).col), "array")
        if name == "list":
            inner = self.visit(node.args[0])
            if inner.kind != "array":
                raise CompileError("list() of non-array -> tier 2")
            return inner
        # replace_dict/replace_regex take a literal-dict second arg —
        # resolve it at plan time (before generic arg visitation, which
        # has no Column meaning for a dict literal)
        if name in ("replace_dict", "replace_regex") and len(node.args) == 2:
            dic = self._const_dict(node.args[1])
            target = self.visit(node.args[0])
            col_fn = fn.replace_dict_col if name == "replace_dict" else fn.replace_regex_col
            if target.kind == "array":
                return _t(F.transform(target.col, lambda x: col_fn(x, dic)), "array")
            return _t(col_fn(target.col, dic), "str")
        args = [self.visit(a) for a in node.args]
        c = [a.col for a in args]
        if name == "len":
            if args[0].kind == "array":
                return _t(F.size(c[0]), "num")
            return _t(F.length(c[0]), "num")
        if name == "str":
            return _t(c[0].cast("string"), "str")
        # try_cast, not cast: int('junk') is a python ValueError, which
        # the reference's per-row safeeval turns into a marker cell —
        # an ANSI cast would instead kill the whole query on one bad row
        if name == "int":
            return _t(c[0].try_cast("long"), "num")
        if name == "float":
            return _t(c[0].try_cast("double"), "num")
        if name == "bool":
            return _t(c[0].try_cast("boolean"), "bool")
        if name == "abs":
            return _t(F.abs(c[0]), "num")
        if name == "round":
            if len(node.args) > 1 and not isinstance(node.args[1], ast.Constant):
                raise CompileError("round needs a constant scale")
            scale = int(node.args[1].value) if len(node.args) > 1 else 0
            out = F.round(c[0], scale)
            return _t(out if scale else out.cast("long"), "num")
        if name in ("max", "min"):
            agg = F.greatest if name == "max" else F.least
            arr = F.array_max if name == "max" else F.array_min
            if len(c) == 1:
                return _t(arr(c[0]), "num")
            return _t(agg(*c), "num")
        if name == "sum":
            return _t(
                F.aggregate(c[0], F.lit(0.0), lambda acc, x: acc + x.cast("double")), "num"
            )
        if name == "sorted":
            return _t(F.array_sort(c[0]), "array")
        if name == "set":
            return _t(F.array_distinct(c[0]), "array")
        if name == "normalize":
            if args[0].kind == "array":
                return _t(F.transform(c[0], lambda x: fn.normalize(x)), "array")
            return _t(fn.normalize(c[0]), "str")
        if name == "tokenize":
            return _t(fn.tokenize(c[0]), "array")
        if name == "ngrams":
            if len(node.args) > 1 and not isinstance(node.args[1], ast.Constant):
                raise CompileError("ngrams needs a constant n")
            n = int(node.args[1].value) if len(node.args) > 1 else 3
            return _t(fn.ngrams(c[0], n), "array")
        if name == "flatten":
            return _t(F.flatten(c[0]), "array")
        if name == "levenshtein":
            return _t(fn.levenshtein(c[0], c[1]), "num")
        if name == "damerau_levenshtein":
            return _t(fn.damerau_levenshtein(c[0], c[1]), "num")
        if name == "levenshtein_norm":
            if args[0].kind == "array" or args[1].kind == "array":
                a0 = c[0] if args[0].kind == "array" else F.array(c[0])
                a1 = c[1] if args[1].kind == "array" else F.array(c[1])
                return _t(fn.levenshtein_norm_max(a0, a1), "num")
            return _t(fn.levenshtein_norm(c[0], c[1]), "num")
        if name == "jw":
            return _t(fn.jw(c[0], c[1]), "num")
        if name == "distance":
            return _t(
                fn.haversine_km(
                    fn.geopoint_lat(c[0]), fn.geopoint_lon(c[0]), fn.geopoint_lat(c[1]), fn.geopoint_lon(c[1])
                ),
                "num",
            )
        if name == "sha1":
            return _t(fn.sha1(c[0].cast("string")), "str")
        if name == "sha256":
            return _t(fn.sha256(c[0].cast("string")), "str")
        if name == "hash":
            return _t(fn.md5_long(c[0].cast("string")), "num")
        if name == "float_val":
            return _t(fn.float_val(c[0]), "num")
        if name == "parsedate":
            if len(node.args) > 1 and not isinstance(node.args[1], ast.Constant):
                raise CompileError("parsedate needs a constant format")
            fmt = node.args[1].value if len(node.args) > 1 else "%Y%m%d"
            return _t(fn.parsedate(c[0], fmt), "any")
        if name == "coalesce":
            return _t(F.coalesce(*c), args[0].kind)
        if name == "token_overlap":
            inter = F.size(F.array_intersect(c[0], c[1])).cast("double")
            return _t(inter / F.greatest(F.least(F.size(c[0]), F.size(c[1])).cast("double"), F.lit(1.0)), "num")
        raise CompileError(f"unknown function: {name}")

    def _const_dict(self, n) -> dict:
        """Plan-time dict value of a literal-dict node; CompileError
        (-> tier 2) when any key/value is not a constant."""
        if not isinstance(n, ast.Dict):
            raise CompileError("expected a literal dict argument")
        out = {}
        for k, v in zip(n.keys, n.values):
            if not (isinstance(k, ast.Constant) and isinstance(v, ast.Constant)):
                raise CompileError("dict argument must be constant -> tier 2")
            out[k.value] = v.value
        return out

    def _const_str(self, n) -> str:
        """Plan-time string value of a separator node: 'x' or str('x')."""
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            return n.value
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "str"
            and n.args
            and isinstance(n.args[0], ast.Constant)
        ):
            return str(n.args[0].value)
        raise CompileError("non-constant join separator -> tier 2")

    def generic_visit(self, node):
        raise CompileError(f"unsupported syntax: {type(node).__name__}")


def _schema_kinds(df) -> dict[str, str]:
    kinds = {}
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        if s == "string":
            kinds[f.name] = "str"
        elif s.startswith("array"):
            kinds[f.name] = "array"
        elif s in ("boolean",):
            kinds[f.name] = "bool"
        elif s in ("double", "float", "bigint", "int", "smallint", "tinyint") or s.startswith("decimal"):
            kinds[f.name] = "num"
        else:
            kinds[f.name] = "any"
    return kinds


def compile_expr(expr: str, df) -> Column:
    """Tier-1 compile `expr` against `df`'s schema.  Raises CompileError
    if the expression needs the tier-2 Python fallback."""
    tree = ast.parse(expr, mode="eval")
    return _Compiler(_schema_kinds(df)).visit(tree.body).col


_probing = threading.local()


class _ProbeFilter(logging.Filter):
    """Drops PySpark's ERROR record of an AnalysisException raised by the
    tier-1 analysis probe — the expected route to tier 2 — on the
    probing thread only."""

    def filter(self, record: logging.LogRecord) -> bool:
        return not getattr(_probing, "on", False)


# PySparkLogger.getLogger, never logging.getLogger: a plain Logger
# registered first under this name rejects the keyword arguments of
# PySpark's own logger.exception(file=...)
PySparkLogger.getLogger("DataFrameQueryContextLogger").addFilter(_ProbeFilter())


def eval_expr_column(expr: str, df, result_type: str | None = None) -> Column:
    """Compile `expr` to a Column; transparently fall back to the
    Arrow-vectorized Python evaluator when tier 1 can't express it —
    including type errors the compiler only discovers at Spark
    analysis time (e.g. mixed branch types)."""
    from pyspark.errors.exceptions.base import AnalysisException

    try:
        col = compile_expr(expr, df)
        _probing.on = True
        try:
            df.select(col)  # force analysis so type errors fall back too
        finally:
            _probing.on = False
        return col
    except (CompileError, AnalysisException):
        from backend_spark.expr.fallback import python_eval_column

        return python_eval_column(expr, df, result_type or "string")
