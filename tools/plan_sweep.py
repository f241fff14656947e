"""Registry-wide physical-plan smell sweep — the coarse complement to
``explain_audit.py``'s per-query pins: walk EVERY ``queries()`` entry
and count SortMergeJoin / BroadcastNestedLoopJoin / CartesianProduct /
Exchange / Window occurrences in its executed plan.

The audit pins what each query MUST (not) contain; this sweep catches
the queries nobody pinned yet — a new operator that silently plans a
cartesian or an unexpected sort-merge shows up here before it ships.
CartesianProduct anywhere is a hard failure (exit 1); everything else
prints for review (SMJ/NLJ have documented-legitimate uses:
comparable-size graph joins, broadcast-scalar attachment).

``--dump PATH`` also writes every swept query's executed physical plan
(the initial adaptive plan: queries are built, not run) to PATH as one
JSON object ``{query: {"plan", "staged", "jobs"}}``.  A plan is a tree
of ``{"node", "detail", "children"}``.  ``staged`` lists, in call
order, every frame the query's build passed to ``scale.stage`` as
``{"eager", "plan"}`` — an iterative kernel cuts its lineage each
round, so the plan above its last cut shows only the final round, and
the staged plans are the evidence for the loop itself.  ``jobs`` is
the number of Spark jobs the build ran (the loops' convergence reads).
The queries with a non-empty ``staged`` list are the registry's
stage-using queries — the set to feed ``determinism_check.py
--cluster`` (``jq -r 'to_entries[] | select(.value.staged != []) |
.key' PATH``).
Expression ids, plan ids and lambda-variable numbers are stripped, so
the dumps of two checkouts diff cleanly, e.g. ``diff <(jq -S . a.json)
<(jq -S . b.json)``; job counts of loops whose adaptive plans vary run
to run may differ by one or two.

Usage: python tools/plan_sweep.py [--dump PATH] [query ...]
       (exit 1 on any cartesian; no names = the whole registry)
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import tempfile

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from backend_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# name#123 / name#123L expression ids, [plan_id=45], the per-session
# counter pyspark appends to lambda variables (lambda x_17# -> lambda
# x#), and the random directories queries that write an index create
_VOLATILE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1#"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\],\s]+"), "<tmpdir>"),
)


def _normalize(s: str) -> str:
    for pat, rep in _VOLATILE:
        s = pat.sub(rep, s)
    return s


def _tree(node) -> dict:
    """One physical node as JSON; an adaptive root is unwrapped to the
    plan it currently holds."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    kids = node.children()
    return {
        "node": node.nodeName(),
        "detail": _normalize(node.simpleString(1000)),
        "children": [_tree(kids.apply(i)) for i in range(kids.size())],
    }


def _record_stage(staged: list) -> list:
    """Wrap ``scale.stage`` — the module binding and every
    ``backend_spark`` module's from-import of it — so each call appends
    the normalized initial plan of the frame it receives to ``staged``.
    Returns the (module, real stage) pairs to restore."""
    import backend_spark.scale as scale_mod

    real = scale_mod.stage

    def spy(df, eager=False):
        staged.append(
            {"eager": eager, "plan": _tree(df._jdf.queryExecution().executedPlan())}
        )
        return real(df, eager=eager)

    mods = [m for name, m in list(sys.modules.items())
            if name.startswith("backend_spark") and getattr(m, "stage", None) is real]
    for m in mods:
        m.stage = spy
    return [(m, real) for m in mods]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dump", metavar="PATH", help="write normalized plans as JSON")
    ap.add_argument("names", nargs="*", help="queries to sweep (default: all)")
    args = ap.parse_args()
    spark = get_session("plan-sweep", cpus=8)
    registry = entry_mod.queries()
    unknown = sorted(set(args.names) - set(registry))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    cartesians = []
    rows = []
    dumps = {}
    staged: list = []
    restore = _record_stage(staged) if args.dump else []
    tracker = spark.sparkContext.statusTracker()
    for name, fn in registry.items():
        if args.names and name not in args.names:
            continue
        if name.startswith("stream_"):  # streaming queries execute on build
            continue
        staged.clear()
        spark.sparkContext.setJobGroup(f"sweep-{name}", name)
        try:
            df = fn(spark, SF_DIR)
            executed = df._jdf.queryExecution().executedPlan()
            plan = executed.toString()
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            print(f"ERR  {name}: {str(e)[:120]}")
            continue
        if args.dump:
            dumps[name] = {
                "plan": _tree(executed),
                "staged": list(staged),
                "jobs": len(tracker.getJobIdsForGroup(f"sweep-{name}")),
            }
        counts = (
            plan.count("SortMergeJoin"),
            plan.count("BroadcastNestedLoopJoin"),
            plan.count("CartesianProduct"),
            plan.count("Exchange"),
            plan.count("Window"),
        )
        rows.append((name, *counts))
        if counts[2]:
            cartesians.append(name)
    print(f"{'query':24} SMJ NLJ CART EXCH WIN")
    for name, smj, nlj, cart, exch, win in sorted(rows, key=lambda r: (-r[3], -r[1])):
        if smj or nlj or cart or exch > 6:
            print(f"{name:24} {smj:3} {nlj:3} {cart:4} {exch:4} {win:3}")
    for m, real in restore:
        m.stage = real
    print(f"\nswept {len(rows)} query plans; cartesians: {cartesians or 'none'}")
    if args.dump:
        with open(args.dump, "w") as f:
            json.dump(dumps, f, indent=1, sort_keys=True)
        print(f"wrote {len(dumps)} plans to {args.dump}")
    return 1 if cartesians else 0


if __name__ == "__main__":
    sys.exit(main())
