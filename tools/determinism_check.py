"""Parallelism-determinism gate: run every ``queries()`` entry under
three deliberately different execution shapes (shuffle partitions 32
vs 3, file splits default vs tiny, Arrow batch default vs 64 records)
and diff the canonical results.

This targets the bug class behind the one red driver row of round 4
(char_entropy): a float aggregate whose partial-sum order changes with
partitioning can round differently at a value boundary, so it passes at
one parallelism and fails at another.  The third shape shrinks
``spark.sql.execution.arrow.maxRecordsPerBatch`` so every
mapInPandas/applyInPandas/pandas_udf boundary sees many small Arrow
batches — a UDF that accidentally depends on batch extent (state
carried across rows, per-batch reductions folded in float order)
diverges here while passing both row-shape runs.  Any query listed by
this tool is nondeterministic under Spark's execution model and will
eventually diverge from its oracle on some machine.

Usage: python tools/determinism_check.py [name ...]   (exit 1 on diff)
       python tools/determinism_check.py --cluster [--modes m1,m2] [name ...]
         — fourth shape: re-run (default: the checkpoint-heavy set) on
         a real 2-executor ``local-cluster[2,8,4096]`` under both
         ``stage.mode`` settings (local / reliable) and diff vs local[*].
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from backend_spark.session import get_session  # noqa: E402
from tools.check_oracle import SF_DIR, _canon  # noqa: E402

SHAPES = (
    {"spark.sql.shuffle.partitions": "32",
     "spark.sql.files.maxPartitionBytes": "134217728",
     "spark.sql.execution.arrow.maxRecordsPerBatch": "10000"},
    {"spark.sql.shuffle.partitions": "3",
     "spark.sql.files.maxPartitionBytes": "65536",
     "spark.sql.execution.arrow.maxRecordsPerBatch": "10000"},
    {"spark.sql.shuffle.partitions": "32",
     "spark.sql.files.maxPartitionBytes": "134217728",
     "spark.sql.execution.arrow.maxRecordsPerBatch": "64"},
)


# --cluster mode (VERDICT r11 optional #6b): the three shapes above
# vary parallelism inside ONE executor JVM; this fourth shape runs on a
# real 2-executor local-cluster topology — separate worker JVMs, real
# serialization between executors, localCheckpoint blocks spread across
# two block managers — and additionally re-runs under
# stage.mode=reliable, the honest signal that scale.stage()'s reliable
# checkpoint path works on a multi-executor cluster, not just local[*].
STAGE_MODES = ("local", "reliable")
CLUSTER_DEFAULT = (
    "dup_report er_pipeline shuffle_order row_ids pagerank auc "
    "dedup_near clique det_sample".split()
)


def main_cluster(only=None, modes=STAGE_MODES) -> int:
    import os
    import tempfile

    from pyspark.sql import SparkSession

    from backend_spark.scale import STAGE_DIR_CONF, STAGE_MODE_CONF

    names = sorted(only) if only else list(CLUSTER_DEFAULT)
    qs = entry_mod.queries()
    names = [n for n in names if n in qs]

    spark = get_session("determinism-cluster-base")
    for k, v in SHAPES[0].items():
        spark.conf.set(k, v)
    base = {}
    for n in names:
        base[n] = _canon(qs[n](spark, SF_DIR).toPandas())[0]
        print(f". {n:20s} baseline local[*] ({len(base[n])} rows)")
    spark.stop()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark2 = (
        SparkSession.builder.master("local-cluster[2,8,4096]")
        .appName("determinism-cluster")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", root)
        .getOrCreate()
    )
    spark2.sparkContext.setLogLevel("WARN")
    bad, errs = [], []
    try:
        for mode in modes:
            spark2.conf.set(STAGE_MODE_CONF, mode)
            if mode == "reliable":
                spark2.conf.set(
                    STAGE_DIR_CONF, tempfile.mkdtemp(prefix="sg_detck_")
                )
            for n in names:
                t0 = time.time()
                try:
                    got = _canon(qs[n](spark2, SF_DIR).toPandas())[0]
                except Exception as e:
                    errs.append(f"{n}[{mode}]")
                    print(f"!  {n:20s} [{mode}] ERROR {type(e).__name__}: {str(e)[:160]}")
                    continue
                if got != base[n]:
                    bad.append(f"{n}[{mode}]")
                    print(f"✗ {n:20s} [{mode}] DIVERGES from local[*] "
                          f"({len(got)} vs {len(base[n])} rows)")
                else:
                    print(f"✓ {n:20s} [{mode}] 2-executor cluster matches "
                          f"({len(got)} rows, {time.time()-t0:.1f}s)")
    finally:
        spark2.stop()
    print(f"\ncluster shape: {len(bad)} divergent, {len(errs)} errored "
          f"of {len(modes) * len(names)} runs")
    return 1 if (bad or errs) else 0


def main(only=None) -> int:
    spark = get_session("determinism-check")
    qs = entry_mod.queries()
    bad, errs = [], []
    for name, q in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        runs = []
        try:
            for shape in SHAPES:
                for k, v in shape.items():
                    spark.conf.set(k, v)
                runs.append(_canon(q(spark, SF_DIR).toPandas())[0])
        except Exception as e:
            errs.append(name)
            print(f"!  {name:20s} ERROR {type(e).__name__}: {str(e)[:160]}")
            continue
        finally:
            for k, v in SHAPES[0].items():
                spark.conf.set(k, v)
        if any(r != runs[0] for r in runs[1:]):
            bad.append(name)
            other = next(i for i, r in enumerate(runs) if r != runs[0])
            diff = next(
                ((i, a, b) for i, (a, b) in enumerate(zip(runs[0], runs[other])) if a != b),
                None,
            )
            if diff is None:  # one result is a prefix of the other
                print(f"✗ {name:20s} DIVERGES in row count: "
                      f"shape A {len(runs[0])} rows, shape {other} {len(runs[other])} rows")
            else:
                print(f"✗ {name:20s} DIVERGES (shape {other}) at sorted row {diff[0]}:\n"
                      f"    shape A: {diff[1]}\n    shape {other}: {diff[2]}")
        else:
            print(f"✓ {name:20s} stable ({len(runs[0])} rows, {time.time()-t0:.1f}s)")
    print(f"\n{len(bad)} divergent, {len(errs)} errored")
    if bad:
        print("divergent:", " ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    if argv and argv[0] == "--cluster":
        argv = argv[1:]
        modes = STAGE_MODES
        if "--modes" in argv:  # accept the flag at any position
            i = argv.index("--modes")
            if i + 1 >= len(argv):
                sys.exit("--modes requires a comma-separated value, "
                         "e.g. --modes reliable")
            modes = tuple(argv[i + 1].split(","))
            bad = [m for m in modes if m not in STAGE_MODES]
            if bad:
                sys.exit(f"unknown stage mode(s) {bad}; "
                         "expected local/reliable")
            argv = argv[:i] + argv[i + 2:]
        sys.exit(main_cluster(set(argv) or None, modes=modes))
    sys.exit(main(set(argv) or None))
