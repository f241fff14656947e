"""Runtime census of which registry queries reach ``scale.stage()``
(reproduces the round-13 census that found 70 stage-using queries).

Monkeypatches ``backend_spark.scale.stage`` with a recording wrapper,
runs every ``queries()`` entry at sf0.001, and prints the stage-using
names one per line (to stderr: progress + a summary).  The output
feeds ``determinism_check.py --cluster`` so mode-certification runs
cover exactly the queries the stage-mode switch can affect.

Usage: python tools/stage_census.py [sf_dir] > stage_using.txt
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
import backend_spark.scale as scale_mod  # noqa: E402
from backend_spark.session import get_session  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session("stage_census")
    qs = entry_mod.queries()

    real_stage = scale_mod.stage
    hits: set[str] = set()
    current = {"name": None}

    def spy(df, eager=False):
        if current["name"] is not None:
            hits.add(current["name"])
        return real_stage(df, eager=eager)

    # patch both the module binding and any from-imports taken at
    # module load time
    patched = [(scale_mod, "stage")]
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("backend_spark"):
            continue
        if getattr(mod, "stage", None) is real_stage:
            patched.append((mod, "stage"))
    for mod, attr in patched:
        setattr(mod, attr, spy)

    errs = []
    try:
        for i, (name, q) in enumerate(sorted(qs.items())):
            current["name"] = name
            t0 = time.time()
            try:
                q(spark, sf_dir).collect()
            except Exception as e:  # census must survive one bad query
                errs.append(name)
                print(f"! {name}: {type(e).__name__}: {str(e)[:120]}",
                      file=sys.stderr)
                continue
            finally:
                current["name"] = None
            mark = "S" if name in hits else "."
            print(f"{mark} [{i + 1}/{len(qs)}] {name} "
                  f"({time.time() - t0:.1f}s)", file=sys.stderr)
    finally:
        for mod, attr in patched:
            setattr(mod, attr, real_stage)
        spark.stop()

    for name in sorted(hits):
        print(name)
    print(f"\n{len(hits)} stage-using of {len(qs)} queries; "
          f"{len(errs)} errored: {errs}", file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
