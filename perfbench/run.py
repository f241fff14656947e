"""Entity-resolution benchmark of backend_spark: one workload, one seed.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 25 --trace 0

Workloads (see README.md): ``dedup`` (deduplication of one parquet file)
and ``live`` (REST requests of 10 records each to an in-process ApiServer,
from a closed loop of two clients).  ``link`` (bulk linkage of a query CSV
against a cached referential through a YAML recipe) is measured per layer.

``--trace 0`` times the workload and prints its end-to-end metrics.
``--trace 1`` turns on the Spark event log and runs the per-layer passes
of all three workloads in one process, so every per-layer metric is
present whichever workload is named.  Either way the last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit).  The exit code is 0
only when every output check passed.

Inputs are generated from ``--seed`` and cached, with every other file the
benchmark writes, under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 3  # setup_s is the median of this many session set-ups
MIN_F1 = 0.5
WARMUP_S = 15.0  # live: closed-loop warm-up before the timed loop
LIVE_TRACE_CALLS = 3
SKEW_SPANS = {
    "dedup.operators.join_topk", "dedup.llm.minhash_lsh_pairs", "dedup.operators.pair_features",
    "dedup.operators.fs_em", "dedup.operators.er_resolve",
}


def _configure_spark_env(trace: bool) -> str:
    """Keep every file Spark writes inside the work directory; returns
    the event-log directory (traced runs only)."""
    tmp = os.path.join(WORK, "tmp")
    events = os.path.join(WORK, f"eventlog-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if trace:
        os.makedirs(events, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir={events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return events


class RssSampler:
    """Peak resident memory of this process plus the driver JVM, sampled
    from /proc every 50 ms while running."""

    def __init__(self, jvm_pid: int):
        self.pids = [os.getpid(), jvm_pid]
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(self._rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak * 1024 / 1e6


def code_version() -> str:
    """Hash of the program's and the benchmark's sources, so that recorded
    values are compared only between runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "backend_spark"), HERE):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__")))
            for f in sorted(filenames):
                if f.endswith((".py", ".yml", ".yaml", ".json")):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


class Recorded:
    """F1 and output hash of the first operation on each (workload, seed,
    code version); later operations of the same code, in this run or
    another, must reproduce them.  Across code versions only the floor
    applies: F1 must clear ``MIN_F1``, far below what a working pipeline
    scores, and a change in F1 shows in the ``pair_f1`` metric."""

    def __init__(self, path: str):
        self.path = path
        self.version = code_version()
        self.values = json.load(open(path)) if os.path.exists(path) else {}

    def check(self, key: str, f1: float, digest: str) -> list[str]:
        want = self.values.setdefault(f"{key}:{self.version}", {"pair_f1": f1, "hash": digest})
        out = [f"{key}: pair_f1 {f1} below {MIN_F1}"] if f1 < MIN_F1 else []
        if f1 != want["pair_f1"]:
            out.append(f"{key}: pair_f1 {f1} != recorded {want['pair_f1']}")
        if digest != want["hash"]:
            out.append(f"{key}: output hash differs from the recorded one")
        return out

    def save(self):
        with open(self.path + ".tmp", "w") as fh:
            json.dump(self.values, fh, indent=1)
        os.replace(self.path + ".tmp", self.path)


_T0 = time.perf_counter()


def _phase(msg: str) -> None:
    print(f"# {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def timed_run(name: str, data_dir: str, seed: int, seconds: float) -> dict:
    from backend_spark.session import get_session

    import workloads
    from spans import NullTracer

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    wl = workloads.WORKLOADS[name](data_dir, run_dir)
    spark = get_session("perfbench")
    wl.setup(spark)
    _phase("JVM started, first set-up done")
    null = NullTracer()
    wl.prepare(null)
    _phase("prepared")
    recorded = Recorded(os.path.join(data_dir, "recorded.json"))
    failures: list[str] = []
    failed_ops = 0
    if name == "live":
        # the JIT keeps speeding requests up for 10-30 s after the bulk
        # run: warm up with the same closed loop on the second half of the
        # batches, so that the timed loop sits near the plateau
        wl.closed_loop(WARMUP_S, first_batch=len(wl.batches) // 2)
        with RssSampler(_jvm_pid(spark)) as rss:
            results, wall = wl.closed_loop(seconds)
        f1, digest = wl.reference_quality()
        failures = wl.check_responses(results) + recorded.check(f"{name}:{seed}", f1, digest)
        failed_ops = min(len(failures), len(results))
        lat = [dt for _, dt, rows in results if not isinstance(rows, Exception)]
        attempted = len(results)
        records_per_s = workloads.LIVE_BATCH * len(lat) / wall
    else:
        # no warm-up run: one bulk run takes most of the window, and a
        # batch job pays for the first run of its session anyway.  Another
        # run starts only if one as long as the last would end in the window
        lat = []
        with RssSampler(_jvm_pid(spark)) as rss:
            deadline = time.perf_counter() + seconds
            while not lat or time.perf_counter() + lat[-1] <= deadline:
                out = wl.out_path(len(lat))
                t0 = time.perf_counter()
                wl.op(null, out)
                lat.append(time.perf_counter() - t0)
                fails, f1, digest, _ = wl.check(out)
                fails += recorded.check(f"{name}:{seed}", f1, digest)
                failures += fails
                failed_ops += bool(fails)
                workloads.clean(out)
        attempted = len(lat)
        records_per_s = wl.records_per_op * len(lat) / sum(lat)
    _phase(f"timed loop done: {len(lat)} operations: {', '.join(f'{x:.2f}' for x in lat)} s")
    recorded.save()
    # set-ups are timed on the JVM the run has warmed up: a first set-up
    # also launches the JVM, whose 10-18 s swing with machine load would
    # hide any change in the program's own set-up work
    setups = []
    for _ in range(SETUPS):
        wl.teardown()
        spark.stop()
        t0 = time.perf_counter()
        spark = get_session("perfbench")
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    _phase(f"set-ups done: {', '.join(f'{s:.2f}' for s in setups)} s")
    wl.teardown()
    spark.stop()
    workloads.clean(run_dir)
    for f in failures:
        print("FAILED", f, file=sys.stderr)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "latency_p50_ms": (statistics.median(lat) * 1000.0 if lat else float("nan"), "ms"),
        "records_per_s": (records_per_s, "1/s"),
        "pair_f1": (f1, "ratio"),
        "ok_rate": (1.0 - failed_ops / attempted, "ratio"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    print(f"# {name} seed={seed}: latency over {len(lat)} operations, setup_s over {SETUPS} set-ups")
    return _result(not failures, attempted, failed_ops, metrics)


def traced_run(data_dir: str, seed: int, events: str) -> dict:
    """Per-layer passes of link, dedup and live in one traced session."""
    import pandas as pd

    from backend_spark.session import get_session

    import workloads
    from spans import METRIC_UNITS, Tracer, parse_eventlog, report

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    spark = get_session("perfbench")
    tracer = Tracer(spark.sparkContext)
    failures: list[str] = []
    counts = {}

    link = workloads.Link(data_dir, run_dir)
    link.setup(spark)
    link.prepare(tracer)
    out = link.op(tracer, link.out_path(0))
    fails, _, _, n = link.check(out)
    failures += fails
    counts["link.matches"] = (n, "count")

    dedup = workloads.Dedup(data_dir, run_dir)
    dedup.setup(spark)
    out = dedup.op(tracer, dedup.out_path(0))
    failures += dedup.check(out)[0]
    cands, completeness = dedup.blocking_counts()
    counts["dedup.blocking.candidates"] = (cands, "count")
    counts["dedup.blocking.completeness"] = (completeness, "ratio")

    live = workloads.Live(data_dir, run_dir)
    live.setup(spark)
    results = []
    for i in range(LIVE_TRACE_CALLS):
        batch = live.batches[i]
        t0 = time.perf_counter()
        with tracer.span("live.api.apply", group=False):
            rows = live.request(batch)
        results.append((i, time.perf_counter() - t0, rows))
        # the handler's own calls, replayed: their sum against
        # live.api.apply is the api layer's own cost
        with tracer.span("live.spark.create_dataframe"):
            df = spark.createDataFrame(pd.DataFrame(batch))
        with tracer.span("live.plans.compile"):
            out_df = live.book.compile("link_match")(df)
        with tracer.span("live.spark.collect"):
            replay = [r.asDict(recursive=True) for r in out_df.collect()]
        if workloads.rows_hash(workloads.as_json(replay)) != workloads.rows_hash(rows):
            failures.append(f"live: replayed batch {i} differs from its response")
    failures += live.check_responses(results)
    attempted = 2 + len(results)

    tracer.read_tracker()
    live.teardown()
    link.teardown()
    spark.stop()
    (log,) = [os.path.join(events, f) for f in os.listdir(events)]
    with open(log) as fh:
        jobs = parse_eventlog(fh)
    metrics, mismatched = report(tracer.spans, jobs, SKEW_SPANS)
    failures += [f"trace: status tracker and event log disagree on {g}" for g in mismatched]
    _write_spans(os.path.join(WORK, f"trace-seed-{seed}.json"), tracer.spans, metrics)
    workloads.clean(events)
    workloads.clean(run_dir)
    for f in failures:
        print("FAILED", f, file=sys.stderr)
    out = {k: (v, METRIC_UNITS[k.rsplit(".", 1)[1]]) for k, v in metrics.items()}
    out.update(counts)
    return _result(not failures, attempted, min(len(failures), attempted), out)


def _stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it: closing
    its stdin is how PySpark tells the gateway to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _write_spans(path: str, spans, metrics: dict) -> None:
    with open(path, "w") as fh:
        json.dump({"spans": [vars(s) for s in spans], "metrics": metrics}, fh, indent=1)


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["dedup", "live"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import backend_spark  # noqa: F401  the program under test, built from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import backend_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen

    events = _configure_spark_env(bool(args.trace))
    data_dir = os.path.join(WORK, "data", f"seed-{args.seed}")
    gen.generate(data_dir, args.seed)
    _phase("inputs generated")
    if args.trace:
        result = traced_run(data_dir, args.seed, events)
    else:
        result = timed_run(args.workload, data_dir, args.seed, args.seconds)
    _stop_jvm()
    for k, m in result["metrics"].items():
        print(f"{k:48s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
