"""The three workloads, driven only through the engine's public layers.

Each workload has a ``setup`` (what ``setup_s`` times: inputs registered,
referential cached) and an untimed ``prepare``.  The bulk workloads have one
operation ``op`` (a run, input read to output written) and ``check``, which
returns an operation's failed output checks, pairwise F1, output hash and
row count; ``live`` sends REST requests and checks their responses.
"""

from __future__ import annotations

import collections
import hashlib
import json
import math
import os
import shutil
import threading
import time
import urllib.request

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from backend_spark import ml
from backend_spark import operators as ops
from backend_spark.api import ApiServer
from backend_spark.llm import minhash_lsh_pairs
from backend_spark.plans import RecipeBook, load_conf
from backend_spark.sources import read_dataset, write_dataset

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
MODEL_FEATURES = ["score_first", "score_last", "score_place", "score_sex"]
LIVE_BATCH = 10
LIVE_CLIENTS = 2
LIVE_EXPECTED_BATCHES = 64  # more than a timed loop usually sends; the rest are run after it

DEDUP_FEATURES = {
    "first_name": "jw",
    "last_name": "lev_norm",
    "birth_date": "exact",
    "birth_place": "exact",
    "sex": "exact",
}
# agreement indicators for Fellegi-Sunter EM: pair feature, threshold
DEDUP_AGREE = {
    "a_first": ("f_first_name_jw", 0.9),
    "a_last": ("f_last_name_lev_norm", 0.8),
    "a_date": ("f_birth_date_exact", 1),
    "a_place": ("f_birth_place_exact", 1),
    "a_sex": ("f_sex_exact", 1),
}
SURVIVORSHIP = {a: "mode" for a in DEDUP_FEATURES}
MAX_CLUSTER = 1000  # well above the generator's cluster cap


def pair_f1(pred: set, truth: set) -> float:
    tp = len(pred & truth)
    return 2.0 * tp / (len(pred) + len(truth)) if pred or truth else 1.0


def cluster_pairs(clusters) -> set[tuple[str, str]]:
    """Every (smaller id, larger id) pair inside each cluster."""
    out = set()
    for members in clusters:
        ms = sorted(members)
        out.update((a, b) for i, a in enumerate(ms) for b in ms[i + 1:])
    return out


def as_json(rows: list[dict]) -> list[dict]:
    """Rows as a JSON client receives them (dates and decimals as strings)."""
    return json.loads(json.dumps(rows, default=str))


def rows_hash(rows: list[dict]) -> str:
    lines = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class Workload:
    name = ""
    records_per_op = 0

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.files = {k: os.path.join(data_dir, v) for k, v in gen.load_manifest(data_dir)["files"].items()}
        self.truth = gen.load_truth(data_dir)
        self.spark = None

    def setup(self, spark) -> None:
        self.spark = spark

    def teardown(self) -> None:
        """Undo ``setup`` before the session stops."""

    def prepare(self, tracer) -> None:
        """Untimed work the operations need, once per process."""

    def out_path(self, i: int) -> str:
        return os.path.join(self.work_dir, f"{self.name}-out-{i}")


class Link(Workload):
    """Common identities of a query CSV and a cached parquet referential,
    through the YAML recipe ``link`` (fuzzy join, scores, ML re-ranking)."""

    name = "link"

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        self.records_per_op = gen.SIZES["n_query"]
        self.model_path = os.path.join(work_dir, "model")
        self.truth_links = {tuple(x) for x in self.truth["links"]}

    def setup(self, spark):
        super().setup(spark)
        os.environ["PERFBENCH_MODEL"] = self.model_path
        self.ref = read_dataset(spark, self.files["referential"]).cache()
        self.ref.count()
        self.book = RecipeBook(
            load_conf(os.path.join(HERE, "recipes.yml")), datasets={"referential": self.ref}, spark=spark
        )

    def teardown(self):
        self.ref.unpersist()

    def prepare(self, tracer):
        """Train the re-ranking model on the seed's training queries."""
        train = read_dataset(self.spark, self.files["train"], "csv")
        cand = self.book.compile("link_match")(train)
        labels = self.spark.createDataFrame(
            [(q, r, 1) for q, r in self.truth["train_links"]], "q_id string, hit_id string, label int"
        )
        labelled = cand.join(labels, ["q_id", "hit_id"], "left").fillna({"label": 0})
        with tracer.span("link.ml.build_model"):
            ml.build_model(
                labelled, numerical=MODEL_FEATURES, target="label", model_path=self.model_path,
                tries=1, num_trees=3, max_depth=3,
            )

    def op(self, tracer, out: str):
        with tracer.span("link.sources.read_dataset"):
            queries = read_dataset(self.spark, self.files["queries"], "csv")
        with tracer.span("link.plans.compile"):
            linked = self.book.compile("link")(queries)
        with tracer.span("link.sources.write_dataset"):
            write_dataset(linked, out, "parquet")
        return out

    def check(self, out: str):
        rows = pq.read_table(out).to_pylist()
        pred = {(r["q_id"], r["hit_id"]) for r in rows}
        return [], pair_f1(pred, self.truth_links), rows_hash(rows), len(rows)


class Dedup(Workload):
    """Deduplicate one single-row-group parquet file: top-k and MinHash
    blocking, pair features, unsupervised Fellegi-Sunter, connected
    components and golden records."""

    name = "dedup"

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        self.records_per_op = gen.SIZES["n_dedup"]
        self.truth_pairs = cluster_pairs(self.truth["clusters"])

    def setup(self, spark):
        """Register the input: its schema and row count."""
        super().setup(spark)
        read_dataset(spark, self.files["dedup"]).count()

    def op(self, tracer, out: str):
        spark = self.spark
        with tracer.span("dedup.sources.read_dataset"):
            records = read_dataset(spark, self.files["dedup"])
        recs = ops.op_normalize(records, ["first_name", "last_name"])
        keys = F.array(
            F.col("birth_date"),
            F.concat(F.col("last_name"), F.lit("|"), F.substring("birth_date", 1, 4)),
        )
        with tracer.span("dedup.operators.join_topk"):
            topk = ops.join_topk(
                recs, recs, "id", keys, keys, _topk_score, k=10, ref_id="id", tiebreak=["hit_id"],
            )
            topk = topk.where(F.col("id") != F.col("hit_id")).select(
                F.least("id", "hit_id").alias("left_id"), F.greatest("id", "hit_id").alias("right_id")
            ).localCheckpoint(eager=True)
        named = recs.withColumn("name", F.concat_ws(" ", "first_name", "last_name"))
        with tracer.span("dedup.llm.minhash_lsh_pairs"):
            lsh = minhash_lsh_pairs(named, "id", "name", num_perm=16, bands=8, jaccard_threshold=0.5)
            lsh = lsh.select(F.col("id1").alias("left_id"), F.col("id2").alias("right_id")).localCheckpoint(eager=True)
        cands = topk.unionByName(lsh).distinct()
        with tracer.span("dedup.operators.pair_features"):
            feats = ops.pair_features(recs, cands, "id", DEDUP_FEATURES)
            feats = feats.select(
                "left_id", "right_id", *[(F.col(f) >= t).cast("int").alias(a) for a, (f, t) in DEDUP_AGREE.items()]
            ).localCheckpoint(eager=True)
        with tracer.span("dedup.operators.fs_em"):
            weights = ops.fs_em(feats, list(DEDUP_AGREE), n_iter=20)
        prior = weights.first()["prior"]
        scored = ops.fs_score(feats, weights, list(DEDUP_AGREE))
        # posterior match probability >= 1/2
        matches = scored.where(F.col("match_weight") >= math.log2((1.0 - prior) / prior))
        with tracer.span("dedup.operators.er_resolve"):
            golden = ops.er_resolve(
                recs, matches, "id", SURVIVORSHIP, max_cluster_size=MAX_CLUSTER,
            )
        with tracer.span("dedup.sources.write_dataset"):
            write_dataset(golden, out, "parquet")
        self.last = {"cands": cands, "matches": matches}
        return out

    def check(self, out: str):
        """Golden records must be exactly the connected components of the
        accepted pairs: one entity per component, keyed by its smallest
        record id, with every record in exactly one entity."""
        edges = self.last["matches"].select("left_id", "right_id").collect()
        ids = pq.read_table(self.files["dedup"], columns=["id"]).column("id").to_pylist()
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = collections.defaultdict(list)
        for i in ids:
            comps[find(i)].append(i)
        rows = pq.read_table(out).to_pylist()
        failures = []
        expected = sorted((min(m), len(m)) for m in comps.values())
        got = sorted((r["entity_id"], r["n_members"]) for r in rows)
        if got != expected:
            failures.append("dedup: golden records are not the connected components of the matches")
        if sum(r["n_members"] for r in rows) != len(ids):
            failures.append("dedup: a record is in no entity or in several")
        pred = cluster_pairs(comps.values())
        return failures, pair_f1(pred, self.truth_pairs), rows_hash(rows), len(rows)

    def blocking_counts(self) -> tuple[int, float]:
        """Candidate pairs of the last operation, and the share of true
        pairs among them (blocking completeness)."""
        cands = {(r[0], r[1]) for r in self.last["cands"].collect()}
        return len(cands), len(cands & self.truth_pairs) / max(len(self.truth_pairs), 1)


def _topk_score(p):
    first = F.levenshtein(F.coalesce("first_name", F.lit("")), F.coalesce("hit_first_name", F.lit("")))
    last = F.levenshtein(F.col("last_name"), F.col("hit_last_name"))
    return (F.col("birth_date") == F.col("hit_birth_date")).cast("int") * 2 - first - last


class Live(Link):
    """``POST /recipes/link_match/apply`` on an in-process ApiServer: a
    closed loop of clients, each sending batches of query records."""

    name = "live"

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        self.records_per_op = LIVE_BATCH
        rows = gen.read_csv_rows(self.files["queries"])
        self.batches = [rows[i:i + LIVE_BATCH] for i in range(0, len(rows), LIVE_BATCH)]
        self.expected: dict[int, list[dict]] = {}  # batch -> bulk link_match rows

    def setup(self, spark):
        super().setup(spark)
        self.server = ApiServer(spark, self.book).start()
        self.url = f"http://127.0.0.1:{self.server.port}/recipes/link_match/apply"

    def teardown(self):
        self.server.stop()
        super().teardown()

    def prepare(self, tracer):
        """The bulk ``link_match`` rows the first responses must equal; the
        bulk run also warms the session up on the same code paths."""
        self.expected = self.bulk_rows(range(LIVE_EXPECTED_BATCHES))

    def request(self, batch: list[dict]) -> list[dict]:
        req = urllib.request.Request(
            self.url, data=json.dumps(batch).encode(),
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            if resp.status != 200:
                raise RuntimeError(f"HTTP {resp.status}")
            return json.loads(resp.read())["rows"]

    def closed_loop(self, seconds: float, first_batch: int = 0):
        """Clients send the seed's batches in order until ``seconds``
        pass.  Returns (batch index, latency s, rows or exception) per
        request, and the loop's wall time."""
        results, lock = [], threading.Lock()
        nxt = iter(range(first_batch, len(self.batches)))
        deadline = time.perf_counter() + seconds

        def client():
            while time.perf_counter() < deadline:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                t0 = time.perf_counter()
                try:
                    out = self.request(self.batches[i])
                except Exception as e:  # a failed request is counted, not fatal
                    out = e
                with lock:
                    results.append((i, time.perf_counter() - t0, out))

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(LIVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return results, time.perf_counter() - t0

    def bulk_rows(self, batch_ids) -> dict[int, list[dict]]:
        """``link_match`` rows of each batch's records, run in bulk from the CSV."""
        batch_of = {r["q_id"]: i for i in batch_ids for r in self.batches[i]}
        queries = read_dataset(self.spark, self.files["queries"], "csv").where(F.col("q_id").isin(list(batch_of)))
        rows = [r.asDict(recursive=True) for r in self.book.compile("link_match")(queries).collect()]
        out = {i: [] for i in batch_ids}
        for row in as_json(rows):
            out[batch_of[row["q_id"]]].append(row)
        return out

    def check_responses(self, results) -> list[str]:
        """One failure message per failed request: an exception, a non-200
        response, or rows that differ from the bulk run's."""
        failures = [f"live: batch {i} failed: {rows}" for i, _, rows in results if isinstance(rows, Exception)]
        ok = [(i, rows) for i, _, rows in results if not isinstance(rows, Exception)]
        missing = [i for i, _ in ok if i not in self.expected]
        if missing:
            self.expected.update(self.bulk_rows(missing))
        failures += [
            f"live: batch {i} differs from the bulk link_match rows"
            for i, rows in ok if rows_hash(rows) != rows_hash(self.expected[i])
        ]
        return failures

    def reference_quality(self) -> tuple[float, str]:
        """Pairwise F1 and hash of the bulk rows of the first
        ``LIVE_EXPECTED_BATCHES`` batches, which every response is checked
        against: the same records on every run of a seed, unlike the set of
        batches a timed loop gets through."""
        ids = range(LIVE_EXPECTED_BATCHES)
        rows = [r for i in ids for r in self.expected[i]]
        sent = {r["q_id"] for i in ids for r in self.batches[i]}
        pred = {(r["q_id"], r["hit_id"]) for r in rows}
        truth = {(q, r) for q, r in self.truth_links if q in sent}
        return pair_f1(pred, truth), rows_hash(rows)


WORKLOADS = {"dedup": Dedup, "live": Live}  # the timed workloads; Link is traced only


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
