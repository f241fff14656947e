"""Seeded generator of civil-state records for the benchmark workloads.

Everything is drawn from ``random.Random(seed)``, so one seed always gives
byte-identical files.  A person is (first name, last name, birth date,
birth place, sex); names and places follow a Zipf-Mandelbrot law,
p(rank) ~ 1/(rank + q), over a generated vocabulary.  The offset q flattens
the head so the commonest name has the share a real civil-state file gives
it (about 3% for first names, under 1% for last names).

* ``link``: a clean referential (parquet) plus two query files (CSV), one
  to evaluate and one to train the re-ranking model.  Half of each query
  file are dirty copies of referential persons, half are new persons.
* ``dedup``: one parquet file (a single row group) of dirty copies of
  entities whose sizes follow a capped Pareto law.

Dirty copies carry typos, accent and case changes and missing fields.
``truth.json`` holds the true (query, referential) links and the true
dedup clusters.
"""

from __future__ import annotations

import csv
import datetime
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "n_ref": 50_000,
    "n_query": 20_000,
    "n_train": 2_000,
    "n_dedup": 5_000,
    "n_first": 3_000,
    "n_last": 30_000,
    "n_place": 2_000,
    "max_cluster": 40,
}
PARETO_ALPHA = 1.6
REF_PARTS = 4
ZIPF_Q = {"first": 5, "last": 20, "place": 5}

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
_ACCENTS = {"e": "éèê", "a": "àâ", "o": "ôö", "i": "ïî", "u": "ùü", "c": "ç"}
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_D0 = datetime.date(1920, 1, 1).toordinal()
_D1 = datetime.date(2005, 12, 31).toordinal()

REF_COLS = ["r_id", "r_first", "r_last", "r_birth_date", "r_birth_place", "r_sex"]
QUERY_COLS = ["q_id", "first_name", "last_name", "birth_date", "birth_place", "sex"]
DEDUP_COLS = ["id", "first_name", "last_name", "birth_date", "birth_place", "sex"]


def _vocabulary(rng: random.Random, n: int, min_syl: int, max_syl: int) -> list[str]:
    words: dict[str, None] = {}
    while len(words) < n:
        k = rng.randint(min_syl, max_syl)
        w = "".join(rng.choice(_CONS) + rng.choice(_VOWELS) for _ in range(k))
        if rng.random() < 0.4:
            w += rng.choice(_CONS)
        words[w] = None
    return list(words)


def _zipf_cum(n: int, q: int) -> list[float]:
    cum, acc = [], 0.0
    for rank in range(1, n + 1):
        acc += 1.0 / (rank + q)
        cum.append(acc)
    return cum


class _Vocab:
    def __init__(self, rng: random.Random):
        self.first = _vocabulary(rng, SIZES["n_first"], 2, 3)
        self.last = _vocabulary(rng, SIZES["n_last"], 2, 4)
        self.place = [f"{rng.randrange(1, 96):02d}{rng.randrange(1000):03d}" for _ in range(SIZES["n_place"])]
        self.cum_first = _zipf_cum(len(self.first), ZIPF_Q["first"])
        self.cum_last = _zipf_cum(len(self.last), ZIPF_Q["last"])
        self.cum_place = _zipf_cum(len(self.place), ZIPF_Q["place"])

    def persons(self, rng: random.Random, n: int) -> list[tuple[str, str, str, str, str]]:
        firsts = rng.choices(self.first, cum_weights=self.cum_first, k=n)
        lasts = rng.choices(self.last, cum_weights=self.cum_last, k=n)
        places = rng.choices(self.place, cum_weights=self.cum_place, k=n)
        out = []
        for f, l, p in zip(firsts, lasts, places):
            d = datetime.date.fromordinal(rng.randint(_D0, _D1)).strftime("%Y%m%d")
            out.append((f, l, d, p, rng.choice("MF")))
        return out


def _typo(rng: random.Random, w: str) -> str:
    if len(w) < 3:
        return w
    i = rng.randrange(len(w) - 1)
    op = rng.randrange(4)
    if op == 0:
        return w[:i] + rng.choice(_LETTERS) + w[i + 1:]
    if op == 1:
        return w[:i] + w[i + 1:]
    if op == 2:
        return w[:i] + rng.choice(_LETTERS) + w[i:]
    return w[:i] + w[i + 1] + w[i] + w[i + 2:]


def _decorate(rng: random.Random, w: str) -> str:
    """Accent and case changes: both vanish under ``normalize``."""
    if rng.random() < 0.2:
        idx = [i for i, ch in enumerate(w) if ch in _ACCENTS]
        if idx:
            i = rng.choice(idx)
            w = w[:i] + rng.choice(_ACCENTS[w[i]]) + w[i + 1:]
    r = rng.random()
    if r < 0.5:
        return w.upper()
    if r < 0.8:
        return w.title()
    return w


def _date_typo(rng: random.Random, d: str) -> str:
    i = rng.randrange(4, 8)
    return d[:i] + str((int(d[i]) + rng.randrange(1, 9)) % 10) + d[i + 1:]


def _dirty(rng: random.Random, person, p_date_typo: float):
    f, l, d, p, s = person
    if rng.random() < 0.15:
        l = _typo(rng, l)
    if rng.random() < 0.15:
        f = _typo(rng, f)
    f = None if rng.random() < 0.05 else _decorate(rng, f)
    l = _decorate(rng, l)
    if rng.random() < p_date_typo:
        d = _date_typo(rng, d)
    if rng.random() < 0.1:
        p = None
    if rng.random() < 0.02:
        s = None
    return f, l, d, p, s


def _write_parquet(path: str, cols: list[str], rows: list[tuple], parts: int = 1) -> None:
    """``parts`` > 1 writes a directory of part files, the layout Spark
    itself writes; one part is a single file of a single row group."""
    def table(chunk):
        return pa.table({c: pa.array([r[i] for r in chunk], pa.string()) for i, c in enumerate(cols)})

    if parts == 1:
        pq.write_table(table(rows), path, row_group_size=max(len(rows), 1))
        return
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // parts)
    for k in range(parts):
        pq.write_table(table(rows[k * step:(k + 1) * step]), os.path.join(path, f"part-{k:05d}.parquet"))


def _write_csv(path: str, cols: list[str], rows: list[tuple]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(cols)
        w.writerows([["" if v is None else v for v in r] for r in rows])


def _queries(rng: random.Random, vocab: _Vocab, ref: list[tuple], n: int, prefix: str):
    """Half dirty copies of distinct referential persons, half new persons."""
    picks = rng.sample(range(len(ref)), n // 2)
    rows, links = [], []
    for j, i in enumerate(picks):
        qid = f"{prefix}{j:07d}"
        rows.append((qid, *_dirty(rng, ref[i][1:], 0.0)))
        links.append([qid, ref[i][0]])
    for j, person in enumerate(vocab.persons(rng, n - n // 2), start=len(picks)):
        rows.append((f"{prefix}{j:07d}", *_dirty(rng, person, 0.0)))
    rng.shuffle(rows)
    return rows, links


def _cluster_sizes(n: int) -> list[int]:
    """Entity sizes at evenly spaced quantiles of Pareto(alpha), capped: the
    same heavy tail for every seed, so connected components take the same
    number of rounds whatever the seed."""
    sizes, k = [], 0
    while sum(sizes) < n:
        u = (k * 0.6180339887498949) % 1.0  # low-discrepancy quantile sequence
        sizes.append(min(int((1.0 - u) ** (-1.0 / PARETO_ALPHA)), SIZES["max_cluster"]))
        k += 1
    sizes[-1] -= sum(sizes) - n
    return sizes


def _dedup_records(rng: random.Random, vocab: _Vocab, n: int):
    sizes = _cluster_sizes(n)
    rng.shuffle(sizes)
    entities = vocab.persons(rng, len(sizes))
    ids = [f"D{i:07d}" for i in rng.sample(range(10 * n), n)]
    rows, clusters, k = [], [], 0
    for person, size in zip(entities, sizes):
        members = ids[k:k + size]
        k += size
        clusters.append(members)
        rows.extend((m, *_dirty(rng, person, 0.05)) for m in members)
    rows.sort()
    return rows, clusters


def generate(out_dir: str, seed: int) -> dict:
    """Write every workload input for ``seed`` into ``out_dir``, unless it
    already holds them from this generator with these sizes."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read() + json.dumps(SIZES, sort_keys=True).encode()).hexdigest()
    if os.path.exists(manifest_path):
        manifest = load_manifest(out_dir)
        if manifest.get("version") == version:
            return manifest
        shutil.rmtree(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    vocab = _Vocab(rng)
    ref = [(f"R{i:07d}", *p) for i, p in enumerate(vocab.persons(rng, SIZES["n_ref"]))]
    queries, links = _queries(rng, vocab, ref, SIZES["n_query"], "Q")
    train, train_links = _queries(rng, vocab, ref, SIZES["n_train"], "T")
    dedup, clusters = _dedup_records(rng, vocab, SIZES["n_dedup"])

    files = {
        "referential": os.path.join(out_dir, "referential.parquet"),
        "queries": os.path.join(out_dir, "queries.csv"),
        "train": os.path.join(out_dir, "train.csv"),
        "dedup": os.path.join(out_dir, "dedup.parquet"),
        "truth": os.path.join(out_dir, "truth.json"),
    }
    _write_parquet(files["referential"], REF_COLS, ref, parts=REF_PARTS)
    _write_csv(files["queries"], QUERY_COLS, queries)
    _write_csv(files["train"], QUERY_COLS, train)
    _write_parquet(files["dedup"], DEDUP_COLS, dedup)
    with open(files["truth"], "w") as fh:
        json.dump({"links": links, "train_links": train_links, "clusters": clusters}, fh)
    manifest = {"seed": seed, "version": version, "sizes": SIZES, "files": {k: os.path.basename(v) for k, v in files.items()}}
    with open(manifest_path + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest


def load_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        return json.load(fh)


def load_truth(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "truth.json")) as fh:
        return json.load(fh)


def read_csv_rows(path: str) -> list[dict]:
    """Query rows as the REST client sends them: missing fields are None."""
    with open(path, newline="", encoding="utf-8") as fh:
        return [{k: (v if v != "" else None) for k, v in r.items()} for r in csv.DictReader(fh)]
