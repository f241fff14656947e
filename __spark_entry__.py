"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship matching pipeline on sf0.001.
``queries()``   — one entry per implemented operator (SURVEY.md §2 +
                  the LLM-pipeline extensions), each (spark, sf_dir) ->
                  DataFrame.
``oracle_sql()``— DuckDB-runnable ANSI SQL reproducing each query
                  exactly (same column names, same values); omitted only
                  for genuinely non-SQL-expressible ops (the driver then
                  records a rows-only check).

Design notes for oracle parity:
* doubles aggregated across rows are rounded (2-6 digits) on BOTH
  sides — summation order differs between engines;
* timestamps are returned as formatted strings;
* hash-derived operators (MinHash/LSH/fingerprint) use
  functions.md5_long = CAST('0x'||substr(md5(x),1,15) AS BIGINT),
  reproducible bit-for-bit in DuckDB.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from backend_spark import functions as fn
from backend_spark import llm
from backend_spark.operators import (
    join_fuzzy,
    join_strict,
    join_topk,
    op_clique,
    op_delete,
    op_eval,
    op_exec,
    op_fillna,
    op_groupby,
    op_keep,
    op_map,
    op_nest,
    op_ngram,
    op_normalize,
    op_parsedate,
    op_rename,
    op_replace,
    op_shuffle,
    op_to_float,
    op_to_integer,
    op_unfold,
    op_unnest,
)
from backend_spark.session import event_ts_us, load_table
from backend_spark.sources import read_dataset, write_dataset
from backend_spark.scale import spread_scan, stage

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect) mirroring backend_spark.functions
# ---------------------------------------------------------------------------

# fn.normalize for ASCII inputs (the synthetic tables are ASCII)
_SQL_NORM = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"
# fn.md5_long
_SQL_H = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"
# fn.ngrams: per-whitespace-token char n-grams, flattened
_SQL_NGRAMS = (
    "flatten(list_transform(string_split_regex(trim({c}), '\\s+'), "
    "t -> CASE WHEN length(t) <= {n} THEN [t] "
    "ELSE [substr(t, CAST(i AS INT), {n}) for i in range(1, length(t) - {n} + 2)] END))"
)
# fn.shingles: distinct char n-grams of the whole string
_SQL_SHINGLES = (
    "list_distinct(CASE WHEN length({s}) <= {n} THEN [{s}] "
    "ELSE [substr({s}, CAST(i AS INT), {n}) for i in range(1, length({s}) - {n} + 2)] END)"
)
# ml.ridge_train's exact quantized sums + pinned-parenthesization Cramer
# solve (qscale=1e6, l2=1e-3) — expression trees mirror ml._det3
# verbatim.  ``src`` is any CTE/table exposing (x1, x2, y); the block
# defines CTEs rq/rs/rm/w with w = (det, det0, det1, det2).
def _sql_ridge_block(src: str) -> str:
    return f"""
    rq AS (
      SELECT CAST(round(CAST(x1 AS DOUBLE) * 1000000.0) AS BIGINT) AS q1,
             CAST(round(CAST(x2 AS DOUBLE) * 1000000.0) AS BIGINT) AS q2,
             CAST(round(CAST(y AS DOUBLE) * 1000000.0) AS BIGINT) AS qy
      FROM {src}),
    rs AS (SELECT count(*) AS n,
                 sum(CAST(q1 AS HUGEINT)) AS s0, sum(CAST(q2 AS HUGEINT)) AS s1,
                 sum(CAST(qy AS HUGEINT)) AS s2,
                 sum(CAST(q1 AS HUGEINT) * q1) AS s00,
                 sum(CAST(q1 AS HUGEINT) * q2) AS s01,
                 sum(CAST(q1 AS HUGEINT) * qy) AS s02,
                 sum(CAST(q2 AS HUGEINT) * q2) AS s11,
                 sum(CAST(q2 AS HUGEINT) * qy) AS s12
          FROM rq),
    rm AS (SELECT CAST(n AS DOUBLE) AS a11,
                 CAST(s0 AS DOUBLE) / 1000000.0 AS a12,
                 CAST(s1 AS DOUBLE) / 1000000.0 AS a13,
                 CAST(s00 AS DOUBLE) / 1000000000000.0 + 0.001 AS a22,
                 CAST(s01 AS DOUBLE) / 1000000000000.0 AS a23,
                 CAST(s11 AS DOUBLE) / 1000000000000.0 + 0.001 AS a33,
                 CAST(s2 AS DOUBLE) / 1000000.0 AS b1,
                 CAST(s02 AS DOUBLE) / 1000000000000.0 AS b2,
                 CAST(s12 AS DOUBLE) / 1000000000000.0 AS b3
          FROM rs),
    w AS (SELECT
        (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * a23 - a22 * a13)) AS det,
        (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
             + a13 * (b2 * a23 - a22 * b3)) AS det0,
        (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13)
             + a13 * (a12 * b3 - b2 * a13)) AS det1,
        (a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13)
             + b1 * (a12 * a23 - a22 * a13)) AS det2
      FROM rm)"""


_SQL_RIDGE_W = (
    "\n    WITH li_src AS (SELECT l_quantity AS x1, l_discount AS x2,"
    " l_extendedprice AS y FROM lineitem),"
    + _sql_ridge_block("li_src")
    + "\n"
)

# the ring+chord test graph (see _ring_chord_edges) as DuckDB CTEs
_SQL_GRAPH_SYM = """
    e0 AS (
        SELECT n_nationkey AS a, (n_nationkey + 1) % 25 AS b FROM nation
        UNION ALL
        SELECT n_nationkey, (n_nationkey + 2) % 25 FROM nation WHERE n_nationkey % 2 = 0
    ),
    sym AS MATERIALIZED (
        SELECT DISTINCT a, b FROM (
            SELECT a, b FROM e0 WHERE a != b
            UNION ALL
            SELECT b, a FROM e0 WHERE a != b
        )
    )
"""


def _bpe_train_ctes(n_merges: int = 8) -> list[str]:
    """Shared CTE chain for the BPE oracles (train + encode): words as
    DOUBLE-space-joined symbol strings (the match then consumes one of
    the two delimiter spaces per side, so adjacent occurrences never
    share a delimiter and plain replace() merges every non-overlapping
    left-to-right occurrence — true Sennrich semantics), argmax pair by
    (count desc, pair asc).  All integer arithmetic — exact at any
    engine."""
    ctes = [
        """w AS MATERIALIZED (
            SELECT word, count(*) AS wf
            FROM (SELECT unnest(string_split_regex(trim(regexp_replace(lower(text),
                         '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS word FROM documents)
            WHERE length(word) >= 2 GROUP BY word)""",
        """s0 AS MATERIALIZED (
            SELECT '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS seq, wf
            FROM w)""",
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""best{i} AS MATERIALIZED (
                SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
                FROM (SELECT wf,
                             unnest([toks[CAST(j AS INT)] || ' ' || toks[CAST(j AS INT) + 1]
                                     for j in range(1, len(toks))]) AS pair
                      FROM (SELECT wf, string_split_regex(trim(seq), ' +') AS toks FROM s{i - 1}))
                GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1)"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
                SELECT replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
                               ' ' || replace(pair, ' ', '') || ' ') AS seq, wf
                FROM s{i - 1} CROSS JOIN best{i})"""
        )
    return ctes


def _sql_bpe_train(n_merges: int = 8) -> str:
    """Learned merge table: the UNION of the per-round argmax CTEs."""
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, split_part(pair, ' ', 1) AS lhs, "
        f"split_part(pair, ' ', 2) AS rhs, replace(pair, ' ', '') AS merged, cnt "
        f"FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(_bpe_train_ctes(n_merges)) + "\n" + finals


def _sql_bpe_encode(n_merges: int = 8, preview: int = 8) -> str:
    """Apply the learned merges to the corpus: replay the ranked
    replaces over the full distinct-word set (no length filter — encode
    covers every word, unlike the training vocab), then rebuild each
    document's piece stream in token order (matches llm.bpe_encode)."""
    norm_text = _SQL_NORM.format(c="text")
    ctes = _bpe_train_ctes(n_merges)
    ctes.append(
        f"""aw AS MATERIALIZED (
            SELECT DISTINCT unnest(string_split_regex({norm_text}, '\\s+')) AS word
            FROM documents)"""
    )
    ctes.append(
        """e0 AS (SELECT word,
                         '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS seq
                  FROM aw)"""
    )
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""e{i} AS (
                SELECT word, replace(seq, ' ' || replace(pair, ' ', '  ') || ' ',
                                     ' ' || replace(pair, ' ', '') || ' ') AS seq
                FROM e{i - 1} CROSS JOIN best{i})"""
        )
    ctes.append(
        f"""emap AS MATERIALIZED (
            SELECT word, string_split_regex(trim(seq), ' +') AS pieces FROM e{n_merges})"""
    )
    ctes.append(
        f"""pw AS (
            SELECT doc_id, unnest([{{'pos': i, 'w': ws[CAST(i AS INT)]}}
                                   for i in range(1, len(ws) + 1)]) AS s
            FROM (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS ws
                  FROM documents))"""
    )
    ctes.append(
        """fl AS (
            SELECT pw.doc_id, flatten(list(emap.pieces ORDER BY pw.s.pos)) AS f
            FROM pw JOIN emap ON emap.word = pw.s.w
            GROUP BY pw.doc_id)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, CAST(len(f) AS INT) AS n_bpe, to_json(f[1:{preview}]) AS pieces_preview FROM fl"
    )


def _sql_closeness_anf_exact(n_rounds: int = 13) -> str:
    """Unrolled BFS over the ring-chord fixture: per-source shortest
    distances by n_rounds frontier expansions (min-d fixpoint; the
    graph's diameter is ~8, so 13 rounds are past convergence), then
    the same Wasserman-Faust expression the ANF kernel computes —
    division shapes match the Spark side exactly, so doubles agree
    bit-for-bit before the round(6)."""
    ctes = [
        """e0 AS (SELECT n_nationkey AS a, (n_nationkey + 1) % 25 AS b FROM nation
                  UNION ALL
                  SELECT n_nationkey, (n_nationkey + 2) % 25 FROM nation
                  WHERE n_nationkey % 2 = 0)""",
        """bsym AS MATERIALIZED (
            SELECT DISTINCT a, b FROM (
                SELECT a, b FROM e0 WHERE a != b
                UNION ALL
                SELECT b, a FROM e0 WHERE a != b))""",
        "p0 AS MATERIALIZED (SELECT DISTINCT a AS s, a AS v, 0 AS d FROM bsym)",
    ]
    for i in range(1, n_rounds + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
                SELECT s, v, min(d) AS d FROM (
                    SELECT s, v, d FROM p{i - 1}
                    UNION ALL
                    SELECT p.s, e.b AS v, p.d + 1
                    FROM p{i - 1} p JOIN bsym e ON e.a = p.v)
                GROUP BY s, v)"""
        )
    ctes.append(
        f"""fin AS (SELECT s, CAST(count(*) AS DOUBLE) AS r,
                           CAST(sum(d) AS DOUBLE) AS sd
                    FROM p{n_rounds} GROUP BY s)"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT CAST(s AS BIGINT) AS node,
               CASE WHEN sd > 0
                    THEN round(((r - 1) / 24) * ((r - 1) / sd), 6)
                    ELSE 0.0 END AS closeness
        FROM fin"""
    )


def _sql_k_core(k: int = 3, n_iter: int = 20) -> str:
    """Unrolled k-core peeling matching graph.k_core over the
    K5+bridge+path fixture (_kcore_edges): peeling is monotone, so a
    fixed round count past convergence reproduces the multi-round
    cascade's fixpoint exactly.  Integer-only."""
    ctes = [
        """e0 AS (
            SELECT x.n_nationkey AS a, y.n_nationkey AS b
            FROM nation x JOIN nation y
              ON x.n_nationkey < 5 AND y.n_nationkey < 5
             AND x.n_nationkey < y.n_nationkey
            UNION ALL
            SELECT 5, 0 UNION ALL SELECT 5, 1 UNION ALL SELECT 5, 6
            UNION ALL
            SELECT n_nationkey, n_nationkey + 1 FROM nation
            WHERE n_nationkey >= 6 AND n_nationkey < 24)""",
        """sym2 AS MATERIALIZED (
            SELECT DISTINCT a, b FROM (
                SELECT a, b FROM e0 WHERE a != b
                UNION ALL
                SELECT b, a FROM e0 WHERE a != b))""",
        "a0 AS MATERIALIZED (SELECT a, b FROM sym2)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""keep{i} AS MATERIALIZED (
                SELECT a FROM (SELECT a, count(*) AS c FROM a{i - 1} GROUP BY a)
                WHERE c >= {k})"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
                SELECT t.a, t.b FROM a{i - 1} t
                JOIN keep{i} x ON x.a = t.a
                JOIN keep{i} y ON y.a = t.b)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(a AS BIGINT) AS node, count(*) AS core_degree "
        f"FROM a{n_iter} GROUP BY a"
    )


def _sql_eigenvector(n_iter: int = 30) -> str:
    """Unrolled power iterations matching graph.eigenvector_centrality
    with tol=0: x' = x + A·x then L2-normalize, every float sum ordered
    (``ORDER BY`` aggregate == the Spark side's fixed-order fold), so
    both engines run the identical IEEE left fold."""
    ctes = [
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym)",
        "x0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / 25 AS x FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""u{i} AS MATERIALIZED (
                SELECT p.node, p.x + coalesce(c.s, CAST(0.0 AS DOUBLE)) AS u
                FROM x{i - 1} p LEFT JOIN (
                    SELECT s.b AS node, sum(q.x ORDER BY s.a) AS s
                    FROM sym s JOIN x{i - 1} q ON q.node = s.a
                    GROUP BY s.b
                ) c ON c.node = p.node
            )"""
        )
        ctes.append(
            f"""x{i} AS MATERIALIZED (
                SELECT node,
                       u / (SELECT sqrt(sum(u * u ORDER BY node)) FROM u{i}) AS x
                FROM u{i}
            )"""
        )
    return (
        "WITH "
        + _SQL_GRAPH_SYM
        + ", "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node, round(x, 6) AS eigenvector FROM x{n_iter}"
    )


_SQL_SQUARE_CLUSTERING = (
    "WITH "
    + _SQL_GRAPH_SYM
    + """,
    deg AS MATERIALIZED (SELECT a AS node, count(*) AS k FROM sym GROUP BY a),
    p2 AS MATERIALIZED (
        SELECT s1.b AS u, s2.b AS w, count(*) AS cn
        FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b != s2.b
        GROUP BY s1.b, s2.b
    ),
    pairs AS (
        SELECT s1.a AS v, s1.b AS u, s2.b AS w
        FROM sym s1 JOIN sym s2 ON s1.a = s2.a AND s1.b < s2.b
    ),
    per_pair AS (
        SELECT p.v,
               p2.cn - 1 AS sq,
               p2.cn - 1 + 1 + CASE WHEN e.a IS NULL THEN 0 ELSE 1 END AS degm,
               du.k AS ku, dw.k AS kw
        FROM pairs p
        JOIN p2 ON p2.u = p.u AND p2.w = p.w
        LEFT JOIN (SELECT a, b FROM sym WHERE a < b) e ON e.a = p.u AND e.b = p.w
        JOIN deg du ON du.node = p.u
        JOIN deg dw ON dw.node = p.w
    ),
    agg AS (
        SELECT v AS node, sum(sq) AS num,
               sum(ku - degm + kw - degm + sq) AS pot
        FROM per_pair GROUP BY v
    )
    SELECT CAST(d.node AS BIGINT) AS node,
           coalesce(CASE WHEN a.pot > 0
                         THEN round(CAST(a.num AS DOUBLE) / a.pot, 6)
                         ELSE 0.0 END, 0.0) AS square_clustering
    FROM deg d LEFT JOIN agg a ON a.node = d.node
"""
)


def _sql_pagerank(n_iter: int = 20) -> str:
    """Unrolled pagerank iterations (one CTE per round) — same IEEE ops
    as graph.pagerank with tol=0: base (1.0-0.85)/25, damped neighbor
    sums, fixed ``n_iter`` rounds, round 6 at the end only."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and 20
    # unrolled rounds otherwise become a ~60-join tree whose join-order
    # optimization takes minutes (measured 420s -> <1s with this)
    ctes = [
        "deg AS MATERIALIZED (SELECT a AS node, count(*) AS dg FROM sym GROUP BY a)",
        "r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / 25 AS r FROM deg)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
                SELECT d.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / 25
                       + CAST(0.85 AS DOUBLE) * coalesce(c.sum_in, CAST(0.0 AS DOUBLE)) AS r
                FROM deg d LEFT JOIN (
                    SELECT s.b AS node, sum(p.r / dg.dg) AS sum_in
                    FROM sym s JOIN r{i - 1} p ON p.node = s.a JOIN deg dg ON dg.node = s.a
                    GROUP BY s.b
                ) c ON c.node = d.node
            )"""
        )
    return (
        "WITH "
        + _SQL_GRAPH_SYM
        + ", "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node, round(r, 6) AS pagerank FROM r{n_iter}"
    )


def _sql_ppr(n_iter: int = 10) -> str:
    """Unrolled personalized-pagerank iterations — same IEEE ops as
    graph.personalized_pagerank(sources=[0, 7]): teleport 1/2 on the
    two seeds, damped neighbor sums, fixed ``n_iter`` rounds, round 6
    at the end only.  MATERIALIZED for the same join-order-explosion
    reason as _sql_pagerank."""
    tele = "CASE WHEN d.node IN (0, 7) THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    ctes = [
        "deg AS MATERIALIZED (SELECT a AS node, count(*) AS dg FROM sym GROUP BY a)",
        "r0 AS MATERIALIZED (SELECT node, CASE WHEN node IN (0, 7) THEN CAST(0.5 AS DOUBLE)"
        " ELSE CAST(0.0 AS DOUBLE) END AS r FROM deg)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
                SELECT d.node,
                       (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * ({tele})
                       + CAST(0.85 AS DOUBLE) * coalesce(c.sum_in, CAST(0.0 AS DOUBLE)) AS r
                FROM deg d LEFT JOIN (
                    SELECT s.b AS node, sum(p.r / dg.dg) AS sum_in
                    FROM sym s JOIN r{i - 1} p ON p.node = s.a JOIN deg dg ON dg.node = s.a
                    GROUP BY s.b
                ) c ON c.node = d.node
            )"""
        )
    return (
        "WITH "
        + _SQL_GRAPH_SYM
        + ", "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node, round(r, 6) AS ppr FROM r{n_iter}"
    )


def _sql_hits(n_iter: int = 8) -> str:
    """Unrolled HITS power iterations on the DIRECTED ring+chord edges
    — pure BIGINT sums from the all-ones start (exact, associative),
    one L1 normalization at the very end; same iteration order as
    graph.hits (authorities from h_{i-1}, hubs from a_i)."""
    ctes = [
        "ed AS MATERIALIZED (SELECT a AS s, b AS d FROM e0)",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT s AS node FROM ed UNION ALL SELECT d FROM ed))",
        "h0 AS MATERIALIZED (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
                SELECT n.node, coalesce(x.a, 0) AS a FROM nodes n LEFT JOIN (
                    SELECT d AS node, CAST(sum(h) AS BIGINT) AS a
                    FROM ed JOIN h{i - 1} p ON p.node = ed.s GROUP BY d
                ) x ON x.node = n.node)"""
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
                SELECT n.node, coalesce(x.h, 0) AS h FROM nodes n LEFT JOIN (
                    SELECT s AS node, CAST(sum(a) AS BIGINT) AS h
                    FROM ed JOIN a{i} q ON q.node = ed.d GROUP BY s
                ) x ON x.node = n.node)"""
        )
    return (
        "WITH "
        + _SQL_GRAPH_SYM
        + ", "
        + ",\n".join(ctes)
        + f""",
        j AS (SELECT h{n_iter}.node, h, a
              FROM h{n_iter} JOIN a{n_iter} ON a{n_iter}.node = h{n_iter}.node),
        t AS (SELECT CAST(sum(h) AS BIGINT) AS th, CAST(sum(a) AS BIGINT) AS ta FROM j)
        SELECT CAST(node AS BIGINT) AS node,
               round(CASE WHEN th > 0 THEN h / CAST(th AS DOUBLE) ELSE 0.0 END, 6) AS hub,
               round(CASE WHEN ta > 0 THEN a / CAST(ta AS DOUBLE) ELSE 0.0 END, 6) AS authority
        FROM j CROSS JOIN t"""
    )


def _sql_k_truss(k: int = 4, rounds: int = 4) -> str:
    """Unrolled k-truss support-peeling rounds over the clique6+ring
    fixture — peeling is monotone with a unique fixpoint, so unrolling
    MORE rounds than the data needs is a no-op, and any rounds >= the
    fixpoint depth reproduces graph.k_truss exactly."""
    ctes = [
        """e0 AS MATERIALIZED (
            SELECT x.n_nationkey AS a, y.n_nationkey AS b
            FROM nation x JOIN nation y
              ON x.n_nationkey < y.n_nationkey AND y.n_nationkey < 6
            UNION
            SELECT least(n_nationkey, (n_nationkey + 1) % 25),
                   greatest(n_nationkey, (n_nationkey + 1) % 25)
            FROM nation)"""
    ]
    for i in range(rounds + 1):
        ctes.append(
            f"""sym{i} AS MATERIALIZED (
                SELECT a, b FROM e{i} UNION ALL SELECT b, a FROM e{i})"""
        )
        ctes.append(
            f"""t{i} AS MATERIALIZED (
                SELECT e.a, e.b, count(*) AS support
                FROM e{i} e
                JOIN sym{i} n1 ON n1.a = e.a
                JOIN sym{i} n2 ON n2.a = e.b AND n2.b = n1.b
                GROUP BY e.a, e.b)"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
                SELECT e.a, e.b, coalesce(t.support, 0) AS support
                FROM e{i} e LEFT JOIN t{i} t ON t.a = e.a AND t.b = e.b)"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
                SELECT a, b FROM s{i} WHERE support >= {k - 2})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               CAST(support AS BIGINT) AS support
        FROM s{rounds} WHERE support >= {k - 2}"""
    )


def _sql_label_prop(n_rounds: int = 5) -> str:
    """Unrolled synchronous label-propagation rounds: per round, each
    node adopts its neighbors' most frequent label, ties to the
    smallest — same integer arithmetic as graph.label_propagation."""
    ctes = ["l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM sym)"]
    for i in range(1, n_rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
                SELECT node, lbl FROM (
                    SELECT s.a AS node, p.lbl,
                           row_number() OVER (
                               PARTITION BY s.a
                               ORDER BY count(*) DESC, p.lbl ASC
                           ) AS rn
                    FROM sym s JOIN l{i - 1} p ON p.node = s.b
                    GROUP BY s.a, p.lbl
                ) WHERE rn = 1
            )"""
        )
    return (
        "WITH "
        + _SQL_GRAPH_SYM
        + ", "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS community"
        f" FROM l{n_rounds}"
    )


def _sql_modularity(n_rounds: int = 5) -> str:
    """Newman Q of the unrolled label-propagation partition — same
    per-community fold (in community order) as graph.modularity."""
    lp = _sql_label_prop(n_rounds)
    # reuse the label-prop CTE chain: strip its final SELECT, keep WITH
    body = lp[: lp.rindex("\nSELECT ")]
    return (
        body
        + f""",
        lab AS (SELECT s.a, ca.lbl AS ca, cb.lbl AS cb
                FROM sym s JOIN l{n_rounds} ca ON ca.node = s.a
                JOIN l{n_rounds} cb ON cb.node = s.b),
        per_c AS (SELECT ca, count(*) AS deg2,
                         sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS intra2
                  FROM lab GROUP BY ca),
        tot AS (SELECT sum(deg2) AS m2, count(*) AS nc FROM per_c),
        terms AS (SELECT ca, nc, m2,
                         intra2 / CAST(m2 AS DOUBLE)
                         - (deg2 / CAST(m2 AS DOUBLE)) * (deg2 / CAST(m2 AS DOUBLE))
                           AS term
                  FROM per_c CROSS JOIN tot)
        SELECT CAST(min(nc) AS BIGINT) AS n_communities,
               CAST(min(m2) / 2 AS BIGINT) AS n_edges,
               round(sum(term ORDER BY ca), 6) AS modularity
        FROM terms"""
    )


_SQL_LINK_PREDICT = f"""
    WITH {_SQL_GRAPH_SYM},
    deg AS (SELECT a AS w, count(*) AS dw FROM sym GROUP BY a),
    adj AS (SELECT s.b AS w, s.a AS u, d.dw FROM sym s JOIN deg d ON d.w = s.b),
    pr AS (
        SELECT l.u AS u, r.u AS v, count(*) AS cn,
               sum(CAST(1.0 AS DOUBLE) / ln(CAST(l.dw AS DOUBLE))) AS aa
        FROM adj l JOIN adj r ON r.w = l.w AND l.u < r.u
        GROUP BY l.u, r.u
    ),
    nonadj AS (
        SELECT p.* FROM pr p
        WHERE NOT EXISTS (SELECT 1 FROM sym s WHERE s.a = p.u AND s.b = p.v)
    )
    SELECT CAST(n.u AS BIGINT) AS u, CAST(n.v AS BIGINT) AS v,
           n.cn AS common_neighbors,
           round(CAST(n.cn AS DOUBLE) / (du.dw + dv.dw - n.cn), 6) AS jaccard,
           round(n.aa, 6) AS adamic_adar
    FROM nonadj n JOIN deg du ON du.w = n.u JOIN deg dv ON dv.w = n.v
"""


# fn.levenshtein_norm — round_even matches Python round() / Spark F.rint
# (half-even) at .5 midpoints; plain round (HALF_UP) diverges there.
_SQL_LEVNORM = (
    "round_even(100 - 100 * levenshtein({a}, {b}) / (1 + least(length({a}), length({b}))), 0) / 100"
)


_FLAGSHIP_YAML = """
recipes:
  flagship_matching:
    steps:
      - map:
          name_norm: c_name
      - normalize:
          select: name_norm
      - join:
          dataset: nation
          strict:
            c_nationkey: n_nationkey
          select:
            nation_name: n_name
      - eval:
          - score_name: "levenshtein_norm(name_norm, normalize(nation_name))"
          - bal_bucket: "'hi' if c_acctbal > 5000 else 'lo'"
      - groupby:
          select: [nation_name, bal_bucket]
          agg:
            c_acctbal: sum
            c_custkey: count
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: the matching-recipe shape driven through
    the YAML user surface (SURVEY.md §7 step 1) — normalize → broadcast
    strict join → tier-1 eval scoring → groupby rollup, compiled by
    ``backend_spark.plans`` into one Catalyst plan."""
    from backend_spark.plans import RecipeBook, load_conf

    sf = "/root/testdata/sf0.001"
    book = RecipeBook(
        load_conf(_FLAGSHIP_YAML),
        datasets={"nation": load_table(spark, sf, "nation")},
        spark=spark,
    )
    return book.compile("flagship_matching")(load_table(spark, sf, "customer"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_map(spark, sf):
    cust = load_table(spark, sf, "customer")
    out = op_map(cust, {"cust_id": "c_custkey", "name_seg": ["c_name", "c_mktsegment"]})
    # arrays returned as canonical JSON so any row serialization hashes alike
    return out.select("c_custkey", "cust_id", F.to_json("name_seg").alias("name_seg"))


def _q_rename(spark, sf):
    orders = load_table(spark, sf, "orders")
    out = op_rename(orders, {"order_id": "o_orderkey", "total": "o_totalprice"})
    return op_keep(out, ["order_id", "total"])


def _q_keep_where(spark, sf):
    cust = load_table(spark, sf, "customer")
    return op_keep(cust, select=r"^c_(custkey|acctbal)$", where="c_acctbal > 1000")


def _q_delete(spark, sf):
    part = load_table(spark, sf, "part")
    return op_delete(part, r"^p_(brand|type|retailprice)$")


def _q_fillna(spark, sf):
    part = load_table(spark, sf, "part")
    out = op_map(part, {"brand_num": "p_brand"})
    out = op_to_integer(out, ["brand_num"])  # 'Brand#13' -> null
    out = op_fillna(out, [{"brand_num": -1}, {"flag": "x"}])
    return out.select("p_partkey", "brand_num", "flag")


def _q_to_integer(spark, sf):
    part = load_table(spark, sf, "part")
    out = op_eval(part, [{"size_str": "str(p_size)"}])
    out = op_to_integer(out, ["size_str"])
    return out.select("p_partkey", "size_str")


def _q_to_float(spark, sf):
    li = load_table(spark, sf, "lineitem")
    out = op_eval(li, [{"qty_s": "str(l_quantity)"}])
    out = op_to_float(out, ["qty_s"], na_value=0.0)
    return out.select("l_orderkey", "l_linenumber", "qty_s")


def _q_parsedate(spark, sf):
    orders = load_table(spark, sf, "orders")
    out = orders.withColumn("ds", F.date_format("o_orderdate", "yyyyMMdd"))
    out = op_parsedate(out, ["ds"], format="%Y%m%d")
    return out.select("o_orderkey", F.date_format("ds", "yyyy-MM-dd").alias("ds"))


def _q_replace(spark, sf):
    cust = load_table(spark, sf, "customer")
    out = op_replace(cust, ["c_name"], [{"Customer#0*": "C"}, {"00": "0"}])
    return out.select("c_custkey", "c_name")


def _q_normalize(spark, sf):
    orders = load_table(spark, sf, "orders")
    out = op_normalize(orders, ["o_orderpriority"])
    return out.select("o_orderkey", "o_orderpriority")


def _q_eval_tier1(spark, sf):
    li = load_table(spark, sf, "lineitem")
    # no rounding: both engines compute the identical IEEE double
    out = op_eval(
        li,
        [
            {"revenue": "l_extendedprice * (1 - l_discount)"},
            {"margin_flag": "'hi' if l_discount > 0.05 else 'lo'"},
        ],
    )
    return out.select("l_orderkey", "l_linenumber", "revenue", "margin_flag")


def _q_eval_tier2(spark, sf):
    part = load_table(spark, sf, "part")
    out = op_eval(part, [{"initials": "'-'.join([t[0] for t in tokenize(p_name)])"}])
    return out.select("p_partkey", "initials")


def _q_exec(spark, sf):
    cust = load_table(spark, sf, "customer")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cust.schema.fields)
    out = op_exec(cust, "df['bal2'] = df['c_acctbal'] * 2", schema=f"{schema}, bal2 double")
    return out.select("c_custkey", F.round("bal2", 2).alias("bal2"))


def _q_shuffle(spark, sf):
    cust = load_table(spark, sf, "customer")
    # single column: the permuted multiset equals the input multiset, so
    # the order-insensitive oracle compare pins correctness exactly
    return op_shuffle(cust.select("c_name"))


def _q_groupby_agg(spark, sf):
    li = load_table(spark, sf, "lineitem")
    out = op_groupby(
        li,
        ["l_returnflag", "l_linestatus"],
        agg={"l_quantity": "sum", "l_extendedprice": ["sum", "mean"], "l_orderkey": "count"},
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("l_quantity_sum", 2).alias("l_quantity_sum"),
        F.round("l_extendedprice_sum", 2).alias("l_extendedprice_sum"),
        F.round("l_extendedprice_mean", 2).alias("l_extendedprice_mean"),
        "l_orderkey_count",
    )


def _q_groupby_agg_list(spark, sf):
    nat = load_table(spark, sf, "nation")
    out = op_groupby(nat, ["n_regionkey"], agg={"n_name": "list"})
    return out.withColumn("n_name_list", F.to_json(F.sort_array("n_name_list")))


def _q_groupby_transform(spark, sf):
    cust = load_table(spark, sf, "customer")
    out = op_groupby(cust, ["c_mktsegment"], transform={"c_acctbal": "sum"})
    return out.select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal_sum", 2).alias("c_acctbal_sum")
    )


def _q_groupby_rank(spark, sf):
    orders = load_table(spark, sf, "orders")
    out = op_groupby(orders, ["o_orderpriority"], rank=["o_totalprice"])
    return out.select("o_orderkey", "o_orderpriority", "o_totalprice_rank")


def _q_unfold(spark, sf):
    part = load_table(spark, sf, "part")
    out = part.withColumn("token", F.split("p_name", " "))
    out = op_unfold(out, "token")
    return out.select("p_partkey", "token")


def _q_unnest(spark, sf):
    ev = load_table(spark, sf, "events")
    out = op_unnest(ev, "props")
    return out.select("event_id", "k")


def _q_nest(spark, sf):
    reg = load_table(spark, sf, "region")
    return op_nest(reg, ["r_regionkey", "r_name"], target="payload")


def _q_ngram(spark, sf):
    nat = load_table(spark, sf, "nation")
    out = op_ngram(nat, ["n_name"], n=2)
    return out.select("n_nationkey", F.to_json("n_name").alias("n_name"))


def _q_join_strict(spark, sf):
    cust = load_table(spark, sf, "customer")
    nat = load_table(spark, sf, "nation")
    out = join_strict(cust, nat, {"c_nationkey": "n_nationkey"}, select={"nation_name": "n_name"})
    return out.select("c_custkey", "c_name", "nation_name")


def _fuzzy_left(spark, sf):
    nat = load_table(spark, sf, "nation")
    return nat.select(
        F.col("n_nationkey").alias("id"),
        F.concat(F.lower("n_name"), F.lit("x")).alias("key"),
    )


def _q_join_fuzzy(spark, sf):
    nat = load_table(spark, sf, "nation")
    left = _fuzzy_left(spark, sf)
    ref = nat.select(F.lower("n_name").alias("w"))
    out = join_fuzzy(left, ref, {"key": "w"})
    return out.select("id", "key", "key_match")


def _q_join_topk(spark, sf):
    nat = load_table(spark, sf, "nation")
    left = _fuzzy_left(spark, sf).withColumn("blk", fn.ngrams(F.col("key"), 3))
    out = join_topk(
        left,
        nat.select("n_nationkey", "n_name"),
        left_id="id",
        block_left="blk",
        block_right=fn.ngrams(F.lower(F.col("n_name")), 3),
        score=lambda d: fn.levenshtein_norm(d["key"], F.lower(d["hit_n_name"])),
        k=2,
        tiebreak=["hit_n_nationkey"],
        ref_id="n_nationkey",  # ids-only candidate dedup shuffle
    )
    return out.select(
        "id",
        "key",
        "hit_n_nationkey",
        "hit_n_name",
        "hit_score",
        "matchid_hit_matches_unfiltered",
        "hit_max_score",
    )


def _q_clique(spark, sf):
    nat = load_table(spark, sf, "nation")
    edges = nat.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("x"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("y"),
    )
    return op_clique(edges, ["x", "y"])


def _q_closeness(spark, sf):
    from backend_spark.operators.graph import closeness_centrality

    # region-nation stars: closeness has a closed form per role
    # (center m/(n-1); leaf (m/(n-1))*(m/(2m-1))) that the oracle
    # computes analytically
    nat = load_table(spark, sf, "nation")
    edges = nat.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("dst"),
    )
    return closeness_centrality(edges)


def _q_clique_list(spark, sf):
    nat = load_table(spark, sf, "nation")
    edges = nat.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("x"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("y"),
    )
    out = op_clique(edges, ["x", "y"], metrics=["clique_list"])
    return out.select(
        "x", "y", "graph_clique_id", F.to_json("graph_clique_list").alias("clique_list")
    )


def _ring_chord_edges(spark, sf):
    """Deterministic 25-node test graph from nation: ring i—(i+1)%25
    plus chords i—(i+2)%25 at even i (13 triangles). Fixed size at
    every SF (nation is always 25 rows)."""
    nat = load_table(spark, sf, "nation").select("n_nationkey")
    ring = nat.select(
        F.col("n_nationkey").alias("src"), ((F.col("n_nationkey") + 1) % 25).alias("dst")
    )
    chords = nat.where(F.col("n_nationkey") % 2 == 0).select(
        F.col("n_nationkey").alias("src"), ((F.col("n_nationkey") + 2) % 25).alias("dst")
    )
    return ring.unionByName(chords)


def _q_graph_metrics(spark, sf):
    from backend_spark.operators.graph import node_metrics

    return node_metrics(_ring_chord_edges(spark, sf)).select(
        F.col("node").cast("long").alias("node"),
        F.col("triangles").cast("long").alias("triangles"),
        F.col("degree").cast("long").alias("degree"),
        "clustering",
    ).select("node", "degree", "triangles", "clustering")


def _q_ppr(spark, sf):
    from backend_spark.operators.graph import personalized_pagerank

    return personalized_pagerank(
        _ring_chord_edges(spark, sf), sources=[0, 7], max_iter=10
    ).select(F.col("node").cast("long").alias("node"), "ppr")


def _q_hits(spark, sf):
    from backend_spark.operators.graph import hits

    return hits(_ring_chord_edges(spark, sf), max_iter=8).select(
        F.col("node").cast("long").alias("node"), "hub", "authority"
    )


def _q_k_truss(spark, sf):
    from backend_spark.operators.graph import k_truss

    nat = load_table(spark, sf, "nation").select("n_nationkey")
    small = nat.where(F.col("n_nationkey") < 6)
    clique = (
        small.withColumnRenamed("n_nationkey", "src")
        .join(
            small.withColumnRenamed("n_nationkey", "dst"),
            F.col("src") < F.col("dst"),
        )
    )
    ring = nat.select(
        F.col("n_nationkey").alias("src"), ((F.col("n_nationkey") + 1) % 25).alias("dst")
    )
    return k_truss(clique.unionByName(ring), k=4).select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("support").cast("long").alias("support"),
    )


def _q_pagerank(spark, sf):
    from backend_spark.operators.graph import pagerank

    # tol=0 -> exactly max_iter iterations, matching the unrolled oracle
    return pagerank(_ring_chord_edges(spark, sf), max_iter=20, tol=0.0).select(
        F.col("node").cast("long").alias("node"), "pagerank"
    )


def _q_bpe_train(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.bpe_train(docs, "doc_id", "text", n_merges=8)


def _q_bpe_encode(spark, sf):
    docs = load_table(spark, sf, "documents")
    out = llm.bpe_encode(docs, "doc_id", "text", n_merges=8)
    # repo convention: array columns go out as JSON so the driver can
    # sort/hash them (see _q_map)
    return out.select("doc_id", "n_bpe", F.to_json("pieces_preview").alias("pieces_preview"))


def _q_chunk_documents(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.chunk_documents(docs, "doc_id", "text", chunk_size=32, overlap=8)


def _q_source_mix(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.source_mix(docs)


def _q_bigram_logprob(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.bigram_logprob(docs, "doc_id", "text")


def _kcore_edges(spark, sf):
    """K5 on nodes 0-4, node 5 bridged to {0, 1, 6}, and a path
    6-7-...-24.  At k=3 the peel is a genuine multi-round cascade: the
    path and node 6 (degree 2) go in round 1, which only then drops
    node 5 from degree 3 to 2 for round 2; the fixpoint (round 3) is
    exactly the K5 at core_degree 4."""
    nat = load_table(spark, sf, "nation").select("n_nationkey")
    small = nat.where(F.col("n_nationkey") < 5).select(F.col("n_nationkey").alias("i"))
    k5 = small.crossJoin(small.select(F.col("i").alias("j"))).where(F.col("i") < F.col("j"))
    k5 = k5.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    bridge = spark.createDataFrame([(5, 0), (5, 1), (5, 6)], "src long, dst long")
    path = nat.where((F.col("n_nationkey") >= 6) & (F.col("n_nationkey") < 24)).select(
        F.col("n_nationkey").alias("src"), (F.col("n_nationkey") + 1).alias("dst")
    )
    return k5.unionByName(bridge).unionByName(path)


def _q_k_core(spark, sf):
    from backend_spark.operators.graph import k_core

    return k_core(_kcore_edges(spark, sf), k=3, max_iter=20).select(
        F.col("node").cast("long").alias("node"), "core_degree"
    )


def _q_closeness_approx(spark, sf):
    from backend_spark.operators.graph import closeness_centrality_approx

    # rows-only: DuckDB has no DataSketches-compatible HLL, so there is
    # no exact cross-engine oracle; the op is deterministic (max-register
    # merges) and is pinned against the exact kernel in tests/
    return closeness_centrality_approx(_ring_chord_edges(spark, sf)).select(
        F.col("node").cast("long").alias("node"), "closeness"
    )


def _q_closeness_anf_exact(spark, sf):
    from backend_spark.operators.graph import closeness_centrality_approx

    # the ANF recursion in exact-set mode: neighborhood function is
    # exact, so the multi-hop sketch propagation itself is pinned by an
    # unrolled-BFS oracle (the HLL production path runs the same
    # recursion with mergeable sketches; see closeness_approx rows-only)
    return closeness_centrality_approx(_ring_chord_edges(spark, sf), exact_sets=True).select(
        F.col("node").cast("long").alias("node"), "closeness"
    )


def _q_eigenvector(spark, sf):
    from backend_spark.operators.graph import eigenvector_centrality

    # tol=0 -> exactly max_iter rounds, matching the unrolled oracle
    return eigenvector_centrality(_ring_chord_edges(spark, sf), max_iter=30, tol=0.0).select(
        F.col("node").cast("long").alias("node"), "eigenvector"
    )


def _q_square_clustering(spark, sf):
    from backend_spark.operators.graph import square_clustering

    return square_clustering(_ring_chord_edges(spark, sf)).select(
        F.col("node").cast("long").alias("node"), "square_clustering"
    )


def _q_kn_bigram(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.kn_bigram_logprob(docs, "doc_id", "text", discount=0.75)


def _q_modularity(spark, sf):
    from backend_spark.operators.graph import label_propagation, modularity

    edges = _ring_chord_edges(spark, sf)
    com = label_propagation(edges, n_rounds=5)
    return modularity(edges, com)


def _q_bloom_decontaminate(spark, sf):
    # same benchmark slice as _q_decontaminate; smaller m so the tiny
    # synthetic vocabulary also exercises false-positive bits
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0).select("text")
    return llm.bloom_decontaminate(
        docs, bench, "doc_id", "text", n=5, m_bits=1 << 14, k=3, threshold=0.5
    )


def _q_skew_report(spark, sf):
    from backend_spark.scale import skew_report

    li = load_table(spark, sf, "lineitem")
    return skew_report(li, ["l_returnflag", "l_linestatus"], top_k=5)


def _q_dsir(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.dsir_weights(
        docs, docs.where(F.col("lang") == "en"), "doc_id", "text", buckets=4096
    ).select("doc_id", "n_feats", "logweight")


def _q_label_prop(spark, sf):
    from backend_spark.operators.graph import label_propagation

    # fixed n_rounds -> synchronous LPA is fully deterministic and the
    # oracle unrolls the same rounds (pagerank tol=0 pattern)
    return label_propagation(_ring_chord_edges(spark, sf), n_rounds=5).select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
    )


def _q_link_predict(spark, sf):
    from backend_spark.operators.graph import link_prediction

    return link_prediction(_ring_chord_edges(spark, sf)).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        "common_neighbors",
        "jaccard",
        "adamic_adar",
    )


def _q_dedup_exact(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    out = llm.dedup_exact(docs.unionByName(dupes), "doc_id", "text")
    return out.select("doc_id", "text")


def _q_zorder(spark, sf):
    """Morton (z-order) interleave of two TPC-H integer keys — the exact
    bit-arithmetic :func:`backend_spark.scale.zorder_key` computes, so the
    scale toolbox's write-clustering key gets a full hash oracle."""
    from backend_spark.scale import zorder_key

    cust = load_table(spark, sf, "customer")
    return cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        zorder_key(["c_custkey", "c_nationkey"], bits=16).alias("zkey"),
    )


def _sql_zorder(bits: int = 16) -> str:
    """DuckDB fold of the same Morton interleave: OR of
    ((col >> j) & 1) << (j*n + i) over both columns' low ``bits`` bits."""
    cols = ["c_custkey", "c_nationkey"]
    n = len(cols)
    terms = [
        f"(((CAST({c} AS BIGINT) >> {j}) & 1) << {j * n + i})"
        for i, c in enumerate(cols)
        for j in range(bits)
    ]
    return (
        "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, "
        + " | ".join(terms)
        + " AS zkey FROM customer"
    )


def _q_minhash_sig(spark, sf):
    docs = load_table(spark, sf, "documents")
    hs = llm._shingle_hashes(docs, "doc_id", "text", 3)  # staged: 8 perm mins read __hs
    return hs.select(
        "doc_id", F.to_json(fn.minhash_signature_from_hashes(F.col("__hs"), 8)).alias("sig")
    )


def _q_minhash_pairs(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    both = docs.unionByName(dupes)
    # LSH parameters matched to the verify threshold: 4 bands of 4 rows
    # give a candidate s-curve midpoint of (1/4)^(1/4) ~ 0.71 for the
    # 0.8 verify, and 5-char shingles keep template-sharing corpora
    # from colliding (3-char shingles put most UNRELATED doc pairs
    # above a 2-row band's ~0.35 midpoint: measured 9.4M candidates
    # for 5.1k docs at sf0.1 vs ~400 with these settings)
    return llm.minhash_lsh_pairs(
        both, "doc_id", "text", num_perm=16, bands=4, shingle_n=5,
        jaccard_threshold=0.8,
    )


def _q_dedup_near(spark, sf):
    # end-to-end near-dup dedup: LSH pairs -> connected components ->
    # keep the smallest id per duplicate cluster.  The oracle reproduces
    # the CC stage with a recursive min-label reachability CTE.
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    out = llm.dedup_minhash(
        docs.unionByName(dupes), "doc_id", "text", num_perm=16, bands=4,
        shingle_n=5, jaccard_threshold=0.8,
    )
    return out.select("doc_id")


def _q_c4_lines(spark, sf):
    # synthesize line structure deterministically: every ' a ' token
    # becomes a sentence break (prev line gains terminal '.'), and
    # ' the ' becomes ' javascript ' so the line-drop rule fires — all
    # plain string replaces, identical on both engines
    docs = load_table(spark, sf, "documents")
    structured = F.replace(
        F.replace(F.col("text"), F.lit(" a "), F.lit(".\n")),
        F.lit(" the "),
        F.lit(" javascript "),
    )
    return llm.c4_line_filter(
        docs.select("doc_id", structured.alias("text")), "doc_id", "text"
    )


def _q_blocklist(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.blocklist_hit_rate(
        docs, "doc_id", "text", terms=["spark", "join"], max_rate=0.05
    )


def _q_kmeans(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return llm.kmeans_assign(emb, "vec_id", "embedding", k=8, n_iter=3)


def _sql_kmeans(k: int = 8, n_iter: int = 3, scale: int = 1_000_000) -> str:
    """Unrolled Lloyd's iterations (same pattern as the BPE-train
    oracle): hash-rank init, argmin assignment with round(6) squared
    euclidean, scaled-BIGINT mean updates, empty clusters coalesced to
    their previous centroid."""
    d2 = (
        "round(list_sum([(a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
        " * (a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
        " for i in range(1, len(a.v) + 1)]), 6)"
    )
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""h AS (SELECT vec_id, v,
                  {_SQL_H.format(x="'km:' || CAST(vec_id AS VARCHAR)")} AS hk
             FROM v)""",
        f"""c0 AS (SELECT CAST(row_number() OVER (ORDER BY hk ASC, vec_id ASC) AS INT) - 1
                       AS cluster, v AS cv
              FROM h
              QUALIFY row_number() OVER (ORDER BY hk ASC, vec_id ASC) <= {k})""",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""a{i} AS (SELECT a.vec_id, a.v, c.cluster, {d2} AS d
                  FROM v a CROSS JOIN c{i - 1} c
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                             ORDER BY d ASC, c.cluster ASC) = 1)"""
        )
        ctes.append(
            f"""e{i} AS (SELECT cluster, v,
                         CAST(unnest(range(1, len(v) + 1)) AS INT) AS dim
                  FROM a{i})"""
        )
        ctes.append(
            f"""u{i} AS (SELECT cluster,
                         list(CAST(s AS DOUBLE) / CAST(n * {scale} AS BIGINT)
                              ORDER BY dim) AS cv
                  FROM (SELECT cluster, dim,
                               sum(CAST(floor(v[dim] * {scale} + 0.5) AS BIGINT)) AS s,
                               count(*) AS n
                        FROM e{i} GROUP BY cluster, dim)
                  GROUP BY cluster)"""
        )
        ctes.append(
            f"""c{i} AS (SELECT c.cluster, coalesce(u.cv, c.cv) AS cv
                  FROM c{i - 1} c LEFT JOIN u{i} u USING (cluster))"""
        )
    ctes.append(
        f"""af AS (SELECT a.vec_id, c.cluster, {d2} AS d
              FROM v a CROSS JOIN c{n_iter} c
              QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                         ORDER BY d ASC, c.cluster ASC) = 1)"""
    )
    return "WITH " + ",\n".join(ctes) + "\nSELECT vec_id, cluster, d AS dist FROM af"


def _q_kcenter(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return llm.kcenter_coreset(emb, "vec_id", "embedding", k=8)


def _sql_kcenter(k: int = 8) -> str:
    """Unrolled greedy k-center rounds: seed = min id, then per round
    the rounded max-min-d2 argmax (ties to smaller id), min-distance
    column carried forward — same arithmetic as llm.kcenter_coreset."""
    d2 = (
        "round(list_sum([(a.v[CAST(i AS INT)] - s.v[CAST(i AS INT)])"
        " * (a.v[CAST(i AS INT)] - s.v[CAST(i AS INT)])"
        " for i in range(1, len(a.v) + 1)]), 6)"
    )
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "s1 AS (SELECT vec_id, v FROM v ORDER BY vec_id ASC LIMIT 1)",
        f"m1 AS MATERIALIZED (SELECT a.vec_id, a.v, {d2} AS mind FROM v a CROSS JOIN s1 s)",
    ]
    for r in range(2, k + 1):
        # WHERE mind > 0 mirrors the operator's coverage-radius-0 early
        # stop: once every point coincides with a selection this CTE is
        # empty and all later rounds contribute nothing
        ctes.append(
            f"""s{r} AS (SELECT vec_id, v, mind FROM m{r - 1} WHERE mind > 0
                  ORDER BY mind DESC, vec_id ASC LIMIT 1)"""
        )
        if r < k:
            ctes.append(
                f"""m{r} AS MATERIALIZED (
                      SELECT a.vec_id, a.v, least(a.mind, {d2}) AS mind
                      FROM m{r - 1} a CROSS JOIN s{r} s)"""
            )
    sels = ["SELECT vec_id, CAST(1 AS BIGINT) AS sel_rank, CAST(0.0 AS DOUBLE) AS dist FROM s1"]
    sels += [
        f"SELECT vec_id, CAST({r} AS BIGINT), mind FROM s{r}" for r in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


def _q_pq_encode(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return llm.pq_encode(emb, "vec_id", "embedding", m=8, k=16, n_iter=2)


def _pq_chain_ctes(m: int, k: int, n_iter: int, dim: int, scale: int):
    """The shared per-subspace unrolled-Lloyd's CTE chains (the
    _sql_kmeans pattern on subvector slices, salt 'pq{s}:'); returns
    (ctes, fins) with af{s} = final (vec_id, cluster, d) per subspace."""
    dsub = dim // m
    ctes = []
    fins = []
    for s in range(m):
        d2 = (
            "round(list_sum([(a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
            " * (a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
            f" for i in range(1, {dsub} + 1)]), 6)"
        )
        lo, hi = s * dsub + 1, (s + 1) * dsub
        ctes.append(
            f"v{s} AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS v"
            " FROM embeddings)"
        )
        ctes.append(
            f"""h{s} AS (SELECT vec_id, v,
                  {_SQL_H.format(x=f"'pq{s}:' || CAST(vec_id AS VARCHAR)")} AS hk
             FROM v{s})"""
        )
        ctes.append(
            f"""c{s}_0 AS (SELECT CAST(row_number() OVER (ORDER BY hk ASC, vec_id ASC) AS INT) - 1
                       AS cluster, v AS cv
              FROM h{s}
              QUALIFY row_number() OVER (ORDER BY hk ASC, vec_id ASC) <= {k})"""
        )
        for i in range(1, n_iter + 1):
            ctes.append(
                f"""a{s}_{i} AS (SELECT a.vec_id, a.v, c.cluster, {d2} AS d
                      FROM v{s} a CROSS JOIN c{s}_{i - 1} c
                      QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                                 ORDER BY d ASC, c.cluster ASC) = 1)"""
            )
            ctes.append(
                f"""e{s}_{i} AS (SELECT cluster, v,
                             CAST(unnest(range(1, {dsub} + 1)) AS INT) AS dim
                      FROM a{s}_{i})"""
            )
            ctes.append(
                f"""u{s}_{i} AS (SELECT cluster,
                             list(CAST(t AS DOUBLE) / CAST(n * {scale} AS BIGINT)
                                  ORDER BY dim) AS cv
                      FROM (SELECT cluster, dim,
                                   sum(CAST(floor(v[dim] * {scale} + 0.5) AS BIGINT)) AS t,
                                   count(*) AS n
                            FROM e{s}_{i} GROUP BY cluster, dim)
                      GROUP BY cluster)"""
            )
            ctes.append(
                f"""c{s}_{i} AS (SELECT c.cluster, coalesce(u.cv, c.cv) AS cv
                      FROM c{s}_{i - 1} c LEFT JOIN u{s}_{i} u USING (cluster))"""
            )
        ctes.append(
            f"""af{s} AS (SELECT a.vec_id, c.cluster, {d2} AS d
                  FROM v{s} a CROSS JOIN c{s}_{n_iter} c
                  QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                             ORDER BY d ASC, c.cluster ASC) = 1)"""
        )
        fins.append(f"SELECT vec_id, {s} AS s, cluster, d FROM af{s}")
    return ctes, fins


def _sql_pq(m: int = 8, k: int = 16, n_iter: int = 2, dim: int = 64, scale: int = 1_000_000) -> str:
    ctes, fins = _pq_chain_ctes(m, k, n_iter, dim, scale)
    ctes.append("uu AS (" + "\nUNION ALL\n".join(fins) + ")")
    return (
        "WITH " + ",\n".join(ctes) + """
        SELECT vec_id,
               to_json(list(cluster ORDER BY s)) AS codes,
               round(sum(d ORDER BY s), 6) AS recon_err
        FROM uu GROUP BY vec_id
    """
    )


def _q_ann_pq(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    return llm.ann_pq(emb, "vec_id", "embedding", queries_df, "vec_id", m=8, k=16, n_iter=2, topk=5)


def _sql_ann_pq(m: int = 8, k: int = 16, n_iter: int = 2, topk: int = 5, dim: int = 64, scale: int = 1_000_000) -> str:
    """ADC search over the same PQ chains: per-query distance tables
    against the final codebooks, code join, subspace-ordered fold."""
    dsub = dim // m
    ctes, _fins = _pq_chain_ctes(m, k, n_iter, dim, scale)
    pair_sels = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        qd = (
            "round(list_sum([(q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
            " * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
            f" for i in range(1, {dsub} + 1)]), 6)"
        )
        ctes.append(
            f"""qv{s} AS (SELECT vec_id AS qid, (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS qv
                  FROM embeddings WHERE vec_id < 5)"""
        )
        ctes.append(
            f"""tb{s} AS (SELECT q.qid, c.cluster, {qd} AS qd
                  FROM qv{s} q CROSS JOIN c{s}_{n_iter} c)"""
        )
        pair_sels.append(
            f"SELECT t.qid, a.vec_id, {s} AS s, t.qd FROM af{s} a JOIN tb{s} t ON t.cluster = a.cluster"
        )
    ctes.append("pp AS (" + "\nUNION ALL\n".join(pair_sels) + ")")
    ctes.append(
        """ad AS (SELECT qid, vec_id, round(sum(qd ORDER BY s), 6) AS adist
              FROM pp GROUP BY qid, vec_id)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT qid AS q_id, vec_id, adist FROM ad
        QUALIFY row_number() OVER (PARTITION BY qid
                                   ORDER BY adist ASC, vec_id ASC) <= {topk}
    """
    )


def _q_quantize_emb(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return llm.quantize_embeddings(emb, "vec_id", "embedding")


def _q_oversample(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    return llm.oversample(docs, "doc_id", "source", {"src1": 2.5, "src2": 0.25})


def _q_perplexity_buckets(spark, sf):
    docs = load_table(spark, sf, "documents")
    out = llm.perplexity_buckets(docs, "doc_id", "text", "lang", n_buckets=3)
    return out.select(
        "doc_id", "lang", "avg_bigram_lp", F.col("bucket").cast("long").alias("bucket"), "band"
    )


def _q_strip_html(spark, sf):
    # deterministically HTML-ify the corpus, then strip: proves tag
    # removal, entity decode order, and whitespace squeeze end-to-end
    docs = load_table(spark, sf, "documents")
    html = F.concat(
        F.lit('<div class="doc"><p>'),
        F.col("text"),
        F.lit("</p><br/>&nbsp;tail &amp;amp; &lt;b&gt;bold&lt;/b&gt;</div>"),
    )
    return docs.select("doc_id", fn.strip_html(html).alias("text_clean"))


def _q_trim_dup_spans(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.trim_duplicate_spans(docs, "doc_id", "text", n=5, min_docs=2)


def _q_dedup_keep_best(spark, sf):
    # representative selection: same LSH fixture as dedup_near, but the
    # survivor is the LONGEST cluster member (length(text) desc), so the
    # synthetic "+ zzz extra" dupes win over their originals — proving
    # the op differs from dedup_minhash's keep-smallest-id
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    both = docs.unionByName(dupes)
    pairs = llm.minhash_lsh_pairs(
        both, "doc_id", "text", num_perm=16, bands=4, shingle_n=5,
        jaccard_threshold=0.8,
    )
    out = llm.dedup_keep_best(both, "doc_id", pairs, score=F.length("text"))
    return out.select("doc_id", F.col("cluster").cast("long").alias("cluster"))


def _q_shuffle_order(spark, sf):
    ev = load_table(spark, sf, "events").select("event_id")
    return llm.shuffle_order(ev, "event_id", salt="shuf").select(
        "event_id", "shuffle_pos"
    )


def _q_stratified_topn(spark, sf):
    ev = load_table(spark, sf, "events").select("event_id", "event_type")
    return llm.stratified_topn(ev, "event_id", "event_type", n_per_stratum=50)


def _q_priority_sample(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return llm.priority_sample(
        docs, "doc_id", "n_chars", k=5, group_col="lang", salt="prio"
    )


def _q_script_mix(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (100001, "Привет мир 2024!"),
            (100002, "汉字漢字 mixed latin"),
            (100003, "مرحبا بالعالم"),
            (100004, None),
        ],
        "doc_id long, text string",
    )
    return llm.script_mix(docs.unionByName(extra), "doc_id", "text")


def _q_pareto_front(spark, sf):
    from backend_spark.features import pareto_front

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice", "l_discount"
    )
    return pareto_front(
        li,
        {"l_extendedprice": "max", "l_discount": "min"},
        group_col="l_returnflag",
    )


def _q_tfidf_cosine(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.lit("prefix words "), F.col("text")).alias("text"),
    )
    return llm.tfidf_cosine_pairs(
        docs.unionByName(dupes), "doc_id", "text", threshold=0.6
    )


def _q_cross_dup_spans(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    boiler = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" subscribe to our newsletter for updates and offers"),
        ).alias("text"),
    )
    return llm.cross_dup_spans(
        docs.unionByName(boiler), "doc_id", "text", span_len=40, stride=10, min_docs=3
    )


def _q_chunk_text(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.chunk_text(docs, "doc_id", "text", chunk_tokens=32, overlap=8, min_tokens=4)


def _q_decay_agg(spark, sf):
    from backend_spark.features import decay_agg

    ev = load_table(spark, sf, "events")
    ev = ev.select(event_ts_us(ev).alias("ts_us"), "user_id", "value")
    # halflife = 7 days of epoch-microseconds
    return decay_agg(ev, "user_id", "ts_us", "value", halflife=7 * 86400e6).select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_events",
        "decayed_sum",
        "decayed_weight",
    )


def _q_target_encode(spark, sf):
    from backend_spark.features import target_encode

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return target_encode(cust, "c_mktsegment", "c_acctbal", smoothing=10.0)


def _q_orc_roundtrip(spark, sf):
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    path = tempfile.mkdtemp(prefix="sg_orc_") + "/data"
    write_dataset(cust, path, fmt="orc")
    return read_dataset(spark, path, fmt="orc")


def _q_simhash(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.simhash_buckets(docs, "doc_id", "text", bits=60)


def _q_fingerprint(spark, sf):
    docs = load_table(spark, sf, "documents")
    out = llm.doc_fingerprint(docs, "doc_id", "text", k=5, window=4)
    return out.withColumn("fp", F.to_json("fp"))


def _q_ann(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return llm.ann_topk_bruteforce(emb, emb.where(F.col("vec_id") < 5), k=5)


def _q_ann_zero(spark, sf):
    """Zero-norm-vector robustness variant of ann_topk (round-14, for the
    fn.cosine_similarity try_divide fix): vec_id 3's embedding is zeroed,
    so every cosine involving it is NULL — the zero-vector query returns
    k NULL-cosine rows ordered by neighbor_id (desc sort places NULLs
    last), and legal-but-degenerate input no longer ANSI-crashes.

    The zeroing ignores the element value — F.lit(0.0), not x*0 — to
    exactly mirror the oracle's unconditional CAST(0 AS FLOAT): x*0 is
    NaN/NULL-preserving, and Spark sorts NaN FIRST under cosine DESC
    where the oracle's NULL sorts last, a latent cross-engine mismatch
    if the testdata ever gained a NaN element (round-14 advice)."""
    emb = load_table(spark, sf, "embeddings").withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.transform("embedding", lambda x: F.lit(0.0).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    return llm.ann_topk_bruteforce(emb, emb.where(F.col("vec_id") < 5), k=5)


def _q_ann_ivf_index(spark, sf):
    # persisted-index path: build once (cell-partitioned parquet), then
    # search loads cells+centroids and skips the fit.  Exhaustive probe
    # -> identical to the exact brute-force oracle
    emb = load_table(spark, sf, "embeddings")
    path = tempfile.mkdtemp(prefix="sg_ivf_") + "/index"
    llm.build_ivf_index(emb, path, n_centroids=8)
    return llm.ann_topk_ivf(
        None, emb.where(F.col("vec_id") < 5), k=5, n_probe=8, index_path=path
    )


def _q_vocab(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.build_vocab(docs, "doc_id", "text", min_df=2, top_k=40)


def _q_bpe_pairs(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.bpe_pair_counts(docs, "doc_id", "text", min_count=2, top_k=40)


def _q_percentile_gate(spark, sf):
    docs = load_table(spark, sf, "documents")
    # spread the text scan ahead of the tokenize-count (round 15:
    # 1.36 -> 0.71 s; the per-group percentile passes then read a
    # parallel frame too; no-op on well-split layouts)
    scored = spread_scan(docs.select("doc_id", "lang", "text")).select(
        "doc_id",
        "lang",
        F.size(fn.tokenize(fn.normalize(F.col("text")))).alias("n_tokens"),
    )
    return llm.percentile_filter(scored, "n_tokens", "lang", q=0.5)


def _q_range_join(spark, sf):
    from backend_spark.operators import range_join

    cust = load_table(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    iv = (
        cust.groupBy("c_nationkey")
        .agg(F.min("c_acctbal").alias("lo"))
        .withColumn("hi", F.col("lo") + F.lit(2000.0))
        .select(F.col("c_nationkey").alias("iv_nation"), "lo", "hi")
    )
    return range_join(
        cust.select("c_custkey", "c_acctbal"), iv, "c_acctbal", "lo", "hi",
        bin_width=500.0,
    )


def _q_pivot(spark, sf):
    from backend_spark.operators import op_pivot

    li = load_table(spark, sf, "lineitem")
    # explicit values: skips the distinct-collection pre-pass (the 100 TB mode)
    out = op_pivot(li, "l_returnflag", "l_linestatus", "l_quantity",
                   agg="sum", values=["F", "O"])
    return out.select(
        "l_returnflag",
        F.round("F", 2).alias("qty_f"),
        F.round("O", 2).alias("qty_o"),
    )


def _q_melt(spark, sf):
    from backend_spark.operators import op_melt

    cust = load_table(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_acctbal"),
        F.col("c_nationkey").cast("double").alias("c_nationkey"),
    )
    return op_melt(cust, ["c_custkey"], ["c_acctbal", "c_nationkey"])


def _q_rollup(spark, sf):
    from backend_spark.operators import rollup_agg

    li = load_table(spark, sf, "lineitem")
    out = rollup_agg(li, ["l_returnflag", "l_linestatus"],
                     {"l_quantity": "sum", "l_orderkey": "count"})
    return out.select(
        "l_returnflag", "l_linestatus",
        F.round("l_quantity_sum", 2).alias("sum_qty"),
        F.col("l_orderkey_count").alias("n_rows"),
        "gid",
    )


def _q_dq_check(spark, sf):
    """Deequ-style quality report over customer; the min/in_set rules
    are deliberately violated by the data (negative balances, a
    4-of-5 segment allow-list) so nonzero violation counts are
    exercised."""
    from backend_spark.quality import dq_check

    cust = load_table(spark, sf, "customer")
    return dq_check(cust, [
        {"col": "c_custkey", "check": "unique"},
        {"col": "c_name", "check": "not_null"},
        {"col": "c_acctbal", "check": "min", "value": 0.0},
        {"col": "c_acctbal", "check": "max", "value": 10000.0},
        {"col": "c_mktsegment", "check": "in_set",
         "values": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]},
        {"col": "c_name", "check": "regex", "pattern": "^Customer#[0-9]+$"},
    ])


def _q_temperature_sample(spark, sf):
    """Flatten the skewed per-language mixture (en dominates the
    synthetic corpus) at alpha=0.5."""
    docs = load_table(spark, sf, "documents")
    out = llm.temperature_sample(docs, "lang", "doc_id", alpha=0.5)
    return out.select("doc_id", "lang", "sample_rate")


def _q_cube(spark, sf):
    from backend_spark.operators import rollup_agg

    li = load_table(spark, sf, "lineitem")
    out = rollup_agg(li, ["l_returnflag", "l_linestatus"],
                     {"l_quantity": "sum", "l_orderkey": "count"}, cube=True)
    return out.select(
        "l_returnflag", "l_linestatus",
        F.round("l_quantity_sum", 2).alias("sum_qty"),
        F.col("l_orderkey_count").alias("n_rows"),
        "gid",
    )


def _q_window_funcs(spark, sf):
    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", event_ts_us(ev).alias("ts_us"), "user_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id", "user_id", "ts_us",
        F.row_number().over(w).alias("rn"),
        F.round(F.sum("value").over(wrun), 2).alias("run_value"),
        F.lag("ts_us").over(w).alias("prev_ts"),
        F.lead("ts_us").over(w).alias("next_ts"),
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )


def _q_resample(spark, sf):
    from backend_spark.features import resample_gapfill

    ev = load_table(spark, sf, "events")
    ev = ev.select("user_id", event_ts_us(ev).alias("ts_us"), "value")
    # daily buckets in epoch-microseconds
    return resample_gapfill(ev, "user_id", "ts_us", 86_400_000_000, value_col="value")


def _q_funnel(spark, sf):
    from backend_spark.features import funnel

    ev = load_table(spark, sf, "events")
    ev = ev.select("user_id", event_ts_us(ev).alias("ts_us"), "event_type")
    return funnel(ev, "user_id", "ts_us", "event_type", ["click", "view", "purchase"])


def _q_quantile_bins(spark, sf):
    from backend_spark.features import quantile_bins

    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "lang",
        F.size(fn.tokenize(fn.normalize(F.col("text")))).alias("n_tokens"),
    )
    return quantile_bins(scored, "n_tokens", 4, group_col="lang")


def _q_zscore(spark, sf):
    from backend_spark.features import zscore

    ev = load_table(spark, sf, "events").select("event_id", "event_type", "value")
    return zscore(ev, "value", group_col="event_type")


def _q_profile(spark, sf):
    from backend_spark.profile import profile

    # exact=True (countDistinct) so the stats are bit-reproducible for
    # the oracle; the default approx (HLL++) path is the 100 TB mode
    return profile(load_table(spark, sf, "customer"), exact=True)


def _q_compact_latest(spark, sf):
    from backend_spark.operators import compact_latest

    ev = load_table(spark, sf, "events")
    ev = ev.select(
        "event_id",
        event_ts_us(ev).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return compact_latest(ev, "user_id", "ts_us", tiebreak_col="event_id")


def _q_char_entropy(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.char_entropy(docs, "doc_id", "text")


def _q_collocations(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.collocations(docs, "doc_id", "text", min_count=30)


def _q_dedup_incremental(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    # the "previous snapshot" store: signatures of the first fifth
    store = docs.where(F.col("doc_id") < 100).select(
        fn.md5_long(fn.normalize(F.col("text"))).alias("sig")
    )
    return llm.dedup_incremental(docs, store, "text")


def _q_unigram_lp(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.unigram_logprob(docs, "doc_id", "text")


def _q_tfidf(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.tfidf_topk_terms(docs, "doc_id", "text", k=3, min_df=2)


def _q_bm25(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.bm25_topk(
        docs.where(F.col("doc_id") < 5), docs, query_id="doc_id", doc_id="doc_id", k=5
    )


def _q_ngram_jaccard(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    return llm.ngram_jaccard_pairs(
        docs.unionByName(dupes), "doc_id", "text", shingle_n=5, threshold=0.8
    )


def _q_embed_neardup(spark, sf):
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dupes = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5 + 0.01).alias("embedding"),
    )
    # n_planes=0 = exact quadratic mode, kept ONLY as the oracle
    # baseline; the production default is the banded path (below)
    return llm.embed_cosine_pairs(
        emb.unionByName(dupes), "vec_id", "embedding", threshold=0.9, n_planes=0
    )


def _q_embed_banded(spark, sf):
    """The production (default) banded-LSH near-dup path on the same
    doubled corpus as embed_neardup — bucket assignment is md5-exact so
    the DuckDB oracle reproduces candidates AND verified cosines."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dupes = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5 + 0.01).alias("embedding"),
    )
    return llm.embed_cosine_pairs(
        emb.unionByName(dupes), "vec_id", "embedding", threshold=0.9
    )


def _q_ann_ivf(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    # n_probe = n_centroids -> exhaustive, so the exact brute-force
    # oracle applies; production sets n_probe << n_centroids
    return llm.ann_topk_ivf(
        emb, emb.where(F.col("vec_id") < 5), k=5, n_centroids=8, n_probe=8
    )


def _q_ann_lsh(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return llm.ann_topk_lsh(
        emb, emb.where(F.col("vec_id") < 5), k=5, n_planes=6, dim=64
    )


def _q_multimodal(spark, sf):
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("media"),
        F.lit("image").alias("media_type"),
    )
    out = llm.decode_image_features(docs, "media")
    return out.select("doc_id", "media_type", "feat_len", "feat_w", "feat_h")


def _q_simhash_neardup(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    return llm.simhash_neardup_pairs(
        docs.unionByName(dupes), "doc_id", "text", bits=60, max_hamming=8
    )


def _q_audio_features(spark, sf):
    # Invariant the md5-stub oracle relies on: the payloads here are
    # UTF-8 text, which can never parse as RIFF/WAVE (a valid WAV starts
    # with b"RIFF"..b"WAVE" and these documents don't), so every row
    # takes the deterministic stub tier — never the real PCM decoder.
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("media")
    )
    out = llm.extract_audio_features(docs, "media")
    return out.select("doc_id", "audio_bytes", "rms", "zcr")


def _q_video_frames(spark, sf):
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("media")
    )
    out = llm.sample_video_frames(docs, "media", "doc_id", n_frames=4)
    return out.select("doc_id", "frame_idx", "frame_bytes")


def _q_text_stats(spark, sf):
    docs = spread_scan(
        load_table(spark, sf, "documents").select("doc_id", "text"), by="doc_id"
    )
    return docs.select("doc_id", *llm.text_stats(docs, "text"))


def _q_language_id(spark, sf):
    docs = load_table(spark, sf, "documents")
    return (
        docs.select("doc_id", fn.normalize(F.col("text")).alias("__n"))
        .withColumn("__toks", fn.tokenize(F.col("__n")))
        .select("doc_id", llm.language_id_from_tokens(F.col("__toks")).alias("lang_guess"))
    )


def _q_token_count(spark, sf):
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", llm.token_count_bpe(F.col("text")).alias("n_bpe"))


def _q_pii_scan(spark, sf):
    # synthesize PII into every third document so the counts and the
    # redaction path are exercised on non-zero rows (the synthetic corpus
    # itself contains none); same CASE in the oracle
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ip 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 ssn 123-45-6789 tel 555-123-4567"),
            ),
        ).otherwise(F.col("text")),
    )
    return llm.pii_scan(docs, "doc_id", "text")


def _q_decontaminate(spark, sf):
    # benchmark = every 20th document, so those docs (and any doc sharing
    # a 5-gram with them through the tiny synthetic vocabulary) flag
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0).select("text")
    return llm.decontaminate(docs, "doc_id", "text", bench, n=5)


def _q_repetition(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.repetition_stats(docs, "doc_id", "text", ngram_n=2)


def _q_dedup_lines(spark, sf):
    # the corpus has no newlines, so "lines" are 8-word chunks of the
    # normalized text; every 5th doc gains a boilerplate line that
    # line-dedup must strip everywhere but its owner (min doc_id = 0)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", fn.tokenize(fn.normalize(F.col("text"))).alias("__toks")
    ).transform(stage, eager=False)
    n = F.size("__toks")
    chunks = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), ((n + 7) / F.lit(8)).cast("int") - 1),
            lambda i: F.array_join(F.slice("__toks", i * 8 + 1, 8), " "),
        )
    )
    lined = toks.withColumn("lines", chunks).withColumn(
        "lines",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("lines"), F.array(F.lit("subscribe to our newsletter now"))),
        ).otherwise(F.col("lines")),
    ).transform(stage, eager=False)
    return llm.dedup_lines(lined, "doc_id", "lines", min_df=2)


def _q_sample(spark, sf):
    # stratified deterministic sample: 30% of views, 5% of everything
    # else — reproducible because the keep decision is a pure hash
    ev = load_table(spark, sf, "events").select("event_id", "event_type")
    return llm.deterministic_sample(
        ev, "event_id", rate=0.05, strata_col="event_type", strata_rates={"view": 0.3}
    )


def _q_pack(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sized = docs.select(
        "doc_id", F.size(fn.tokenize(F.col("text"))).alias("n_toks")
    )
    return llm.pack_sequences(sized, "doc_id", "n_toks", budget=512, shards=8)


def _q_stream_pack(spark, sf):
    # single-availableNow-batch drain reproduces the batch packer
    # bit-for-bit (same shard hash, same in-shard id order), so this
    # shares pack_sequences' exact oracle — a stateful streaming op
    # with a full hash oracle, not just a rows-only check
    from backend_spark import streaming

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sized = docs.select("doc_id", F.size(fn.tokenize(F.col("text"))).alias("n_tokens"))
    path = tempfile.mkdtemp(prefix="sg_spack_") + "/sized"
    sized.write.parquet(path)
    sdf = streaming.read_stream(spark, path)
    out = streaming.pack_stream(sdf, "doc_id", "n_tokens", budget=512, shards=8)
    _STREAM_N[0] += 1
    name = f"sg_spack_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_spack_ck_"))
    return spark.sql(f"SELECT doc_id, n_tokens, shard, start_offset, bin_id FROM {name}")


def _q_quality_filter(spark, sf):
    # thresholds tuned so every rule discriminates on the synthetic
    # corpus (words 10-99 median 56, mean word len ~4.5, stop hits
    # median ~2) — keep is a genuine mix of true/false
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return llm.quality_filter(
        docs,
        "doc_id",
        "text",
        min_words=30,
        max_words=90,
        min_mean_word_len=4.5,
        max_mean_word_len=8.0,
        min_stopword_hits=3,
        max_dup_ngram_frac=0.5,
    )


def _q_asof_join(spark, sf):
    from backend_spark.operators import asof_join

    # last view before each purchase per user — the point-in-time
    # feature-join shape.  Both sides truncate ns -> us BEFORE the join
    # so the comparison precision matches DuckDB's native ASOF JOIN
    # (which reads the parquet nanos as microsecond timestamps).
    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("ts_us", event_ts_us(ev))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts_us", "value")
    out = asof_join(purchases, views, on="user_id", left_ts="ts_us", right_ts="ts_us")
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "asof_ts_us",
        F.round("asof_value", 2).alias("asof_value"),
    )


def _q_sessionize(spark, sf):
    from backend_spark import streaming

    # batch execution of the streaming construct: F.session_window merges
    # events whose gap-extended windows overlap, INCLUDING a gap of
    # exactly 8h (pinned by test_batch_sessionize_exact_gap_merges)
    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(event_ts_us(ev)))
    out = streaming.sessionize(ev, "ts", "user_id", gap="8 hours")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
        "n_events",
    )


def _q_win_agg(spark, sf):
    ev = load_table(spark, sf, "events")
    # event_ts_us handles whichever physical type the round's parquet
    # carries (nanos-as-long or micros timestamp) with exact integer math.
    ev = ev.withColumn("ts", F.timestamp_micros(event_ts_us(ev)))
    out = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return out


def _q_sql_direct(spark, sf):
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


def _q_fwf_roundtrip(spark, sf):
    cust = load_table(spark, sf, "customer")
    widths = [("c_custkey", 8), ("c_name", 20), ("c_mktsegment", 12)]
    path = tempfile.mkdtemp(prefix="sg_fwf_") + "/data"
    write_dataset(cust.select(*[w[0] for w in widths]), path, fmt="fwf", fwf_widths=widths)
    return read_dataset(spark, path, fmt="fwf", fwf_widths=widths)


def _q_csv_roundtrip(spark, sf):
    cust = load_table(spark, sf, "customer")
    df = cust.select(
        F.col("c_custkey").cast("string").alias("c_custkey"),
        F.when(F.col("c_mktsegment") == "MACHINERY", None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    path = tempfile.mkdtemp(prefix="sg_csv_") + "/data"
    write_dataset(df, path, fmt="csv", null_as_empty=True)
    return read_dataset(spark, path, fmt="csv", empty_as_null=True, all_strings=True)


def _q_scoring(spark, sf):
    cust = load_table(spark, sf, "customer")
    pair = cust.select(
        "c_custkey",
        F.col("c_name").alias("a"),
        F.regexp_replace("c_name", "0", "O").alias("b"),
    )
    return pair.select(
        "c_custkey",
        fn.levenshtein_norm(F.col("a"), F.col("b")).alias("score_lv"),
        F.round(fn.jw(F.col("a"), F.col("b")), 4).alias("score_jw"),
    )


_RECIPE_YAML = """
recipes:
  cust_enrich:
    steps:
      - map:
          seg_norm: c_mktsegment
      - normalize:
          select: seg_norm
      - join:
          dataset: nation
          strict:
            c_nationkey: n_nationkey
          select:
            nation_name: n_name
      - keep:
          select: "^(c_custkey|seg_norm|nation_name)$"
          where: "c_acctbal > 1000"
"""


def _q_recipe(spark, sf):
    from backend_spark.plans import RecipeBook, load_conf

    book = RecipeBook(
        load_conf(_RECIPE_YAML),
        datasets={"nation": load_table(spark, sf, "nation")},
        spark=spark,
    )
    return book.compile("cust_enrich")(load_table(spark, sf, "customer"))


_CORPUS_CLEAN_YAML = """
recipes:
  corpus_clean:
    steps:
      - quality:
          min_words: 30
          max_words: 90
          min_mean_word_len: 4.5
          max_mean_word_len: 8.0
          min_stopword_hits: 3
          max_dup_ngram_frac: 0.5
      - dedup:
          method: exact
      - pii:
          redact: true
"""


def _q_corpus_clean(spark, sf):
    # the full declarative hygiene pipeline end-to-end: quality gate ->
    # exact dedup (exact copies injected below must collapse to their
    # owner) -> PII redaction, compiled by RecipeBook into one plan
    from backend_spark.plans import RecipeBook, load_conf

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    book = RecipeBook(load_conf(_CORPUS_CLEAN_YAML), spark=spark)
    return book.compile("corpus_clean")(docs.unionByName(dupes))


_STREAM_N = [0]


def _q_stream_win(spark, sf):
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(event_ts_us(ev)))
    path = tempfile.mkdtemp(prefix="sg_stream_") + "/events"
    ev.write.parquet(path)
    sdf = streaming.read_stream(spark, path)
    agg = streaming.windowed_agg(
        sdf, "ts", window="1 hour", watermark="2 hours",
        group_by=["event_type"], aggs={"value": "sum", "*": "count"},
    )
    _STREAM_N[0] += 1
    name = f"sg_winagg_{_STREAM_N[0]}"
    streaming.run_to_memory(agg, name, output_mode="complete")
    return spark.sql(
        f"""
        SELECT date_format(window_start, 'yyyy-MM-dd HH:mm:ss') AS window_start,
               event_type, round(value_sum, 2) AS value_sum, rows_count
        FROM {name}
        """
    )


def _q_stream_sessionize(spark, sf):
    # the real streaming path (readStream -> session_window -> sink) in
    # complete mode over a bounded source must equal the batch
    # gaps-and-islands result exactly -> shares the sessionize oracle
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(event_ts_us(ev)))
    path = tempfile.mkdtemp(prefix="sg_ssess_") + "/events"
    ev.select("ts", "user_id").write.parquet(path)
    sdf = streaming.read_stream(spark, path)
    out = streaming.sessionize(sdf, "ts", "user_id", gap="8 hours", watermark="1 hour")
    _STREAM_N[0] += 1
    name = f"sg_ssess_{_STREAM_N[0]}"
    streaming.run_to_memory(
        out, name, output_mode="complete",
        checkpoint=tempfile.mkdtemp(prefix="sg_ssess_ck_"),
    )
    return spark.sql(
        f"""
        SELECT user_id,
               date_format(session_start, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS session_start,
               date_format(session_end, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS session_end,
               n_events
        FROM {name}
        """
    )


def _q_stream_join(spark, sf):
    # stream-stream inner join (click -> purchase within 1h, per user):
    # availableNow over a bounded source processes one micro-batch, so
    # the result equals the batch interval join -> exact SQL oracle
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(event_ts_us(ev)))
    path = tempfile.mkdtemp(prefix="sg_sjoin_") + "/events"
    ev.select("ts", "user_id", "event_type", "event_id").write.parquet(path)
    clicks = (
        streaming.read_stream(spark, path)
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))
    )
    purchases = (
        streaming.read_stream(spark, path)
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purch_ts"), F.col("event_id").alias("purch_id"))
    )
    out = streaming.join_streams(
        clicks, purchases, ["user_id"], "click_ts", "purch_ts",
        watermark="10 days",
        range_cond="purch_ts >= click_ts AND purch_ts <= click_ts + INTERVAL 1 HOUR",
    )
    _STREAM_N[0] += 1
    name = f"sg_sjoin_{_STREAM_N[0]}"
    streaming.run_to_memory(
        out, name, checkpoint=tempfile.mkdtemp(prefix="sg_sjoin_ck_")
    )
    return spark.sql(
        f"""
        SELECT user_id, click_id, purch_id,
               unix_micros(click_ts) AS click_us, unix_micros(purch_ts) AS purch_us
        FROM {name}
        """
    )


def _q_geo_join(spark, sf):
    from backend_spark.operators.joins import geo_join

    # deterministic synthetic coordinates: suppliers are planted ~7 km
    # from their anchor customer (key*15), so a 25 km radius matches
    cust = load_table(spark, sf, "customer").select(
        "c_custkey",
        (F.lit(-60.0) + (F.col("c_custkey") % 120) * 0.937).alias("lat"),
        (F.lit(-170.0) + ((F.col("c_custkey") * 7) % 340) * 0.991).alias("lon"),
    )
    supp = load_table(spark, sf, "supplier").select(
        "s_suppkey",
        (F.lit(-60.0) + ((F.col("s_suppkey") * 15) % 120) * 0.937 + 0.05).alias("lat"),
        (F.lit(-170.0) + (((F.col("s_suppkey") * 15) * 7) % 340) * 0.991 + 0.05).alias("lon"),
    )
    return geo_join(cust, supp, 25.0, "c_custkey", "s_suppkey")


def _q_ngram_novelty(spark, sf):
    # duplicate the corpus at shifted ids: originals keep their novelty,
    # every clone scores 0 — both regimes exercised
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    clones = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    return llm.ngram_novelty(docs.unionByName(clones), "doc_id", "text", n=5)


def _q_split_corpus(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id")
    return llm.split_corpus(docs, "doc_id")


def _q_cms(spark, sf):
    docs = load_table(spark, sf, "documents").select("text")
    sketch = llm.count_min_sketch(docs, "text", width=1024, depth=3)
    return llm.cms_query(
        sketch, ["table", "spark", "value", "zzz"], width=1024, depth=3
    )


def _q_training_shards(spark, sf):
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="sg_shards_") + "/out"
    return llm.write_training_shards(docs, path, "doc_id", n_shards=8)


def _q_snapshot_diff(spark, sf):
    from backend_spark.quality import snapshot_diff

    base = load_table(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    modified = base.where(F.col("c_custkey") % 97 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    added = base.where(F.col("c_custkey") % 31 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_name", "c_acctbal"
    )
    return snapshot_diff(base, modified.unionByName(added), "c_custkey")


def _q_retention(spark, sf):
    from backend_spark.features import retention_cohorts

    ev = load_table(spark, sf, "events")
    ev = ev.select("user_id", event_ts_us(ev).alias("ts_us"))
    return retention_cohorts(ev, "user_id", "ts_us")


def _q_histogram(spark, sf):
    from backend_spark.features import histogram

    li = load_table(spark, sf, "lineitem")
    return histogram(li, "l_extendedprice", bins=12)


def _q_k_anonymity(spark, sf):
    from backend_spark.quality import k_anonymity

    cust = load_table(spark, sf, "customer")
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment"], k=5, sensitive_col="c_acctbal", l_div=3
    )


def _q_mmr(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qvec = F.array(*[F.lit(float(x)) for x in q])
    scored = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    ).withColumn("rel", F.round(fn.cosine_similarity(F.col("v"), qvec), 6))
    cand = scored.orderBy(F.col("rel").desc(), F.col("vec_id").asc()).limit(20)
    return llm.mmr_rerank(cand, "vec_id", "rel", "v", k=8, lam=0.7)


def _sql_mmr(k: int = 8, lam: float = 0.7, top_n: int = 20) -> str:
    """Unrolled MMR rounds over the top-N-by-relevance candidates —
    identical rounded score/sim arithmetic and tie rules (note the
    1-λ literal is the Python double, matching the Spark side)."""
    lam_r, one_m = repr(lam), repr(1.0 - lam)
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM v WHERE vec_id = 0)",
        """rel AS (SELECT vec_id, v.v AS v,
                          round(list_cosine_similarity(v.v, q.qv), 6) AS rel
                   FROM v CROSS JOIN q)""",
        f"""c0 AS MATERIALIZED (SELECT vec_id, v, rel, CAST(0.0 AS DOUBLE) AS ms
              FROM rel ORDER BY rel DESC, vec_id ASC LIMIT {top_n})""",
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""s{r} AS (SELECT vec_id, v,
                               round({lam_r} * rel - {one_m} * ms, 6) AS sc
                  FROM c{r - 1} ORDER BY sc DESC, vec_id ASC LIMIT 1)"""
        )
        if r < k:
            ctes.append(
                f"""c{r} AS MATERIALIZED (
                      SELECT c.vec_id, c.v, c.rel,
                             greatest(c.ms,
                                 round(list_cosine_similarity(c.v, s.v), 6)) AS ms
                      FROM c{r - 1} c CROSS JOIN s{r} s
                      WHERE c.vec_id != s.vec_id)"""
            )
    sels = [
        f"SELECT vec_id, CAST({r} AS BIGINT) AS sel_rank, sc AS mmr_score FROM s{r}"
        for r in range(1, k + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


def _q_soundex(spark, sf):
    part = load_table(spark, sf, "part")
    w1 = F.split(F.col("p_name"), " ").getItem(0)
    w2 = F.split(F.col("p_name"), " ").getItem(1)
    return part.select(
        "p_partkey", fn.soundex(w1).alias("sx1"), fn.soundex(w2).alias("sx2")
    )


def _sql_soundex_expr(col: str) -> str:
    """Mirror of fn.soundex: identical regexp chain, 'g' flags (DuckDB
    regexp_replace is first-match by default, Spark's is global)."""
    s = f"lower(regexp_replace({col}, '[^A-Za-z]', '', 'g'))"
    x = f"substr({s}, 1, 1) || regexp_replace(substr({s}, 2), '[hw]', '', 'g')"
    for pat, d in fn._SOUNDEX_CODES:
        x = f"regexp_replace({x}, '{pat}', '{d}', 'g')"
    for d in "0123456":
        x = f"regexp_replace({x}, '{d}{{2,}}', '{d}', 'g')"
    rest = f"regexp_replace(substr({x}, 2), '0', '', 'g')"
    out = f"rpad(upper(substr({s}, 1, 1)) || substr({rest}, 1, 3), 4, '0')"
    return f"CASE WHEN length({s}) = 0 THEN '' ELSE {out} END"


def _sql_refined_soundex_expr(col: str) -> str:
    """Mirror of fn.refined_soundex: identical regexp chain."""
    s = f"lower(regexp_replace({col}, '[^A-Za-z]', '', 'g'))"
    x = s
    for pat, d in fn._REFINED_SOUNDEX_CODES:
        x = f"regexp_replace({x}, '{pat}', '{d}', 'g')"
    for d in "0123456789":
        x = f"regexp_replace({x}, '{d}{{2,}}', '{d}', 'g')"
    out = f"upper(substr({s}, 1, 1)) || {x}"
    return f"CASE WHEN length({s}) = 0 THEN '' ELSE {out} END"


def _q_threshold_sweep(spark, sf):
    """PR table over a deterministic label-correlated score — one
    explode + map-side-combined count pass, hash-exact ratios."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    y = (F.col("l_returnflag") == "R").cast("double")
    h = fn.md5_long(
        F.concat(F.lit("cal:"), F.col("l_orderkey").cast("string"),
                 F.lit(":"), F.col("l_linenumber").cast("string"))
    )
    s = (F.pmod(h, F.lit(700)) / F.lit(1000.0)) + y * F.lit(0.3)
    scored = li.select(s.alias("score"), y.alias("y"))
    return ml.threshold_sweep(scored, "score", "y", [0.1, 0.3, 0.5, 0.7, 0.9])


def _q_calibration_bins(spark, sf):
    """Reliability-diagram table over the same deterministic score —
    exact quantized mean per fixed-width bin."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    y = (F.col("l_returnflag") == "R").cast("double")
    h = fn.md5_long(
        F.concat(F.lit("cal:"), F.col("l_orderkey").cast("string"),
                 F.lit(":"), F.col("l_linenumber").cast("string"))
    )
    s = (F.pmod(h, F.lit(700)) / F.lit(1000.0)) + y * F.lit(0.3)
    scored = li.select(s.alias("score"), y.alias("y"))
    return ml.calibration_bins(scored, "score", "y", n_bins=10)


def _def_cal_score(li):
    y = (F.col("l_returnflag") == "R").cast("double")
    h = fn.md5_long(
        F.concat(F.lit("cal:"), F.col("l_orderkey").cast("string"),
                 F.lit(":"), F.col("l_linenumber").cast("string"))
    )
    s = (F.pmod(h, F.lit(700)) / F.lit(1000.0)) + y * F.lit(0.3)
    return s, y


def _q_auc(spark, sf):
    """Exact tie-aware Mann-Whitney ROC-AUC from integer rank sums —
    the distinct-score table bounds the one ordered window."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    s, y = _def_cal_score(li)
    return ml.auc_score(li.select(s.alias("score"), y.alias("y")), "score", "y")


def _q_psi(spark, sf):
    """Score-drift PSI between the full corpus score distribution and
    the non-returned subset (the +0.3 mass removed — visible drift)."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    s, y = _def_cal_score(li)
    expected = li.select(s.alias("score"))
    actual = li.where(F.col("l_returnflag") != "R").select(s.alias("score"))
    return ml.psi(expected, actual, "score", n_bins=10)


def _q_refined_soundex(spark, sf):
    """Refined Soundex (commons-codec variant) over the distinct corpus
    vocabulary — the fine-grained third phonetic blocking key."""
    docs = load_table(spark, sf, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
    )
    return words.select("w", fn.refined_soundex(F.col("w")).alias("rs"))


def _q_xml_roundtrip(spark, sf):
    """Native Spark-4 XML source round-trip (no spark-xml jar): write
    customer rows as <rows><row>...</row></rows>, read them back."""
    cust = load_table(spark, sf, "customer")
    df = cust.select("c_custkey", "c_name", "c_acctbal")
    path = tempfile.mkdtemp(prefix="sg_xml_") + "/data"
    write_dataset(df, path, fmt="xml")
    return read_dataset(spark, path, fmt="xml")


def _q_hll_distinct(spark, sf):
    from backend_spark.scale import hll_distinct

    orders = load_table(spark, sf, "orders")
    return hll_distinct(
        orders, "o_custkey", group_cols=["o_orderpriority"], p=8
    ).select("o_orderpriority", "n_registers", "distinct_est")


def _sql_hll_distinct(p: int = 8) -> str:
    """Same registers bit-for-bit: 60-bit md5 split into bucket/rank,
    max-merge, fixed-bucket-order harmonic fold, LinearCounting."""
    m = 1 << p
    w = 60 - p
    alpha_mm = (0.7213 / (1.0 + 1.079 / m)) * m * m
    h = _SQL_H.format(x="CAST(o_custkey AS VARCHAR)")
    return f"""
        WITH x AS (SELECT o_orderpriority AS k, {h} AS h FROM orders),
        r AS (SELECT k, h % {m} AS b,
                     CASE WHEN h // {m} = 0 THEN {w + 1}
                          ELSE {w + 1} - length(bin(h // {m})) END AS rk
              FROM x),
        regs AS (SELECT k, b, max(rk) AS mx FROM r GROUP BY k, b),
        agg AS (SELECT k, count(*) AS nb,
                       sum(1.0 / (CAST(1 AS BIGINT) << mx) ORDER BY b) AS s
                FROM regs GROUP BY k),
        f AS (SELECT k, nb, {alpha_mm!r} / (CAST({m} - nb AS DOUBLE) + s) AS e_raw,
                     {m} - nb AS v
              FROM agg)
        SELECT k AS o_orderpriority, CAST(nb AS BIGINT) AS n_registers,
               round(CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
                          THEN {float(m)!r} * ln({float(m)!r} / v)
                          ELSE e_raw END, 2) AS distinct_est
        FROM f
    """


def _q_robust_scale(spark, sf):
    from backend_spark.features import robust_scale

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return robust_scale(li, "l_extendedprice", group_col="l_returnflag").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_extendedprice_rs").alias("price_rs"),
    )


def _q_rolling_agg(spark, sf):
    from backend_spark.features import rolling_agg

    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", "user_id", event_ts_us(ev).alias("ts_us"), "value")
    return rolling_agg(ev, "user_id", "ts_us", "value", 3_600_000_000).select(
        "event_id", "user_id", "ts_us", "roll_cnt", "roll_sum", "roll_avg"
    )


def _q_containment(spark, sf):
    # quotes = 80-char prefixes of the first 100 docs: near-subsets of
    # their source (containment ~1) that symmetric Jaccard never flags
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    quotes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    return llm.containment_pairs(
        docs.unionByName(quotes), "doc_id", "text", shingle_n=5, threshold=0.9
    )


def _q_winsorize(spark, sf):
    from backend_spark.features import winsorize

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return winsorize(
        li, "l_extendedprice", lower=0.05, upper=0.95, group_col="l_returnflag"
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_extendedprice_w", 6).alias("price_w"),
    )


def _q_classifier_eval(spark, sf):
    from backend_spark.ml import classifier_eval

    from backend_spark.scale import spread_scan

    docs = load_table(spark, sf, "documents")
    # language_id's tokenize + per-language stopword folds run in the
    # scan stage: spread the single-row-group input (guide §2.5)
    scored = spread_scan(docs.select("doc_id", "lang", "text"), by="doc_id").select(
        F.col("lang"), llm.language_id(F.col("text")).alias("pred")
    )
    return classifier_eval(scored, "lang", "pred")


def _q_stream_enrich(spark, sf):
    # stream-static broadcast join: event stream enriched with the
    # customer dimension (availableNow single batch == batch join)
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    path = tempfile.mkdtemp(prefix="sg_senr_") + "/events"
    ev.select("event_id", "user_id", "event_type", "value").write.parquet(path)
    stream = streaming.read_stream(spark, path)
    dim = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    out = streaming.enrich_stream(stream, dim, "user_id", how="left")
    _STREAM_N[0] += 1
    name = f"sg_senr_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_senr_ck_"))
    return spark.sql(
        f"""
        SELECT event_id, user_id, event_type, value, c_mktsegment, c_nationkey
        FROM {name}
        """
    )


def _q_stream_compact(spark, sf):
    # streaming CDC compaction: complete-mode max_by aggregate over the
    # bounded event log == batch compact_latest -> shares its oracle
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.select(
        "event_id",
        event_ts_us(ev).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    path = tempfile.mkdtemp(prefix="sg_scompact_") + "/events"
    ev.write.parquet(path)
    sdf = spark.readStream.schema(ev.schema).parquet(path)
    payload = [c for c in ev.columns if c != "user_id"]
    agg = sdf.groupBy("user_id").agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload]),
            F.struct(F.col("ts_us"), F.col("event_id")),
        ).alias("__row")
    )
    out = agg.select("user_id", *[F.col("__row")[c].alias(c) for c in payload])
    _STREAM_N[0] += 1
    name = f"sg_scompact_{_STREAM_N[0]}"
    streaming.run_to_memory(
        out, name, output_mode="complete",
        checkpoint=tempfile.mkdtemp(prefix="sg_scompact_ck_"),
    )
    return spark.sql(
        f"SELECT event_id, ts_us, user_id, event_type, value, props FROM {name}"
    )


def _q_stream_dedup(spark, sf):
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(event_ts_us(ev)))
    path = tempfile.mkdtemp(prefix="sg_sdedup_") + "/events"
    ev.select("ts", "user_id", "event_type").write.parquet(path)
    sdf = streaming.read_stream(spark, path)
    out = streaming.dedup_stream(sdf, ["user_id", "event_type"], "ts", watermark="10 days")
    _STREAM_N[0] += 1
    name = f"sg_sdedup_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_sdedup_ck_"))
    # project to the key columns: which event survives per key is
    # arrival-order-dependent, the key set is deterministic
    return spark.sql(f"SELECT DISTINCT user_id, event_type FROM {name}")


def _q_row_ids(spark, sf):
    from backend_spark import scale

    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", event_ts_us(ev).alias("ts_us"))
    return scale.assign_row_ids(ev, ["ts_us", "event_id"])


def _q_salted_agg(spark, sf):
    from backend_spark import scale

    li = load_table(spark, sf, "lineitem")
    out = scale.salted_agg(
        li, ["l_returnflag"], {"l_quantity": "sum", "l_orderkey": "count"}, salt=16
    )
    return out.select(
        "l_returnflag",
        F.round("l_quantity_sum", 2).alias("sum_qty"),
        F.col("l_orderkey_count").alias("n_rows"),
    )


def _q_build_model(spark, sf):
    from backend_spark import ml

    cust = load_table(spark, sf, "customer")
    df = cust.withColumn("y", (F.col("c_acctbal") > 5000).cast("double"))
    scored = ml.build_model(
        df, numerical=r"^c_acctbal$", target="y", tries=1, num_trees=10, max_depth=5
    )
    return scored.select("c_custkey", "matchid_hit_score_ml")


def _q_model_features(spark, sf):
    from backend_spark import ml

    cust = load_table(spark, sf, "customer")
    return ml.model_features(
        cust, numerical=r"^c_acctbal$", categorical=["c_mktsegment"], id_col="c_custkey"
    )


def _q_apply_model(spark, sf):
    """Persistence round-trip: train + save, then load + score through
    the reference's production path (apply_model, code/recipes.py:1833-
    1898).  Scores are engine-specific (rows-only oracle) but the row
    count and schema pin the load path end-to-end."""
    from backend_spark import ml

    cust = load_table(spark, sf, "customer")
    df = cust.withColumn("y", (F.col("c_acctbal") > 5000).cast("double"))
    path = tempfile.mkdtemp(prefix="sg_model_") + "/rf"
    ml.build_model(
        df, numerical=r"^c_acctbal$", target="y", tries=1, num_trees=10, max_depth=5,
        model_path=path,
    ).count()  # materialize training before the load below
    scored = ml.apply_model(cust, model_path=path, target="score_ml")
    return scored.select("c_custkey", "score_ml")


def _q_semdedup(spark, sf):
    """SemDeDup over the doubled embeddings corpus (same construction as
    embed_neardup: +10000 ids carry scaled copies, guaranteed in-cluster
    near-dups at cosine ~1)."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dupes = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5 + 0.01).alias("embedding"),
    )
    return llm.semdedup(
        emb.unionByName(dupes), "vec_id", "embedding", n_clusters=8, threshold=0.95
    )


def _q_decontaminate_fuzzy(spark, sf):
    """Cross-corpus MinHash contamination pairs: the 'benchmark' is every
    20th doc with two junk tokens appended (near- but not exact-dup, the
    case exact-ngram decontaminate can miss at small n)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 50000).alias("bench_id"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
    )
    return llm.crosscorpus_neardup(
        docs, bench, "doc_id", "text", "bench_id", "text", jaccard_threshold=0.5
    )


def _q_nb_classify(spark, sf):
    """Train the deterministic Naive Bayes classifier on (source, text)
    and score the same corpus — the fastText-style quality/domain
    classifier role, end-to-end hash-checkable."""
    docs = load_table(spark, sf, "documents")
    model = llm.nb_train(docs, "source", "text")
    return llm.nb_score(docs, model, "doc_id", "text")


def _q_dup_ngrams(spark, sf):
    docs = load_table(spark, sf, "documents")
    return llm.dup_ngram_fraction(docs, "doc_id", "text", n=5)


def _q_interval_join(spark, sf):
    """Interval-overlap join (view windows × purchase windows per user)
    through the first-common-bin blocked equi-join — no BNLJ, no
    distinct; overlap extent stays in exact integer microseconds."""
    from backend_spark.operators import interval_join

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    views = ev.where(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.col("us").alias("lo"),
        (F.col("us") + (F.lit(1800) + (F.col("event_id") % 7) * 600) * F.lit(1000000)).alias("hi"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"),
        "user_id",
        F.col("us").alias("lo"),
        (F.col("us") + F.lit(900000000)).alias("hi"),
    )
    out = interval_join(
        views, buys, "lo", "hi", "lo", "hi", bin_width=3.6e9, on="user_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("iv_rid").alias("rid"),
        (F.least("hi", F.col("iv_hi")) - F.greatest("lo", F.col("iv_lo"))).alias("overlap_us"),
    )


def _q_scd2(spark, sf):
    """SCD2 history of each user's event_type over time: runs collapse,
    half-open validity, NULL-closed current rows (quality.scd2_build)."""
    from backend_spark.quality import scd2_build

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    out = scd2_build(
        ev.select("user_id", "event_type", "us"), "user_id", "event_type", "us"
    )
    return out.select("user_id", "event_type", "valid_from", "valid_to", "is_current")


def _q_er_golden(spark, sf):
    """Entity resolution end-stage: 3-member chain clusters per customer
    (base + two deterministic variants, pairs only chain-adjacent so the
    transitive closure is exercised), then survivorship golden records
    (first/mode/max)."""
    from backend_spark.operators import er_resolve

    cust = load_table(spark, sf, "customer")
    base = cust.select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    v1 = cust.select(
        (F.col("c_custkey") + 1000000).alias("rid"),
        F.upper("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal") + 10).alias("bal"),
    )
    v2 = cust.select(
        (F.col("c_custkey") + 2000000).alias("rid"),
        F.lower("c_name").alias("name"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("DUPSEG"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        (F.col("c_acctbal") - 5).alias("bal"),
    )
    recs = base.unionByName(v1).unionByName(v2)
    pairs = cust.select(
        F.col("c_custkey").alias("left_id"),
        (F.col("c_custkey") + 1000000).alias("right_id"),
    ).unionByName(
        cust.select(
            (F.col("c_custkey") + 1000000).alias("left_id"),
            (F.col("c_custkey") + 2000000).alias("right_id"),
        )
    )
    out = er_resolve(recs, pairs, "rid", {"name": "first", "seg": "mode", "bal": "max"})
    return out.select("entity_id", "n_members", "name", "seg", "bal")


def _q_caverphone(spark, sf):
    """Caverphone 2.0 + Soundex blocking keys over the distinct corpus
    vocabulary — both phonetic chains reproduce on RE2 via the shared
    rule tables."""
    docs = load_table(spark, sf, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
    )
    return words.select(
        "w",
        fn.caverphone(F.col("w")).alias("cav"),
        fn.soundex(F.col("w")).alias("sdx"),
    )


def _sql_caverphone_expr(col: str) -> str:
    """Mirror of fn.caverphone: the SAME CAVERPHONE_RULES table folded
    into RE2 regexp_replace(..., 'g') calls."""
    s = f"lower(regexp_replace({col}, '[^A-Za-z]', '', 'g'))"
    x = s
    for pat, rep in fn.CAVERPHONE_RULES:
        x = f"regexp_replace({x}, '{pat}', '{rep}', 'g')"
    out = f"substr({x} || '1111111111', 1, 10)"
    return f"CASE WHEN length({s}) = 0 THEN '' ELSE {out} END"


def _q_ridge_train(spark, sf):
    """Closed-form ridge (quantized exact Gram sums + pinned Cramer
    solve) on lineitem price vs (quantity, discount) — the hash-exact
    deterministic learner closing VERDICT r8's build_model gap."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    return ml.ridge_train(li, ["l_quantity", "l_discount"], "l_extendedprice")


def _q_ridge_score(spark, sf):
    """Train-then-score with the ROUNDED ridge weights — the full
    train→score path hash-checked end to end."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    out = ml.ridge_score(li, ["l_quantity", "l_discount"], "l_extendedprice")
    return out.select("l_orderkey", "l_linenumber", "pred", "resid")


def _q_ridge_apply(spark, sf):
    """Persist the trained ridge weights to parquet, reload, score —
    the hash-exact train→save→load→apply loop (the linear counterpart
    of the reference's joblib persistence, code/recipes.py:1833-1898)."""
    from backend_spark import ml

    li = load_table(spark, sf, "lineitem")
    w = ml.ridge_train(li, ["l_quantity", "l_discount"], "l_extendedprice")
    path = tempfile.mkdtemp(prefix="sg_ridge_") + "/model"
    w.write.parquet(path)
    out = ml.ridge_apply(li, path, ["l_quantity", "l_discount"])
    return out.select("l_orderkey", "l_linenumber", "pred")


def _q_url_normalize(spark, sf):
    """URL canonicalization over synthesized tracking-noise URLs built
    from customer rows: userinfo stripping, default-port drop (443 on
    https), empty-path '/', tracking-param drop + binary param sort,
    fragment removal, and schemeless garbage passthrough."""
    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    url = F.when(k % 7 == 0, F.lit("not a url")).otherwise(
        F.concat(
            F.lit("HTTPS://"),
            F.when(k % 2 == 0, F.lit("user:pw@")).otherwise(F.lit("")),
            F.lit("WWW.Example"),
            (k % 50).cast("string"),
            F.lit(".com"),
            F.when(k % 3 == 0, F.lit(":443")).otherwise(F.lit(":8080")),
            F.when(k % 5 == 0, F.lit("")).otherwise(
                F.concat(F.lit("/p/"), F.lower("c_mktsegment"))
            ),
            F.lit("?utm_source=x&b=2&a=1&fbclid=zz"),
            F.when(k % 11 == 0, F.lit("&ref=aa&z=9")).otherwise(F.lit("")),
            F.lit("#frag"),
        )
    )
    out = llm.url_normalize(cust.select("c_custkey", url.alias("url")), "url")
    return out.select(
        "c_custkey", "url_scheme", "url_host", "url_port", "url_path",
        "url_query", "url_norm",
    )


def _q_fill_forward(spark, sf):
    """LOCF gap repair: null out 'view' values then forward-fill per
    user over (ts, event_id) — one shared window partitioning."""
    from backend_spark.features import fill_forward

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    sparse = ev.select(
        "event_id", "user_id", "us",
        F.when(F.col("event_type") != "view", F.col("value")).alias("value"),
    )
    out = fill_forward(sparse, "user_id", ["us", "event_id"], "value")
    return out.select("event_id", "user_id", F.round("value", 2).alias("value_filled"))


def _q_transition_counts(spark, sf):
    """First-order Markov transitions of event_type per user with
    conditional probabilities — |states|^2-row aggregate output."""
    from backend_spark.features import transition_counts

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    return transition_counts(ev, "user_id", ["us", "event_id"], "event_type")


def _q_feature_hash(spark, sf):
    """Hashing-trick featurizer: md5_long-bucketed token counts in
    sparse triplet form, no vocabulary pass."""
    from backend_spark.features import feature_hash

    docs = load_table(spark, sf, "documents")
    return feature_hash(docs, "doc_id", "text", n_buckets=256)


def _q_readability(spark, sf):
    """Flesch reading-ease per document — three regexp_count columns in
    one codegen span, shuffle-free."""
    docs = load_table(spark, sf, "documents")
    return llm.readability(docs, "doc_id", "text")


def _q_cdf_normalize(spark, sf):
    """Per-group rank CDF transform of price within returnflag — one
    keyed window shuffle, tie-stable percent_rank."""
    from backend_spark.features import cdf_normalize

    li = load_table(spark, sf, "lineitem")
    out = cdf_normalize(li, "l_returnflag", "l_extendedprice")
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice_cdf")


def _q_mad_outliers(spark, sf):
    """Median-absolute-deviation outlier flags on price per returnflag —
    two tiny percentile aggregates broadcast back, rounded boundary."""
    from backend_spark.features import mad_outliers

    # project before the op (round 15): its spread exchange and both
    # percentile passes then carry only the 4 columns the result reads
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    out = mad_outliers(li, "l_returnflag", "l_extendedprice", k=3.0)
    return out.select("l_orderkey", "l_linenumber", "dev", "mad", "is_outlier")


def _q_sentence_split(spark, sf):
    """RE2-safe sentence segmentation with stable ordinals + word
    counts — a pure split/posexplode projection."""
    docs = load_table(spark, sf, "documents")
    return llm.sentence_split(docs, "doc_id", "text")


def _q_source_overlap(spark, sf):
    """Cross-source 3-gram containment matrix — gram source-sets are
    bounded by |sources|, so no gram-keyed self-join runs."""
    docs = load_table(spark, sf, "documents")
    return llm.source_overlap(docs, "doc_id", "text", "source", n=3)


def _q_extract_links(spark, sf):
    """Outlink (href) extraction from synthesized crawl HTML — double-,
    single-, and un-quoted attribute forms, positions kept; pure
    regexp projection."""
    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    html = F.concat(
        F.lit('<a href="HTTPS://Example'), (k % 50).cast("string"),
        F.lit('.com/p?utm_source=x&a=1">x</a> <a href=\'/rel/'),
        (k % 10).cast("string"), F.lit("'>y</a>"),
        F.when(k % 3 == 0,
               F.concat(F.lit(" <a href=bare"), (k % 5).cast("string"), F.lit(">z</a>"))
               ).otherwise(F.lit("")),
    )
    return llm.extract_links(
        cust.select("c_custkey", html.alias("html")), "c_custkey", "html"
    )


def _q_er_pipeline(spark, sf):
    """Flagship end-to-end ER chain, every stage hash-verified: candidate
    pairs (true links + deterministic decoys) → pair_features (lev_norm
    on normalized name, abs_diff on balance) → closed-form ridge link
    classifier trained IN the pipeline on those features → threshold →
    transitive closure → survivorship golden records.  The reference's
    matching workflow (block → score → validate → resolve) as one
    declarative Spark plan with a full DuckDB oracle, including the
    learned weights."""
    from backend_spark import ml
    from backend_spark.operators import er_resolve, pair_features

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    # round-16: keep max(c_custkey) IN-PLAN (1-row broadcast cross
    # join) instead of collecting it at build time — same value, same
    # decoy ids, one driver action + its planning gap removed from
    # every rebuild (guide §1.4; the oracle computes the max as a
    # scalar subquery the same way)
    mx1 = cust.agg(F.max("c_custkey").alias("__mm"))
    base = cust.select(
        k.alias("rid"), F.col("c_name").alias("name"),
        F.lower("c_name").alias("nname"), F.col("c_acctbal").alias("bal"),
    )
    v1 = cust.select(
        (k + 1000000).alias("rid"), F.upper("c_name").alias("name"),
        F.lower("c_name").alias("nname"), (F.col("c_acctbal") + k % 7).alias("bal"),
    )
    recs = base.unionByName(v1)
    cand = cust.select(
        k.alias("left_id"), (k + 1000000).alias("right_id")
    ).unionByName(
        cust.crossJoin(F.broadcast(mx1)).select(
            k.alias("left_id"),
            (F.lit(1000000) + (k % F.col("__mm")) + 1).alias("right_id"),
        )
    )
    feats = pair_features(recs, cand, "rid", {"nname": "lev_norm", "bal": "abs_diff"})
    lab = feats.withColumn(
        "y", (F.col("right_id") == F.col("left_id") + 1000000).cast("double")
    )
    # stage the feature matrix: ridge_score walks it twice (the training
    # aggregate, then scoring) and the jw/join pipeline is the expensive
    # part — a lineage cut halves the query (~18s -> ~11s at sf0.1)
    lab = lab.transform(stage, eager=False)
    scored = ml.ridge_score(lab, ["f_nname_lev_norm", "f_bal_abs_diff"], "y")
    acc = scored.where(F.col("pred") >= 0.5).select("left_id", "right_id")
    out = er_resolve(
        recs.select("rid", "name", "bal"), acc, "rid", {"name": "first", "bal": "max"}
    )
    return out.select(
        "entity_id", "n_members", "name", F.round("bal", 2).alias("bal")
    )


def _q_interpolate(spark, sf):
    """Per-user linear interpolation of nulled 'view' gaps — four
    running series over ONE window partitioning, no extrapolation."""
    from backend_spark.features import interpolate_linear

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    sparse = ev.select(
        "event_id", "user_id", "us",
        F.when(F.col("event_type") != "view", F.col("value")).alias("v"),
    )
    out = interpolate_linear(sparse, "user_id", "us", "v", tiebreak_col="event_id")
    return out.select("event_id", "user_id", F.col("v_interp"))


def _q_stream_locf(spark, sf):
    """Stateful streaming LOCF: one availableNow drain reproduces batch
    fill_forward bit-for-bit, so it shares that exact oracle."""
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    sparse = ev.select(
        "event_id", "user_id", "us",
        F.when(F.col("event_type") != "view", F.col("value")).alias("value"),
    )
    path = tempfile.mkdtemp(prefix="sg_locf_") + "/sparse"
    sparse.write.parquet(path)
    sdf = streaming.read_stream(spark, path)
    out = streaming.locf_stream(sdf, "user_id", "us", "value", tiebreak_col="event_id")
    _STREAM_N[0] += 1
    name = f"sg_locf_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_locf_ck_"))
    return spark.sql(
        f"SELECT event_id, user_id, round(value, 2) AS value_filled FROM {name}"
    )


def _q_pair_features(spark, sf):
    """ER matching features over candidate pairs (base customer vs
    deterministic variant): lev_norm + jw on name, null-safe exact on
    segment, abs_diff on balance — two keyed joins + projections."""
    from backend_spark.operators import pair_features

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    base = cust.select(
        k.alias("rid"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"), F.col("c_acctbal").alias("bal"),
    )
    v1 = cust.select(
        (k + 1000000).alias("rid"), F.upper("c_name").alias("name"),
        F.when(k % 4 == 0, F.lit("XSEG")).otherwise(F.col("c_mktsegment")).alias("seg"),
        (F.col("c_acctbal") + (k % 7)).alias("bal"),
    )
    recs = base.unionByName(v1)
    pairs = cust.select(k.alias("left_id"), (k + 1000000).alias("right_id"))
    return pair_features(
        recs, pairs, "rid",
        {"name": ["lev_norm", "jw"], "seg": "exact", "bal": "abs_diff"},
    )


def _q_blocking_eval(spark, sf):
    """Blocking-quality one-row report (pair completeness + reduction
    ratio) over orientation-mixed candidate/gold pair sets."""
    from backend_spark.operators import blocking_eval

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    cand = cust.where(k % 2 == 0).select(
        k.alias("left_id"), (k + 1000000).alias("right_id")
    ).unionByName(
        cust.where(k % 5 == 0).select(
            k.alias("left_id"), (k + 1000001).alias("right_id")
        )
    )
    gold = cust.select((k + 1000000).alias("left_id"), k.alias("right_id"))
    n = cust.count()
    return blocking_eval(cand, gold, total_pairs=n * n)


def _q_budget_select(spark, sf):
    """Per-source token-budget greedy selection (priority DESC, id ASC,
    strict budget) — one keyed window cumsum, no per-group collect."""
    docs = load_table(spark, sf, "documents")
    docs = docs.withColumn("prio", (F.col("doc_id") % 100).cast("long"))
    out = llm.budget_select(docs, "source", "n_chars", 5000, "prio", "doc_id")
    return out.select("doc_id", "source", "n_chars", "cum_size")


def _q_group_centroid(spark, sf):
    """Hash-exact per-label mean embeddings via quantized BIGINT
    component sums — one map-side-combined aggregate.  The centroid
    array is re-exploded to scalar (label, dim, value) rows so the
    driver hash checks every component exactly (array<double> JSON
    reprs differ across engines for exponent-form values)."""
    emb = load_table(spark, sf, "embeddings")
    out = llm.group_centroid(emb, "label", "embedding")
    return out.select(
        "label", "n_vecs", F.posexplode("centroid").alias("dim", "c")
    )


def _q_cidr_filter(spark, sf):
    """IPv4 blocklist matching via exact-integer CIDR ranges through
    range_join's binned equi-join (no ip x cidr nested loop); synthetic
    addresses include malformed octets and overlapping CIDR blocks."""
    from backend_spark.quality import cidr_filter

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    ip = F.concat_ws(
        ".",
        (F.lit(10) + k % 3).cast("string"),
        (k % 300).cast("string"),
        (F.expr("c_custkey div 7") % 256).cast("string"),
        (k % 250).cast("string"),
    )
    ips = cust.select("c_custkey", ip.alias("ip"))
    cidrs = spark.createDataFrame(
        [("10.0.0.0/8",), ("10.128.0.0/9",), ("11.0.0.0/10",),
         ("11.192.0.0/10",), ("12.0.0.0/24",), ("99.0.0.0/33",)],
        "cidr string",
    )
    return cidr_filter(ips, "ip", cidrs)


def _q_sssp(spark, sf):
    """Multi-source BFS hop distance on the ring+chord graph — the
    frontier loop is exact minima, mirrored by a recursive-CTE oracle
    (hop-bounded walk + MIN per node)."""
    from backend_spark.operators.graph import shortest_paths

    return shortest_paths(_ring_chord_edges(spark, sf), [0, 12]).select(
        F.col("node").cast("long").alias("node"),
        F.col("dist").cast("long").alias("dist"),
    )


def _q_sorted_neighborhood(spark, sf):
    """Sorted-neighborhood blocking over customer balances: global rank
    WITHOUT a single-partition sort (assign_row_ids) + bucketed rank
    equi-join; oracle is the textbook row_number self-join."""
    from backend_spark.operators.er import sorted_neighborhood

    cust = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    return sorted_neighborhood(cust, "c_custkey", ["c_acctbal"], window=4).select(
        F.col("left_id").cast("long").alias("left_id"),
        F.col("right_id").cast("long").alias("right_id"),
        F.col("rank_dist").cast("long").alias("rank_dist"),
    )


def _q_boilerplate(spark, sf):
    """Per-source boilerplate report: lead tokens standing in for
    header lines (the synthetic corpus has no newlines); document-
    frequency share per source, one keyed agg + broadcast totals."""
    docs = load_table(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    lines = F.array(F.get(toks, 0), F.get(toks, 1), F.get(toks, 2))
    return llm.boilerplate_lines(
        docs.select("doc_id", "source", lines.alias("lines")),
        "doc_id", "source", "lines", min_share=0.2, min_docs=2,
    ).select(
        "source", "line",
        F.col("doc_freq").cast("long").alias("doc_freq"),
        F.col("group_docs").cast("long").alias("group_docs"),
        "share",
    )


def _q_standardize(spark, sf):
    """Contact standardization (phone → country-coded digit string,
    email → canonical exact-match key) over synthesized messy inputs —
    four phone formats (+CC spaced, national dotted, 00-international,
    parenthesized) and three email forms (angle-bracketed, MAILTO:,
    mixed-case); pure Column regexp chains."""
    from backend_spark import functions as fn

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    phone = (
        F.when(k % 4 == 0, F.concat(F.lit("+33 (6) "), (k % 90 + 10).cast("string"),
                                    F.lit("-"), (k % 9000 + 1000).cast("string")))
        .when(k % 4 == 1, F.concat(F.lit("06."), (k % 90 + 10).cast("string"),
                                   F.lit("."), (k % 90 + 10).cast("string"),
                                   F.lit("."), (k % 9000 + 1000).cast("string")))
        .when(k % 4 == 2, F.concat(F.lit("0033 1 "), (k % 9000 + 1000).cast("string")))
        .otherwise(F.concat(F.lit("612"), (k % 1000000).cast("string")))
    )
    email = (
        F.when(k % 3 == 0, F.concat(F.lit(" <User"), k.cast("string"),
                                    F.lit("@Example.COM> ")))
        .when(k % 3 == 1, F.concat(F.lit("MAILTO:a"), k.cast("string"), F.lit("@b.fr")))
        .otherwise(F.concat(F.lit("plain"), k.cast("string"), F.lit("@c.org")))
    )
    return cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        fn.phone_digits(phone).alias("phone_std"),
        fn.email_norm(email).alias("email_std"),
    )


def _q_oov_rate(spark, sf):
    """Per-document OOV share against the corpus's own top-40 vocabulary
    (min_df=2) — broadcast membership join + ONE per-doc aggregate."""
    docs = load_table(spark, sf, "documents")
    vocab = llm.build_vocab(docs, "doc_id", "text", min_df=2, top_k=40)
    return llm.oov_rate(docs, vocab, "doc_id", "text").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        "oov_rate",
    )


def _q_negative_edges(spark, sf):
    """Deterministic link-prediction negative sampling on the ring+
    chord graph — md5-indexed proposals, anti-join against real edges,
    first-k by proposal index."""
    from backend_spark.operators.graph import negative_edges

    return negative_edges(_ring_chord_edges(spark, sf), k=2, oversample=4).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("neg_rank").cast("int").alias("neg_rank"),
    )


def _q_geohash(spark, sf):
    """Geohash blocking keys over the geo_join synthetic coordinates at
    two precisions — Morton magic-mask interleave + base32 via ONE
    conv/translate, fully inside codegen (no per-char expression
    copies); boundary rows (poles/antimeridian) exercised by the grid's
    extremes."""
    cust = load_table(spark, sf, "customer").select(
        "c_custkey",
        (F.lit(-60.0) + (F.col("c_custkey") % 120) * 0.937).alias("lat"),
        (F.lit(-170.0) + ((F.col("c_custkey") * 7) % 340) * 0.991).alias("lon"),
    )
    return cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        fn.geohash(F.col("lat"), F.col("lon"), 5).alias("gh5"),
        fn.geohash(F.col("lat"), F.col("lon"), 9).alias("gh9"),
    )


def _er_inc_scored(spark, sf):
    """Shared incremental-matching stage for er_incremental /
    review_queue: perturbed incoming records, suffix-4 blocked
    candidates, levenshtein_norm scores.  Returns (inc, scored)."""
    cust = load_table(spark, sf, "customer").select(
        "c_custkey", F.lower(F.col("c_name")).alias("name")
    )
    inc = (
        cust.where(F.col("c_custkey") % 7 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("rec_id"),
            F.when(
                F.col("c_custkey") % 3 == 0,
                F.concat(F.lit("zz"), F.substring("name", 1, 9), F.substring("name", 11, 1000)),
            ).otherwise(
                F.concat(F.substring("name", 1, 9), F.substring("name", 11, 1000))
            ).alias("name"),
        )
    )
    idx = cust.select(
        F.col("c_custkey").alias("entity_id"),
        F.col("name").alias("idx_name"),
        F.substring("name", -4, 4).alias("blk"),
    )
    cand = inc.withColumn("blk", F.substring("name", -4, 4)).join(idx, "blk")
    scored = cand.withColumn(
        "score", fn.levenshtein_norm(F.col("name"), F.col("idx_name"))
    )
    return inc, scored


def _q_er_incremental(spark, sf):
    """The reference's production loop (match incoming records against
    the existing person index, code/recipes.py ES-join recipes) as one
    deterministic match-else-create pass: incoming = name-perturbed
    customer records (one-char deletion; every third also gets a decoy
    prefix that scores below threshold), blocked on the discriminative
    name suffix (exact equi-join — the synthetic names' shared prefix
    makes gram blocking degenerate; blocking_eval is the tool that
    would catch that in a real deployment), scored with the reference's
    levenshtein_norm, matched at >= 0.92 to the index entity, else
    assigned a fresh entity id.  Output: (rec_id, name, entity_id,
    match_score NULL when created, is_new)."""
    inc, scored = _er_inc_scored(spark, sf)
    w = Window.partitionBy("rec_id").orderBy(F.desc("score"), "entity_id")
    best = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("score") >= 0.92))
        .select("rec_id", F.col("entity_id").alias("__hit"), F.col("score").alias("match_score"))
    )
    return (
        inc.join(best, "rec_id", "left")
        .select(
            F.col("rec_id").cast("long").alias("rec_id"),
            "name",
            F.coalesce(F.col("__hit"), F.col("rec_id")).cast("long").alias("entity_id"),
            "match_score",
            F.col("__hit").isNull().alias("is_new"),
        )
    )


def _q_review_queue(spark, sf):
    """The validation-UI feed (the reference's core human-in-the-loop
    surface, code/api.py validation endpoints): candidate pairs whose
    best score lands in the clerical gray zone [0.80, 0.92) — too good
    to discard, not good enough for er_incremental's auto-match —
    ranked per record.  Same blocked+scored stage, one filter + one
    per-record window."""
    _, scored = _er_inc_scored(spark, sf)
    w = Window.partitionBy("rec_id").orderBy(F.desc("score"), "entity_id")
    return (
        scored.withColumn("cand_rank", F.row_number().over(w))
        .where((F.col("score") >= 0.80) & (F.col("score") < 0.92))
        .select(
            F.col("rec_id").cast("long").alias("rec_id"),
            "name",
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("idx_name"),
            "score",
            F.col("cand_rank").cast("int").alias("cand_rank"),
        )
    )


def _q_rolling_anomaly(spark, sf):
    """Batch running-stats anomaly flags over the event log — ONE
    (key, order) window partitioning for all three DECIMAL running
    sums; shares stream_anomaly's oracle shape."""
    from backend_spark.features import rolling_anomaly

    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", event_ts_us(ev).alias("ts_us"), "user_id", "value")
    return rolling_anomaly(ev, "user_id", ["ts_us", "event_id"], "value").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts_us").cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        "value", "n_prior", "is_anomaly",
    )


def _q_stream_anomaly(spark, sf):
    # stateful exact-integer running-stats gate: one availableNow batch
    # over the bounded log == the batch cumulative-window form (oracle)
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", event_ts_us(ev).alias("ts_us"), "user_id", "value")
    path = tempfile.mkdtemp(prefix="sg_sanom_") + "/events"
    ev.write.parquet(path)
    sdf = spark.readStream.schema(ev.schema).parquet(path)
    out = streaming.anomaly_stream(
        sdf, "user_id", "ts_us", "value", k=3, scale=100, tiebreak_col="event_id"
    )
    _STREAM_N[0] += 1
    name = f"sg_sanom_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_sanom_ck_"))
    return spark.sql(
        f"SELECT user_id, ts_us, event_id, value, n_prior, is_anomaly FROM {name}"
    )


def _q_stream_topk(spark, sf):
    # exact streaming heavy-hitter counts drained in ONE availableNow
    # batch; final rank = latest total per key (batch epilogue)
    from backend_spark import streaming

    ev = load_table(spark, sf, "events").select("event_type", "user_id")
    path = tempfile.mkdtemp(prefix="sg_stopk_") + "/events"
    ev.write.parquet(path)
    sdf = spark.readStream.schema(ev.schema).parquet(path)
    out = streaming.topk_stream(sdf, "event_type", "user_id")
    _STREAM_N[0] += 1
    name = f"sg_stopk_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_stopk_ck_"))
    return spark.sql(
        f"""
        WITH latest AS (SELECT event_type, user_id, max(total) AS total
                        FROM {name} GROUP BY event_type, user_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY total DESC, user_id ASC) AS rn
              FROM latest)
        SELECT event_type, user_id, total, CAST(rn AS INT) AS rank
        FROM r WHERE rn <= 3
        """
    )


def _fs_pairs(spark, sf):
    """Shared labeled-pair fixture for the Fellegi-Sunter queries:
    deterministic agreement indicators whose rates differ by label
    (matches agree more often), all pure functions of c_custkey."""
    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    y = (k % 2 == 0).cast("int")
    return cust.select(
        k.alias("left_id"),
        (k + 1000000).alias("right_id"),
        y.alias("y"),
        F.when(y == 1, (k % 10 < 8).cast("int"))
        .otherwise((k % 10 < 3).cast("int"))
        .alias("ag_name"),
        F.when(y == 1, (k % 7 < 5).cast("int"))
        .otherwise((k % 7 < 2).cast("int"))
        .alias("ag_city"),
        # deliberately nullable: NULL counts as disagreement
        F.when(k % 11 == 0, F.lit(None).cast("int"))
        .when(y == 1, (k % 5 < 4).cast("int"))
        .otherwise((k % 5 < 1).cast("int"))
        .alias("ag_phone"),
    )


def _q_cusum(spark, sf):
    """Two-sided CUSUM drift statistic per user over the event log —
    cumulative-sum + running-min windows on ONE (key, order)
    partitioning; exact BIGINT arithmetic, float only at descale."""
    from backend_spark.features import cusum

    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", event_ts_us(ev).alias("ts_us"), "user_id", "value")
    out = cusum(ev, "user_id", ["ts_us", "event_id"], "value", target=50.0, k=5.0, h=100.0)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts_us").cast("long").alias("ts_us"),
        F.col("event_id").cast("long").alias("event_id"),
        "value", "cusum_hi", "cusum_lo", "cusum_alarm",
    )


def _q_isotonic(spark, sf):
    """PAV calibration via the minimax identity over a synthetic
    monotone-rate score: exact integer bin counts, suffix-min window +
    max aggregate on the n_bins² pair table."""
    from backend_spark.ml import isotonic_calibrate

    li = load_table(spark, sf, "lineitem").select(
        ((F.col("l_partkey") % 100).cast("double") / 100.0).alias("score"),
        (F.col("l_orderkey") % 100 < F.col("l_partkey") % 100).cast("int").alias("y"),
    )
    return isotonic_calibrate(li, "score", "y", n_bins=20)


def _q_ridge_by(spark, sf):
    """Per-returnflag hash-exact ridge models from ONE keyed moment
    aggregate + bounded per-group Cramer solves."""
    from backend_spark.ml import ridge_train_by

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    return ridge_train_by(li, "g", ["x1", "x2"], "y")


def _q_ridge_apply_by(spark, sf):
    """Group-routed scoring with the per-segment models: broadcast
    weight pivot + pure projection over the fact scan."""
    from backend_spark.ml import ridge_apply_by, ridge_train_by

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    w = ridge_train_by(li, "g", ["x1", "x2"], "y")
    return ridge_apply_by(li, w, "g", ["x1", "x2"]).select(
        "l_orderkey", "l_linenumber", "g", "x1", "x2", "pred"
    )


def _q_pca_top(spark, sf):
    """Top principal component of the embeddings corpus — int64
    partial Grams over Arrow batches, deterministic driver power
    iteration, unrolled-matvec oracle."""
    emb = load_table(spark, sf, "embeddings")
    return llm.pca_top(emb, "embedding", dim=64, scale=1000, n_iter=30)


def _q_fs_em(spark, sf):
    """Unsupervised FS weights via deterministic EM over the agreement
    -pattern table (labels ignored) — ONE corpus aggregate, bounded
    2^k collect, fixed-order driver trajectory."""
    from backend_spark.operators import fs_em

    return fs_em(_fs_pairs(spark, sf), ["ag_name", "ag_city", "ag_phone"], n_iter=10)


def _q_seasonal_adjust(spark, sf):
    """Hour-of-day seasonal decomposition of event values per type —
    phase/group means broadcast back, corpus never shuffles."""
    from backend_spark.features import seasonal_adjust

    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", F.hour("ts").alias("hr"), "value"
    )
    out = seasonal_adjust(ev, "hr", "value", by="event_type")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        "event_type", "hr", "value", "seasonal", "adjusted",
    )


def _q_benford(spark, sf):
    """First-digit Benford audit of extendedprice per returnflag —
    decimal-string digit extraction, ONE keyed aggregate."""
    from backend_spark.features import benford

    li = load_table(spark, sf, "lineitem")
    return benford(li, "l_extendedprice", by="l_returnflag")


def _q_shard_stats(spark, sf):
    """Range-clustered data-skipping manifest over lineitem: the
    prefix_sums distributed sort and its 1-row total broadcast, one
    keyed aggregate, bounded per-shard explode."""
    from backend_spark.scale import shard_stats

    li = load_table(spark, sf, "lineitem")
    return shard_stats(
        li, ["l_orderkey", "l_linenumber"],
        ["l_partkey", "l_suppkey", "l_returnflag"], n_shards=16,
    )


def _q_key_collision(spark, sf):
    """OpenRefine-style fingerprint clustering over synthesized messy
    name variants (case + punctuation noise): two keyed aggregates,
    deterministic mode canonical."""
    from backend_spark.operators import key_collision

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    messy = (
        cust.select(F.col("c_name").alias("name"))
        .unionByName(cust.where(k % 2 == 0).select(F.upper("c_name").alias("name")))
        .unionByName(
            cust.where(k % 3 == 0).select(
                F.regexp_replace("c_name", "#", " # ").alias("name")
            )
        )
    )
    return key_collision(messy, "name")


def _q_mutual_info(spark, sf):
    """Per-feature MI against a deterministic label over customer —
    one melt + one cell aggregate, value-sorted float fold
    (char_entropy pattern)."""
    from backend_spark.features import mutual_info

    cust = load_table(spark, sf, "customer").select(
        "c_mktsegment",
        (F.col("c_nationkey") % 5).cast("string").alias("nat5"),
        (F.col("c_custkey") % 3).alias("y"),
    )
    return mutual_info(cust, ["c_mktsegment", "nat5"], "y")


def _q_assoc_rules(spark, sf):
    """Market-basket rules over lineitem (orders as baskets, bucketed
    parts as items): basket-keyed self-join, exact counts, per-row
    rule math."""
    from backend_spark.features import assoc_rules

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("basket"),
        F.pmod(F.col("l_partkey"), F.lit(50)).alias("item"),
    )
    return assoc_rules(li, "basket", "item", min_pair_count=20)


def _q_stream_cusum(spark, sf):
    # stateful exact-integer CUSUM drift detector: one availableNow
    # batch over the bounded log == the batch closed form (oracle =
    # the cusum SQL)
    from backend_spark import streaming

    ev = load_table(spark, sf, "events")
    ev = ev.select("event_id", event_ts_us(ev).alias("ts_us"), "user_id", "value")
    path = tempfile.mkdtemp(prefix="sg_scusum_") + "/events"
    ev.write.parquet(path)
    sdf = spark.readStream.schema(ev.schema).parquet(path)
    out = streaming.cusum_stream(
        sdf, "user_id", "ts_us", "value", target=50.0, k=5.0, h=100.0,
        tiebreak_col="event_id",
    )
    _STREAM_N[0] += 1
    name = f"sg_scusum_{_STREAM_N[0]}"
    streaming.run_to_memory(out, name, checkpoint=tempfile.mkdtemp(prefix="sg_scusum_ck_"))
    return spark.sql(
        f"SELECT user_id, ts_us, event_id, value, cusum_hi, cusum_lo, cusum_alarm"
        f" FROM {name}"
    )


def _q_freq_phrases(spark, sf):
    """Closed frequent 2..4-gram phrase mining over documents —
    per-level map-side counts off one staged token array, string-sliced
    killer join, corpus never self-joins."""
    docs = load_table(spark, sf, "documents")
    return llm.freq_phrases(docs, "text", n_min=2, n_max=4, min_count=20)


def _q_table_checksum(spark, sf):
    """Bucketed migration checksums over orders (string/int columns —
    the documented engine-canonical set): ONE map-side-combined
    aggregate to n_buckets rows."""
    from backend_spark.quality import table_checksum

    orders = load_table(spark, sf, "orders")
    return table_checksum(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        n_buckets=64,
    )


def _q_rank_corr(spark, sf):
    """Per-returnflag Spearman(quantity, extendedprice) — heavy-tie
    average ranks from one exchange (rank + RANGE count trick), exact
    BIGINT sums, IEEE epilogue."""
    from backend_spark.features import rank_corr

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return rank_corr(li, "l_returnflag", "l_quantity", "l_extendedprice")


def _q_fs_weights(spark, sf):
    """Fellegi-Sunter m/u probabilities + log2 match weights from
    labeled candidate pairs — one global aggregate, k-row explode."""
    from backend_spark.operators import fs_weights

    return fs_weights(_fs_pairs(spark, sf), ["ag_name", "ag_city", "ag_phone"], "y")


def _q_fs_score(spark, sf):
    """Apply the estimated FS weights back onto the pairs: total match
    weight per pair as a shuffle-free projection (weights table is a
    bounded driver-side collect, BPE-merge-table pattern)."""
    from backend_spark.operators import fs_score, fs_weights

    pairs = _fs_pairs(spark, sf)
    w = fs_weights(pairs, ["ag_name", "ag_city", "ag_phone"], "y")
    return fs_score(pairs, w, ["ag_name", "ag_city", "ag_phone"]).select(
        "left_id", "right_id", "match_weight"
    )


# shared CTE chain for the ridge_by / ridge_apply_by oracles: the
# proven ridge Cramer algebra (same pinned parenthesization) keyed by
# returnflag
_RIDGE_BY_CTES = """
            WITH src AS (SELECT l_returnflag AS g, l_quantity AS x1,
                                l_discount AS x2, l_extendedprice AS y
                         FROM lineitem),
            rq AS (SELECT g,
                          CAST(round(CAST(x1 AS DOUBLE) * 1000000.0) AS BIGINT) AS q1,
                          CAST(round(CAST(x2 AS DOUBLE) * 1000000.0) AS BIGINT) AS q2,
                          CAST(round(CAST(y AS DOUBLE) * 1000000.0) AS BIGINT) AS qy
                   FROM src),
            rs AS (SELECT g, count(*) AS n,
                          sum(CAST(q1 AS HUGEINT)) AS s0, sum(CAST(q2 AS HUGEINT)) AS s1,
                          sum(CAST(qy AS HUGEINT)) AS s2,
                          sum(CAST(q1 AS HUGEINT) * q1) AS s00,
                          sum(CAST(q1 AS HUGEINT) * q2) AS s01,
                          sum(CAST(q1 AS HUGEINT) * qy) AS s02,
                          sum(CAST(q2 AS HUGEINT) * q2) AS s11,
                          sum(CAST(q2 AS HUGEINT) * qy) AS s12
                   FROM rq GROUP BY g),
            rm AS (SELECT g, CAST(n AS DOUBLE) AS a11,
                          CAST(s0 AS DOUBLE) / 1000000.0 AS a12,
                          CAST(s1 AS DOUBLE) / 1000000.0 AS a13,
                          CAST(s00 AS DOUBLE) / 1000000000000.0 + 0.001 AS a22,
                          CAST(s01 AS DOUBLE) / 1000000000000.0 AS a23,
                          CAST(s11 AS DOUBLE) / 1000000000000.0 + 0.001 AS a33,
                          CAST(s2 AS DOUBLE) / 1000000.0 AS b1,
                          CAST(s02 AS DOUBLE) / 1000000000000.0 AS b2,
                          CAST(s12 AS DOUBLE) / 1000000000000.0 AS b3
                   FROM rs),
            w AS (SELECT g,
                (a11 * (a22 * a33 - a23 * a23) - a12 * (a12 * a33 - a23 * a13)
                     + a13 * (a12 * a23 - a22 * a13)) AS det,
                (b1 * (a22 * a33 - a23 * a23) - a12 * (b2 * a33 - a23 * b3)
                     + a13 * (b2 * a23 - a22 * b3)) AS det0,
                (a11 * (b2 * a33 - a23 * b3) - b1 * (a12 * a33 - a23 * a13)
                     + a13 * (a12 * b3 - b2 * a13)) AS det1,
                (a11 * (a22 * b3 - b2 * a23) - a12 * (a12 * b3 - b2 * a13)
                     + b1 * (a12 * a23 - a22 * a13)) AS det2
              FROM rm)
"""

from backend_spark.features import _BENFORD_P as _BP

_BENFORD_LITS = ",".join(f"CAST({p!r} AS DOUBLE)" for p in _BP)

_FS_PAIRS_SQL = """
            SELECT c_custkey AS left_id, c_custkey + 1000000 AS right_id,
                   CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS y,
                   CASE WHEN c_custkey % 2 = 0
                        THEN CASE WHEN c_custkey % 10 < 8 THEN 1 ELSE 0 END
                        ELSE CASE WHEN c_custkey % 10 < 3 THEN 1 ELSE 0 END
                   END AS ag_name,
                   CASE WHEN c_custkey % 2 = 0
                        THEN CASE WHEN c_custkey % 7 < 5 THEN 1 ELSE 0 END
                        ELSE CASE WHEN c_custkey % 7 < 2 THEN 1 ELSE 0 END
                   END AS ag_city,
                   CASE WHEN c_custkey % 11 = 0 THEN NULL
                        WHEN c_custkey % 2 = 0
                        THEN CASE WHEN c_custkey % 5 < 4 THEN 1 ELSE 0 END
                        ELSE CASE WHEN c_custkey % 5 < 1 THEN 1 ELSE 0 END
                   END AS ag_phone
            FROM customer
"""


def _sql_fs_em(n_iter: int, init_p: float = 0.1, init_m: float = 0.9, init_u: float = 0.1) -> str:
    """Unrolled-EM oracle for ``fs_em`` over the _FS_PAIRS_SQL fixture:
    each iteration is an E-step CTE (pattern responsibilities from the
    previous parameters, products in feature order) and an M-step CTE
    (ordered-aggregate folds replaying the driver's sorted-pattern
    accumulation, then the same [1e-6, 1-1e-6] clamps).  Bit-for-bit
    the Python trajectory — the bpe_train unrolled-iteration pattern."""
    feats = ["ag_name", "ag_city", "ag_phone"]
    k = len(feats)
    a = [f"a{i}" for i in range(k)]
    ind = ", ".join(
        f"CASE WHEN coalesce({c}, 0) <> 0 THEN 1 ELSE 0 END AS {a[i]}"
        for i, c in enumerate(feats)
    )
    order = ", ".join(a)
    parts = [
        f"WITH pat AS (SELECT {order}, CAST(count(*) AS BIGINT) AS n",
        f"             FROM (SELECT {ind} FROM ({_FS_PAIRS_SQL}))",
        f"             GROUP BY {order}),",
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM pat),",
        f"p0 AS (SELECT CAST({init_p!r} AS DOUBLE) AS p, "
        + ", ".join(
            f"CAST({init_m!r} AS DOUBLE) AS m{i}, CAST({init_u!r} AS DOUBLE) AS u{i}"
            for i in range(k)
        )
        + "),",
    ]
    for t in range(1, n_iter + 1):
        wm = "p" + "".join(
            f" * (CASE WHEN {a[i]} = 1 THEN m{i} ELSE 1.0 - m{i} END)" for i in range(k)
        )
        wu = "(1.0 - p)" + "".join(
            f" * (CASE WHEN {a[i]} = 1 THEN u{i} ELSE 1.0 - u{i} END)" for i in range(k)
        )
        parts.append(
            f"e{t} AS (SELECT pat.*, {wm} AS wm, {wu} AS wu FROM pat, p{t - 1}),"
        )
        sums = [
            f"sum(n * (wm / (wm + wu)) ORDER BY {order}) AS sum_r",
            f"sum(n * (1.0 - wm / (wm + wu)) ORDER BY {order}) AS sum_1r",
        ]
        for i in range(k):
            sums.append(
                f"sum(CASE WHEN {a[i]} = 1 THEN n * (wm / (wm + wu)) "
                f"ELSE CAST(0.0 AS DOUBLE) END ORDER BY {order}) AS sm{i}"
            )
            sums.append(
                f"sum(CASE WHEN {a[i]} = 1 THEN n * (1.0 - wm / (wm + wu)) "
                f"ELSE CAST(0.0 AS DOUBLE) END ORDER BY {order}) AS su{i}"
            )
        parts.append(f"s{t} AS (SELECT {', '.join(sums)} FROM e{t}),")
        ms = ", ".join(
            f"least(greatest(sm{i} / sum_r, 1e-6), 1.0 - 1e-6) AS m{i}, "
            f"least(greatest(su{i} / sum_1r, 1e-6), 1.0 - 1e-6) AS u{i}"
            for i in range(k)
        )
        parts.append(
            f"p{t} AS (SELECT least(greatest(sum_r / total, 1e-6), 1.0 - 1e-6) AS p, "
            f"{ms} FROM s{t}, tot),"
        )
    # strip the trailing comma of the last CTE
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        f"SELECT '{c}' AS feature, round(m{i}, 6) AS m_prob, round(u{i}, 6) AS u_prob, "
        f"round(log2(m{i} / u{i}), 6) AS w_agree, "
        f"round(log2((1.0 - m{i}) / (1.0 - u{i})), 6) AS w_disagree, "
        f"round(p, 6) AS prior FROM p{n_iter}"
        for i, c in enumerate(feats)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _sql_pca_top(d: int, scale: int, n_iter: int) -> str:
    """Unrolled power-iteration oracle for ``pca_top`` over the
    embeddings table: exact BIGINT Gram/sum CTEs, then per iteration a
    matvec with ascending-j ordered folds, an ordered L2 norm, and a
    normalize — replaying the driver trajectory bit-for-bit (fs_em
    pattern; holds even before convergence)."""
    parts = [
        f"WITH q AS MATERIALIZED (SELECT e.vec_id, CAST(t.i AS INT) AS i,",
        f"                  CAST(round(e.embedding[CAST(t.i AS INT)] * {scale}) AS BIGINT) AS q",
        f"           FROM embeddings e, range(1, {d + 1}) t(i)),",
        "g AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g",
        "      FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),",
        "sv AS MATERIALIZED (SELECT i, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY i),",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),",
        "c AS MATERIALIZED (SELECT g.i, g.j, nn.n * g.g - sa.s * sb.s AS v",
        "      FROM g CROSS JOIN nn JOIN sv sa ON sa.i = g.i JOIN sv sb ON sb.i = g.j),",
        f"x0 AS (SELECT CAST(t.i AS INT) AS i, CAST(1.0 AS DOUBLE) AS x",
        f"       FROM range(1, {d + 1}) t(i)),",
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"y{t} AS MATERIALIZED (SELECT c.i AS i, sum(c.v * x.x ORDER BY c.j) AS y"
            f" FROM c JOIN x{t - 1} x ON x.i = c.j GROUP BY c.i),"
        )
        parts.append(f"n{t} AS (SELECT sqrt(sum(y * y ORDER BY i)) AS nrm FROM y{t}),")
        parts.append(f"x{t} AS MATERIALIZED (SELECT i, y / nrm AS x FROM y{t}, n{t}),")
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT x.i - 1 AS dim, round(x.x, 6) AS loading,"
        f" round(n{n_iter}.nrm / (nn.n * nn.n * {scale * scale}), 6) AS eigenvalue"
        f" FROM x{n_iter} x CROSS JOIN n{n_iter} CROSS JOIN nn"
    )
    return "\n".join(parts)


def _q_cdc_apply(spark, sf):
    """MERGE INTO over an orders snapshot and a synthesized changelog
    (stale + winning updates, deletes, inserts): latest-change window
    over the changelog only, base touched by ONE anti-join — never
    sorted."""
    from backend_spark.scale import cdc_apply

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    upd = o.where(k % 5 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U2").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("seq"),
    )
    stale = o.where(k % 5 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("UX").alias("o_orderstatus"),
        F.lit(0.0).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    dele = o.where(k % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("seq"),
    )
    ins = o.where(k % 11 == 0).select(
        (k + 10_000_000).alias("o_orderkey"), "o_custkey",
        F.lit("N").alias("o_orderstatus"), "o_totalprice",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    changes = upd.unionByName(stale).unionByName(dele).unionByName(ins)
    return cdc_apply(o, changes, "o_orderkey")


def _q_rollup_merge(spark, sf):
    """Incremental rollup maintenance: two per-batch partial-state
    tables (even/odd event ids) folded on aggregate rows only —
    fixed-point decimal sums make any merge tree bit-exact."""
    from backend_spark.scale import rollup_merge, rollup_partials

    ev = load_table(spark, sf, "events").select("event_id", "event_type", "value")
    b1 = rollup_partials(ev.where(F.col("event_id") % 2 == 0), "event_type", ["value"])
    b2 = rollup_partials(ev.where(F.col("event_id") % 2 == 1), "event_type", ["value"])
    return rollup_merge(b1.unionByName(b2), "event_type", ["value"])


def _q_match_cascade(spark, sf):
    """Waterfall matching over synthesized dirty customer names: exact
    pass, normalized pass, then a coarse (nation, segment) blocking
    pass with deterministic min-struct disambiguation — each pass joins
    only the shrinking unmatched remainder."""
    from backend_spark.operators import match_cascade

    cust = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    lhs = cust.select(
        k.alias("id"),
        F.when(k % 3 == 1, F.col("c_name"))
        .when(k % 3 == 0, F.upper("c_name"))
        .otherwise(F.concat(F.col("c_name"), F.lit(" ~")))
        .alias("name"),
        "c_nationkey",
        "c_mktsegment",
    )
    passes = [
        {"name": "exact", "keys": [("name", "c_name")]},
        {"name": "norm", "keys": [("lower(name)", "lower(c_name)")]},
        {
            "name": "block",
            "keys": [("c_nationkey", "c_nationkey"), ("c_mktsegment", "c_mktsegment")],
        },
    ]
    return match_cascade(
        lhs, cust, passes, {"matched_key": "c_custkey", "matched_bal": "c_acctbal"}
    )


def _q_acf(spark, sf):
    """Autocorrelation of the value series per event type: one keyed
    exchange shared by all lag windows, exact decimal folds, bounded
    (key, lag) explode."""
    from backend_spark.features import acf

    ev = load_table(spark, sf, "events")
    return acf(ev, "event_type", ["ts", "event_id"], "value", max_lag=3)


def _q_weighted_median(spark, sf):
    """Quantity-weighted median extendedprice per returnflag: fixed-
    point cumulative weights, one exchange shared by both windows."""
    from backend_spark.features import weighted_median

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("g"), "l_extendedprice", "l_quantity"
    )
    return weighted_median(li, "g", "l_extendedprice", "l_quantity")


def _q_gini(spark, sf):
    """Gini concentration of document length per source — the corpus
    data-mix audit: one keyed exchange (rank window + aggregate)."""
    from backend_spark.features import gini

    docs = load_table(spark, sf, "documents")
    return gini(docs, "source", "n_chars")


def _q_theil_sen(spark, sf):
    """Robust Theil-Sen trend per market segment over a bounded
    customer slice (pairs are quadratic in the group — the guard is
    the point): keyed self-join, exact two-middle medians."""
    from backend_spark.features import theil_sen

    cust = load_table(spark, sf, "customer").where(F.col("c_custkey") < 300).select(
        "c_mktsegment",
        F.col("c_custkey").cast("double").alias("x"),
        F.col("c_acctbal").alias("y"),
    )
    return theil_sen(cust, "c_mktsegment", "x", "y")


def _q_ab_test(spark, sf):
    """Two-proportion z-test of hash-assigned arms on purchase
    conversion: one aggregate + 1-row control broadcast."""
    from backend_spark.quality import ab_test

    ev = load_table(spark, sf, "events").select(
        F.concat(F.lit("arm"), (F.col("user_id") % 3).cast("string")).alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    return ab_test(ev, "arm", "conv", control="arm0")


def _q_zipf_fit(spark, sf):
    """Rank-frequency OLS over the top-100 corpus tokens: keyed count,
    TakeOrderedAndProject cut, rank-ordered double folds."""
    from backend_spark.llm import zipf_fit

    docs = load_table(spark, sf, "documents")
    return zipf_fit(docs, "text", top_n=100)


def _q_seq_patterns(spark, sf):
    """Frequent 3-step event paths per user: shared (key, order) sort
    for the lead columns, one pattern groupBy, 1-row total broadcast."""
    from backend_spark.features import seq_patterns

    ev = load_table(spark, sf, "events")
    return seq_patterns(ev, "user_id", ["ts", "event_id"], "event_type", length=3, min_count=2)


def _q_stream_cdc(spark, sf):
    """Streaming CDC apply (bucketed-state upsert with delete
    tombstones) over the same synthesized changelog as cdc_apply, fed
    as single-file micro-batches — final state must equal the batch
    operator, so it shares cdc_apply's oracle."""
    from backend_spark import streaming

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    base_feed = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.lit("B").alias("op"), F.lit(0).cast("long").alias("seq"),
    )
    upd = o.where(k % 5 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("U2").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("seq"),
    )
    stale = o.where(k % 5 == 0).select(
        "o_orderkey", "o_custkey",
        F.lit("UX").alias("o_orderstatus"),
        F.lit(0.0).alias("o_totalprice"),
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    dele = o.where(k % 7 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("seq"),
    )
    ins = o.where(k % 11 == 0).select(
        (k + 10_000_000).alias("o_orderkey"), "o_custkey",
        F.lit("N").alias("o_orderstatus"), "o_totalprice",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    feed = base_feed.unionByName(upd).unionByName(stale).unionByName(dele).unionByName(ins)
    src = tempfile.mkdtemp(prefix="sg_scdc_") + "/feed"
    feed.repartition(4).write.parquet(src)
    state = tempfile.mkdtemp(prefix="sg_scdc_") + "/state"
    sdf = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    streaming.cdc_stream(
        sdf, state, "o_orderkey", seq_col="seq", op_col="op",
        checkpoint=tempfile.mkdtemp(prefix="sg_scdc_ck_"), n_buckets=8,
    )
    return streaming.read_cdc_state(spark, state).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _q_attribution(spark, sf):
    """Linear-model conversion attribution over user event journeys:
    one (key, order) window partitioning, two map-side-combined
    aggregates, integer micro-unit credit."""
    from backend_spark.features import attribution

    ev = load_table(spark, sf, "events").withColumn(
        "conv", (F.col("event_type") == "purchase").cast("int")
    )
    return attribution(
        ev, "user_id", ["ts", "event_id"], "event_type", "conv", model="linear"
    )


def _q_compaction_plan(spark, sf):
    """Small-file compaction planning over a synthesized manifest:
    distributed prefix-sum fill (assign_row_ids generalized to byte
    sums), big-first deterministic order, ~50 MB rewrite groups."""
    from backend_spark.scale import compaction_plan

    o = load_table(spark, sf, "orders")
    manifest = o.select(
        F.concat(F.lit("part-"), F.col("o_orderkey").cast("string")).alias("path"),
        F.when(F.col("o_orderkey") % 100 == 0, F.lit(60_000_000).cast("long"))
        .otherwise((F.col("o_orderkey") * 7919) % 10_000_000 + 1000)
        .alias("bytes"),
    )
    return compaction_plan(manifest, "path", "bytes", target_bytes=50_000_000)


def _q_label_encode(spark, sf):
    """Deterministic StringIndexer-style dense ids for market segment:
    dictionary built on the bounded distinct table, corpus joins keyed
    and never sorts."""
    from backend_spark.features import label_encode

    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return label_encode(cust, "c_mktsegment").select(
        "c_custkey", "c_mktsegment", "c_mktsegment_id"
    )


def _q_scd2_lookup(spark, sf):
    """Point-in-time SCD2 consumption: purchases retrieve the user's
    state version valid at purchase time — keyed hash join, per-key
    fan-out = version count, validity filter keeps at most one."""
    from backend_spark.quality import scd2_build, scd2_lookup

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    dim = scd2_build(
        ev.select("user_id", "event_type", "us"), "user_id", "event_type", "us"
    ).drop("is_current")
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    return scd2_lookup(facts, dim, "user_id", "us").select(
        "event_id", "user_id", "us",
        "dim_event_type", "dim_valid_from", "dim_valid_to",
    )


def _q_ks_test(spark, sf):
    """Global-path exact KS drift test (click vs purchase values): the
    cumulative counts ride the distributed prefix-sum, never a global
    single-partition window over the distinct values."""
    from backend_spark.features import ks_test

    ev = load_table(spark, sf, "events")
    return ks_test(ev, "event_type", "value", "click", "purchase")


def _q_bipartite(spark, sf):
    """Order-part co-purchase projection: wedge enumeration keyed on
    the order id, simple-graph dedup, integer-exact Jaccard."""
    from backend_spark.operators.graph import bipartite_projection

    li = load_table(spark, sf, "lineitem")
    return bipartite_projection(li, "l_orderkey", "l_partkey", min_common=2)


def _q_twap(spark, sf):
    """Time-weighted average event value per type: lead-duration
    weighting on one (key, ts) window, exact decimal folds.  event_id
    tie-breaks equal timestamps so the lead() pairing (and hence the
    oracle hash) never depends on incidental timestamp uniqueness."""
    from backend_spark.features import twap

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    return twap(
        ev.select("event_type", "us", "value", "event_id"),
        "event_type", "us", "value", tie_break="event_id",
    )


def _q_rfm(spark, sf):
    """RFM segmentation of users from the event log: one aggregate to
    |users| rows, then three distributed prefix-sum ranks with exact
    integer ntile arithmetic over that (never a global ntile window)."""
    from backend_spark.features import rfm

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    return rfm(ev.select("user_id", "us", "value"), "user_id", "us", "value")


def _q_bucket_quantiles(spark, sf):
    """Exact p50/p95/p99 price bands per returnflag: rank-based lower
    quantiles, one group-key exchange."""
    from backend_spark.features import bucket_quantiles

    li = load_table(spark, sf, "lineitem")
    return bucket_quantiles(li, "l_returnflag", "l_extendedprice", percentiles=[50, 95, 99])


def _q_bloom_join(spark, sf):
    """Bloom-prefiltered semi-join: the key-set bitset broadcasts and
    the fact side meets it in k broadcast joins (zero fact shuffles
    before the exact join); no false negatives, so the result hashes
    identically to the plain semi-join oracle."""
    from backend_spark.scale import bloom_filter_join

    li = load_table(spark, sf, "lineitem")
    keys = load_table(spark, sf, "orders").where(
        F.col("o_orderkey") % 17 == 0
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    return bloom_filter_join(li, keys, "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )


def _q_disparate_impact(spark, sf):
    """Four-fifths-rule fairness audit across market segments on a
    balance-derived outcome: one aggregate + 1-row reference
    broadcast."""
    from backend_spark.quality import disparate_impact

    cust = load_table(spark, sf, "customer").select(
        F.col("c_mktsegment").alias("g"),
        (F.col("c_acctbal") > 5000).cast("int").alias("y"),
    )
    return disparate_impact(cust, "g", "y", reference="BUILDING")


def _q_freshness(spark, sf):
    """Per-event-type ingestion freshness: latest micros + lag behind
    the freshest feed, 1-hour staleness flag."""
    from backend_spark.quality import freshness

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    return freshness(ev.select("event_type", "us"), "event_type", "us",
                     max_lag_us=3_600_000_000)


def _q_ece(spark, sf):
    """Expected Calibration Error of the isotonic query's synthetic
    score/label: exact bin counts + fixed-point confidence sums."""
    from backend_spark.ml import ece

    li = load_table(spark, sf, "lineitem").select(
        ((F.col("l_partkey") % 100).cast("double") / 100.0).alias("score"),
        (F.col("l_orderkey") % 100 < F.col("l_partkey") % 100).cast("int").alias("y"),
    )
    return ece(li, "score", "y", n_bins=10)


def _q_mojibake(spark, sf):
    """Crawl mojibake repair over documents with injected corruption:
    ordered substring replacements, shuffle-free."""
    from backend_spark.llm import fix_mojibake

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    bad_cafe = " caf" + chr(0xC3) + chr(0xA9)
    bad_quote = chr(0xE2) + chr(0x80) + chr(0x9C) + "q" + chr(0xE2) + chr(0x80) + chr(0x9D)
    corrupted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit(bad_cafe)))
        .when(F.col("doc_id") % 3 == 1, F.concat("text", F.lit(" " + bad_quote)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return fix_mojibake(corrupted, "text").select("doc_id", "text_fixed", "mojibake")


def _q_merge_intervals(spark, sf):
    """Interval-union per user over the view-event spans (the
    interval_join synthesis): running-max island detection on one
    (key, lo, hi) window, one aggregate."""
    from backend_spark.features import merge_intervals

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("us").alias("lo"),
        (F.col("us") + (F.lit(1800) + (F.col("event_id") % 7) * 600) * 1_000_000).alias("hi"),
    )
    return merge_intervals(v, "user_id", "lo", "hi")


def _q_ri_check(spark, sf):
    """Referential-integrity audit of a deliberately corrupted
    lineitem->supplier key: anti-join orphan counts + top offenders,
    the fact side never sorts."""
    from backend_spark.quality import ri_check

    li = load_table(spark, sf, "lineitem").select(
        F.when(F.col("l_orderkey") % 13 == 0, F.col("l_suppkey") + 1_000_000)
        .otherwise(F.col("l_suppkey"))
        .alias("fk")
    )
    supp = load_table(spark, sf, "supplier")
    return ri_check(li, supp, "fk", dim_key="s_suppkey", top_k=5)


def _q_sync_plan(spark, sf):
    """Checksum-driven incremental sync plan between an orders snapshot
    and a mutated copy: two one-aggregate checksums + a 64-row
    full-outer diff — the work list re-ships only changed buckets."""
    from backend_spark.quality import sync_plan

    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    old = load_table(spark, sf, "orders").select(*cols)
    k = F.col("o_orderkey")
    new = (
        old.where(k % 7 != 0)
        .select(
            "o_orderkey", "o_custkey",
            F.when(k % 5 == 0, F.lit("X9")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        )
        .unionByName(
            old.where(k % 11 == 0).select(
                (k + 10_000_000).alias("o_orderkey"), "o_custkey",
                F.lit("N").alias("o_orderstatus"),
            )
        )
    )
    return sync_plan(old, new, cols, n_buckets=64)


def _q_gap_report(spark, sf):
    """Feed-silence gaps per event type (>60s spacing, top-3 per key):
    one (key, ts) window partitioning shared by the lead and the rank."""
    from backend_spark.features import gap_report

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    return gap_report(
        ev.select("event_type", "us"), "event_type", "us",
        min_gap=60_000_000, top_k_per_key=3,
    )


def _q_dup_report(spark, sf):
    """Corpus duplication audit on the dedup_near doubled corpus:
    LSH pairs -> CC -> cluster-size histogram; the oracle reuses
    dedup_near's recursive-CTE component chain with a histogram
    epilogue."""
    from backend_spark.llm import dup_report

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra")).alias("text"),
    )
    return dup_report(
        docs.unionByName(dupes), "doc_id", "text",
        num_perm=16, bands=4, shingle_n=5, jaccard_threshold=0.8,
    )


def _q_pop_change(spark, sf):
    """Month-over-month revenue per order priority: one aggregate to
    |keys x periods| rows, then one lag window over that table."""
    from backend_spark.features import pop_change

    o = load_table(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("k"),
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias("period"),
        "o_totalprice",
    )
    return pop_change(o, "k", "period", "o_totalprice")


def _q_session_stats(spark, sf):
    """Per-session depth/duration/bounce over the 8-hour-gap user
    sessions: one (key, ts) exchange for the lag, counter, and
    aggregate."""
    from backend_spark.features import session_stats

    ev = load_table(spark, sf, "events")
    ev = ev.withColumn("us", event_ts_us(ev))
    return session_stats(
        ev.select("user_id", "us"), "user_id", "us", gap_us=28_800_000_000
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration order = driver-evidence priority (the driver samples
    # a 50-query prefix per round; tools/staleness_report.py prints the
    # mechanical queue).  Round-15 rotation (the round-14 verdict's #2):
    # ann_zero_vec — the one row with zero driver evidence, added r14 at
    # slot 51 — leads, then the 9 remaining r9-certified rows, then the
    # 40 oldest r10 rows complete the 50-slot prefix.  Every later group
    # follows in evidence order (r10 remainder, r11, r12, r13, then the
    # 50 rows the r14 driver run certified).  The three rows with no
    # exact cross-engine oracle (closeness_approx, build_model,
    # apply_model) sit at the very tail so no future 50-slot prefix
    # spends slots on rows that can never hash-match.
    return {
        # --- never-driver-checked (the r14 addition; slot 1) ---
        "ann_zero_vec": _q_ann_zero,
        # --- r9-evidence rows (the final 9) ---
        "dedup_incremental": _q_dedup_incremental,
        "collocations": _q_collocations,
        "percentile_gate": _q_percentile_gate,
        "range_join": _q_range_join,
        "minhash_pairs": _q_minhash_pairs,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "ann_ivf_index": _q_ann_ivf_index,
        "bpe_pairs": _q_bpe_pairs,
        # --- r10-evidence rows (oldest first; the first 40 — through
        # ab_test — complete the 50-query prefix) ---
        "review_queue": _q_review_queue,
        "negative_edges": _q_negative_edges,
        "priority_sample": _q_priority_sample,
        "script_mix": _q_script_mix,
        "pareto_front": _q_pareto_front,
        "ppr": _q_ppr,
        "tfidf_cosine": _q_tfidf_cosine,
        "cross_dup_spans": _q_cross_dup_spans,
        "chunk_text": _q_chunk_text,
        "hits": _q_hits,
        "decay_agg": _q_decay_agg,
        "stream_topk": _q_stream_topk,
        "target_encode": _q_target_encode,
        "k_truss": _q_k_truss,
        "fs_weights": _q_fs_weights,
        "fs_score": _q_fs_score,
        "cusum": _q_cusum,
        "rank_corr": _q_rank_corr,
        "table_checksum": _q_table_checksum,
        "freq_phrases": _q_freq_phrases,
        "stream_cusum": _q_stream_cusum,
        "mutual_info": _q_mutual_info,
        "assoc_rules": _q_assoc_rules,
        "key_collision": _q_key_collision,
        "shard_stats": _q_shard_stats,
        "seasonal_adjust": _q_seasonal_adjust,
        "benford": _q_benford,
        "fs_em": _q_fs_em,
        "pca_top": _q_pca_top,
        "ridge_by": _q_ridge_by,
        "ridge_apply_by": _q_ridge_apply_by,
        "isotonic": _q_isotonic,
        "cdc_apply": _q_cdc_apply,
        "rollup_merge": _q_rollup_merge,
        "match_cascade": _q_match_cascade,
        "acf": _q_acf,
        "weighted_median": _q_weighted_median,
        "gini": _q_gini,
        "theil_sen": _q_theil_sen,
        "ab_test": _q_ab_test,
        "zipf_fit": _q_zipf_fit,
        "seq_patterns": _q_seq_patterns,
        "stream_cdc": _q_stream_cdc,
        "attribution": _q_attribution,
        "compaction_plan": _q_compaction_plan,
        "label_encode": _q_label_encode,
        "scd2_lookup": _q_scd2_lookup,
        "ks_test": _q_ks_test,
        "bipartite": _q_bipartite,
        "twap": _q_twap,
        # --- r11-evidence rows (oldest first) ---
        "rfm": _q_rfm,
        "bucket_quantiles": _q_bucket_quantiles,
        "bloom_join": _q_bloom_join,
        "disparate_impact": _q_disparate_impact,
        "freshness": _q_freshness,
        "ece": _q_ece,
        "mojibake": _q_mojibake,
        "merge_intervals": _q_merge_intervals,
        "ri_check": _q_ri_check,
        "sync_plan": _q_sync_plan,
        "gap_report": _q_gap_report,
        "dup_report": _q_dup_report,
        "pop_change": _q_pop_change,
        "session_stats": _q_session_stats,
        "win_agg": _q_win_agg,
        "scoring": _q_scoring,
        "sql_direct": _q_sql_direct,
        "csv_roundtrip": _q_csv_roundtrip,
        "fwf_roundtrip": _q_fwf_roundtrip,
        "k_core": _q_k_core,
        "eigenvector": _q_eigenvector,
        "square_clustering": _q_square_clustering,
        "compact_latest": _q_compact_latest,
        "profile": _q_profile,
        "pivot": _q_pivot,
        "melt": _q_melt,
        "window_funcs": _q_window_funcs,
        "quantile_bins": _q_quantile_bins,
        "resample": _q_resample,
        "funnel": _q_funnel,
        "zscore": _q_zscore,
        "embed_banded": _q_embed_banded,
        "pii_scan": _q_pii_scan,
        "decontaminate": _q_decontaminate,
        "repetition_stats": _q_repetition,
        "quality_filter": _q_quality_filter,
        "det_sample": _q_sample,
        "dedup_lines": _q_dedup_lines,
        "asof_join": _q_asof_join,
        "sessionize": _q_sessionize,
        "corpus_clean": _q_corpus_clean,
        "stream_win_agg": _q_stream_win,
        "stream_dedup": _q_stream_dedup,
        "stream_sessionize": _q_stream_sessionize,
        "stream_join": _q_stream_join,
        "stream_compact": _q_stream_compact,
        "salted_agg": _q_salted_agg,
        # --- r12-evidence rows (oldest first) ---
        "row_ids": _q_row_ids,
        "ngram_jaccard": _q_ngram_jaccard,
        "embed_neardup": _q_embed_neardup,
        "multimodal": _q_multimodal,
        "simhash_neardup": _q_simhash_neardup,
        "audio_features": _q_audio_features,
        "video_frames": _q_video_frames,
        "text_stats": _q_text_stats,
        "language_id": _q_language_id,
        "token_count": _q_token_count,
        "char_entropy": _q_char_entropy,
        "pack_sequences": _q_pack,
        "semdedup": _q_semdedup,
        "decontaminate_fuzzy": _q_decontaminate_fuzzy,
        "nb_classify": _q_nb_classify,
        "dup_ngrams": _q_dup_ngrams,
        "cube": _q_cube,
        "temperature_sample": _q_temperature_sample,
        "dq_check": _q_dq_check,
        "rollup": _q_rollup,
        "bpe_train": _q_bpe_train,
        "chunk_documents": _q_chunk_documents,
        "source_mix": _q_source_mix,
        "bigram_logprob": _q_bigram_logprob,
        "closeness_anf_exact": _q_closeness_anf_exact,
        "stream_pack": _q_stream_pack,
        "model_features": _q_model_features,
        "recipe_pipeline": _q_recipe,
        "map": _q_map,
        "rename": _q_rename,
        "keep_where": _q_keep_where,
        "delete": _q_delete,
        "fillna": _q_fillna,
        "to_integer": _q_to_integer,
        "to_float": _q_to_float,
        "parsedate": _q_parsedate,
        "replace": _q_replace,
        "normalize": _q_normalize,
        "eval_tier1": _q_eval_tier1,
        "eval_tier2": _q_eval_tier2,
        "exec": _q_exec,
        "shuffle": _q_shuffle,
        "groupby_agg": _q_groupby_agg,
        "groupby_agg_list": _q_groupby_agg_list,
        "groupby_transform": _q_groupby_transform,
        "groupby_rank": _q_groupby_rank,
        "unfold": _q_unfold,
        "unnest": _q_unnest,
        "nest": _q_nest,
        "ngram": _q_ngram,
        # --- r13-evidence rows (certified last round, freshest) ---
        "join_strict": _q_join_strict,
        "join_fuzzy": _q_join_fuzzy,
        "join_topk": _q_join_topk,
        "clique": _q_clique,
        "clique_list": _q_clique_list,
        "closeness": _q_closeness,
        "graph_metrics": _q_graph_metrics,
        "pagerank": _q_pagerank,
        "dedup_exact": _q_dedup_exact,
        "interval_join": _q_interval_join,
        "scd2": _q_scd2,
        "er_golden": _q_er_golden,
        "caverphone": _q_caverphone,
        "zorder": _q_zorder,
        "trim_dup_spans": _q_trim_dup_spans,
        "perplexity_buckets": _q_perplexity_buckets,
        "strip_html": _q_strip_html,
        "quantize_emb": _q_quantize_emb,
        "oversample": _q_oversample,
        "kmeans": _q_kmeans,
        "c4_lines": _q_c4_lines,
        "blocklist": _q_blocklist,
        "dedup_keep_best": _q_dedup_keep_best,
        "shuffle_order": _q_shuffle_order,
        "stratified_topn": _q_stratified_topn,
        "orc_roundtrip": _q_orc_roundtrip,
        "label_prop": _q_label_prop,
        "link_predict": _q_link_predict,
        "dsir": _q_dsir,
        "skew_report": _q_skew_report,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "modularity": _q_modularity,
        "kn_bigram": _q_kn_bigram,
        "kcenter": _q_kcenter,
        "stream_enrich": _q_stream_enrich,
        "classifier_eval": _q_classifier_eval,
        "winsorize": _q_winsorize,
        "containment": _q_containment,
        "robust_scale": _q_robust_scale,
        "rolling_agg": _q_rolling_agg,
        "hll_distinct": _q_hll_distinct,
        "soundex": _q_soundex,
        "mmr": _q_mmr,
        "k_anonymity": _q_k_anonymity,
        "snapshot_diff": _q_snapshot_diff,
        "training_shards": _q_training_shards,
        "split_corpus": _q_split_corpus,
        "cms": _q_cms,
        "ngram_novelty": _q_ngram_novelty,
        "geo_join": _q_geo_join,
        # --- r14-evidence rows (certified last round, freshest: the 9
        # r8 + 41 oldest-r9 rows CORRECTNESS_r14.json re-certified) ---
        "pq_encode": _q_pq_encode,
        "retention": _q_retention,
        "histogram": _q_histogram,
        "dedup_near": _q_dedup_near,
        "minhash_sig": _q_minhash_sig,
        "simhash": _q_simhash,
        "fingerprint": _q_fingerprint,
        "ann_topk": _q_ann,
        "bm25_topk": _q_bm25,
        "ridge_train": _q_ridge_train,
        "ridge_score": _q_ridge_score,
        "ridge_apply": _q_ridge_apply,
        "url_normalize": _q_url_normalize,
        "fill_forward": _q_fill_forward,
        "transition_counts": _q_transition_counts,
        "feature_hash": _q_feature_hash,
        "readability": _q_readability,
        "cdf_normalize": _q_cdf_normalize,
        "mad_outliers": _q_mad_outliers,
        "sentence_split": _q_sentence_split,
        "cidr_filter": _q_cidr_filter,
        "budget_select": _q_budget_select,
        "group_centroid": _q_group_centroid,
        "pair_features": _q_pair_features,
        "blocking_eval": _q_blocking_eval,
        "interpolate": _q_interpolate,
        "stream_locf": _q_stream_locf,
        "er_pipeline": _q_er_pipeline,
        "extract_links": _q_extract_links,
        "source_overlap": _q_source_overlap,
        "refined_soundex": _q_refined_soundex,
        "xml_roundtrip": _q_xml_roundtrip,
        "threshold_sweep": _q_threshold_sweep,
        "calibration_bins": _q_calibration_bins,
        "auc": _q_auc,
        "psi": _q_psi,
        "sssp": _q_sssp,
        "sorted_neighborhood": _q_sorted_neighborhood,
        "boilerplate": _q_boilerplate,
        "standardize": _q_standardize,
        "oov_rate": _q_oov_rate,
        "rolling_anomaly": _q_rolling_anomaly,
        "er_incremental": _q_er_incremental,
        "geohash": _q_geohash,
        "stream_anomaly": _q_stream_anomaly,
        "ann_pq": _q_ann_pq,
        "bpe_encode": _q_bpe_encode,
        "build_vocab": _q_vocab,
        "tfidf_topk": _q_tfidf,
        "unigram_logprob": _q_unigram_lp,
        # --- registry tail: no exact oracle by construction (driver
        # records rows-only) — parked so prefixes stay hash-checkable ---
        "closeness_approx": _q_closeness_approx,
        "build_model": _q_build_model,
        "apply_model": _q_apply_model,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL)
# ---------------------------------------------------------------------------


def _sql_mojibake_expr(col: str) -> str:
    """Mirror of llm.fix_mojibake: the SAME MOJIBAKE_RULES table folded
    into plain replace() calls, strings built from chr() so no literal
    control bytes appear in the SQL text."""
    x = col
    for bad, good in llm.MOJIBAKE_RULES:
        bad_sql = " || ".join(f"chr({ord(c)})" for c in bad)
        good_sql = " || ".join(f"chr({ord(c)})" for c in good)
        x = f"replace({x}, {bad_sql}, {good_sql})"
    return x


def oracle_sql() -> dict[str, str]:
    norm_text = _SQL_NORM.format(c="text")
    shingles3 = _SQL_SHINGLES.format(s="s", n=3)
    shingles5 = _SQL_SHINGLES.format(s="s", n=5)
    en = "['the','a','of','and','to','in','is','it','that','for']"
    es = "['el','la','de','y','que','en','un','una','los','por']"
    de = "['der','die','das','und','ist','ein','eine','zu','den','von']"
    fr = "['le','la','de','et','est','un','une','les','des','que']"
    # llm.PII_PATTERNS, same order (counts on original text, redaction nested)
    pii = {name: pat for name, pat, _ in llm.PII_PATTERNS}
    pii_red = "text"
    for _n, _pat, _tok in llm.PII_PATTERNS:
        pii_red = f"regexp_replace({pii_red}, '{_pat}', '{_tok}', 'g')"
    pii_aug = (
        "CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7 ssn 123-45-6789 tel 555-123-4567' ELSE text END"
    )
    # word n-grams over normalized tokens (llm.word_ngrams_from_tokens)
    wgrams = (
        "CASE WHEN len(toks) < {n} THEN CAST([] AS VARCHAR[]) "
        "ELSE [array_to_string(toks[CAST(i AS INT):CAST(i + {m} AS INT)], ' ') "
        "for i in range(1, len(toks) - {m} + 1)] END"
    )

    out = {
        "map": """
            SELECT c_custkey, c_custkey AS cust_id, to_json([c_name, c_mktsegment]) AS name_seg
            FROM customer
        """,
        "rename": "SELECT o_orderkey AS order_id, o_totalprice AS total FROM orders",
        "keep_where": "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 1000",
        "delete": "SELECT p_partkey, p_name, p_size FROM part",
        "fillna": """
            SELECT p_partkey, COALESCE(TRY_CAST(p_brand AS BIGINT), -1) AS brand_num,
                   'x' AS flag
            FROM part
        """,
        "to_integer": """
            SELECT p_partkey, TRY_CAST(CAST(p_size AS VARCHAR) AS BIGINT) AS size_str
            FROM part
        """,
        "to_float": """
            SELECT l_orderkey, l_linenumber,
                   TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_s
            FROM lineitem
        """,
        "parsedate": """
            SELECT o_orderkey,
                   strftime(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d'), '%Y-%m-%d') AS ds
            FROM orders
        """,
        "replace": """
            SELECT c_custkey,
                   regexp_replace(regexp_replace(c_name, 'Customer#0*', 'C', 'g'), '00', '0', 'g')
                     AS c_name
            FROM customer
        """,
        "normalize": f"""
            SELECT o_orderkey, {_SQL_NORM.format(c='o_orderpriority')} AS o_orderpriority
            FROM orders
        """,
        "eval_tier1": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) AS revenue,
                   CASE WHEN l_discount > 0.05 THEN 'hi' ELSE 'lo' END AS margin_flag
            FROM lineitem
        """,
        "eval_tier2": r"""
            SELECT p_partkey,
                   array_to_string(
                     list_transform(string_split_regex(trim(p_name), '\s+'), t -> substr(t, 1, 1)),
                     '-') AS initials
            FROM part
        """,
        "exec": "SELECT c_custkey, round(c_acctbal * 2, 2) AS bal2 FROM customer",
        "shuffle": "SELECT c_name FROM customer",
        "groupby_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS l_quantity_sum,
                   round(sum(l_extendedprice), 2) AS l_extendedprice_sum,
                   round(avg(l_extendedprice), 2) AS l_extendedprice_mean,
                   count(l_orderkey) AS l_orderkey_count
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "groupby_agg_list": """
            SELECT n_regionkey, to_json(list_sort(list(n_name))) AS n_name_list
            FROM nation GROUP BY n_regionkey
        """,
        "groupby_transform": """
            SELECT c_custkey, c_mktsegment,
                   round(sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 2) AS c_acctbal_sum
            FROM customer
        """,
        "groupby_rank": """
            SELECT o_orderkey, o_orderpriority,
                   CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
                        AS INT) AS o_totalprice_rank
            FROM orders
        """,
        "unfold": """
            SELECT p_partkey, unnest(string_split(p_name, ' ')) AS token FROM part
        """,
        "unnest": "SELECT event_id, CAST(props->>'k' AS BIGINT) AS k FROM events",
        "nest": """
            SELECT to_json(struct_pack(r_regionkey := r_regionkey, r_name := r_name)) AS payload
            FROM region
        """,
        "ngram": f"""
            SELECT n_nationkey,
                   to_json({_SQL_NGRAMS.format(c=_SQL_NORM.format(c='n_name'), n=2)}) AS n_name
            FROM nation
        """,
        "join_strict": """
            SELECT c_custkey, c_name, n_name AS nation_name
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        """,
        "join_fuzzy": f"""
            WITH lk AS (SELECT n_nationkey AS id, lower(n_name) || 'x' AS key FROM nation),
            d AS (SELECT DISTINCT lower(n_name) AS w FROM nation),
            best AS (
                SELECT key, w FROM (
                    SELECT lk.key, d.w, levenshtein(lk.key, d.w) AS dist,
                           row_number() OVER (PARTITION BY lk.key
                                              ORDER BY levenshtein(lk.key, d.w), d.w) AS rn
                    FROM lk CROSS JOIN d
                    WHERE levenshtein(lk.key, d.w) <= 1
                ) WHERE rn = 1
            )
            SELECT lk.id, lk.key, best.w AS key_match
            FROM lk LEFT JOIN best ON lk.key = best.key
        """,
        "join_topk": f"""
            WITH lk AS (
                SELECT n_nationkey AS id, lower(n_name) || 'x' AS key,
                       {_SQL_NGRAMS.format(c="lower(n_name) || 'x'", n=3)} AS blk
                FROM nation
            ),
            rk AS (
                SELECT n_nationkey, n_name,
                       {_SQL_NGRAMS.format(c='lower(n_name)', n=3)} AS blk
                FROM nation
            ),
            cand AS (
                SELECT DISTINCT lk.id, lk.key, rk.n_nationkey AS hit_n_nationkey,
                       rk.n_name AS hit_n_name
                FROM lk JOIN rk ON list_has_any(lk.blk, rk.blk)
            ),
            scored AS (
                SELECT *,
                       {_SQL_LEVNORM.format(a='key', b='lower(hit_n_name)')} AS hit_score
                FROM cand
            )
            SELECT id, key, hit_n_nationkey, hit_n_name, hit_score,
                   count(*) OVER (PARTITION BY id) AS matchid_hit_matches_unfiltered,
                   max(hit_score) OVER (PARTITION BY id) AS hit_max_score
            FROM scored
            QUALIFY row_number() OVER (PARTITION BY id
                                       ORDER BY hit_score DESC, hit_n_nationkey) <= 2
        """,
        "clique": """
            SELECT 'r' || CAST(n_regionkey AS VARCHAR) AS x,
                   'n' || CAST(n_nationkey AS VARCHAR) AS y,
                   min('n' || CAST(n_nationkey AS VARCHAR)) OVER (PARTITION BY n_regionkey)
                     AS graph_clique_id,
                   count(*) OVER (PARTITION BY n_regionkey) + 1 AS graph_clique_size
            FROM nation
        """,
        "closeness": """
            WITH cnt AS (SELECT n_regionkey AS rk, count(*) AS m FROM nation GROUP BY 1),
            tot AS (SELECT count(*) + (SELECT count(DISTINCT n_regionkey) FROM nation) AS n
                    FROM nation)
            SELECT 'r' || CAST(rk AS VARCHAR) AS node,
                   round(CAST(m AS DOUBLE) / (n - 1), 6) AS closeness
            FROM cnt, tot
            UNION ALL
            SELECT 'n' || CAST(n_nationkey AS VARCHAR),
                   round((CAST(m AS DOUBLE) / (n - 1)) * (CAST(m AS DOUBLE) / (2 * m - 1)), 6)
            FROM nation JOIN cnt ON rk = n_regionkey, tot
        """,
        "clique_list": """
            WITH mem AS (
                SELECT n_regionkey AS rk,
                       list_sort(list_prepend('r' || CAST(n_regionkey AS VARCHAR),
                                              list('n' || CAST(n_nationkey AS VARCHAR))))
                         AS lst
                FROM nation GROUP BY n_regionkey
            )
            SELECT 'r' || CAST(n_regionkey AS VARCHAR) AS x,
                   'n' || CAST(n_nationkey AS VARCHAR) AS y,
                   min('n' || CAST(n_nationkey AS VARCHAR)) OVER (PARTITION BY n_regionkey)
                     AS graph_clique_id,
                   to_json(mem.lst) AS clique_list
            FROM nation JOIN mem ON mem.rk = n_regionkey
        """,
        "graph_metrics": f"""
            WITH {_SQL_GRAPH_SYM},
            canon AS (SELECT a, b FROM sym WHERE a < b),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM canon e1 JOIN canon e2 ON e1.b = e2.a
                JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            corners AS (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ),
            tc AS (SELECT node, count(*) AS triangles FROM corners GROUP BY node),
            deg AS (SELECT a AS node, count(*) AS degree FROM sym GROUP BY a)
            SELECT CAST(d.node AS BIGINT) AS node, d.degree,
                   coalesce(tc.triangles, 0) AS triangles,
                   round(CASE WHEN d.degree < 2 THEN 0.0
                              ELSE 2.0 * coalesce(tc.triangles, 0)
                                   / (d.degree * (d.degree - 1.0)) END, 6) AS clustering
            FROM deg d LEFT JOIN tc ON tc.node = d.node
        """,
        "pagerank": _sql_pagerank(20),
        "ppr": _sql_ppr(10),
        "hits": _sql_hits(8),
        "k_truss": _sql_k_truss(4, 4),
        "label_prop": _sql_label_prop(5),
        "link_predict": _SQL_LINK_PREDICT,
        "modularity": _sql_modularity(5),
        # llm.bloom_decontaminate (n=5 grams, m=2^14 bits, k=3, thr=0.5,
        # benchmark = doc_id % 20 slice) — same md5 bit positions
        "bloom_decontaminate": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS toks
                         FROM documents),
            ks AS (SELECT unnest([0, 1, 2]) AS i),
            bg AS (SELECT DISTINCT g FROM (
                       SELECT unnest({wgrams.format(n=5, m=4)}) AS g FROM tok
                       WHERE doc_id % 20 = 0)),
            bpos AS (SELECT ({_SQL_H.format(x="g || '#' || CAST(i AS VARCHAR)")}) % 16384
                            AS pos
                     FROM bg CROSS JOIN ks),
            bloom AS (SELECT pos // 32 AS word,
                             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS mask
                      FROM bpos GROUP BY pos // 32),
            dg AS (SELECT doc_id, unnest(list_distinct({wgrams.format(n=5, m=4)})) AS g
                   FROM tok),
            ppos AS (SELECT doc_id, g,
                            ({_SQL_H.format(x="g || '#' || CAST(i AS VARCHAR)")}) % 16384
                            AS pos
                     FROM dg CROSS JOIN ks),
            ph AS (SELECT doc_id, g,
                          bool_and(coalesce(
                              (mask & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) != 0,
                              false)) AS hit
                   FROM ppos LEFT JOIN bloom ON bloom.word = ppos.pos // 32
                   GROUP BY doc_id, g)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   round(sum(CASE WHEN hit THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS hit_frac,
                   (sum(CASE WHEN hit THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE)) >= 0.5 AS flagged
            FROM ph GROUP BY doc_id
        """,
        # scale.skew_report over (l_returnflag, l_linestatus), top_k=5
        "skew_report": """
            WITH counts AS (
                SELECT concat_ws('|', CAST(l_returnflag AS VARCHAR),
                                 CAST(l_linestatus AS VARCHAR)) AS key,
                       count(*) AS cnt
                FROM lineitem GROUP BY l_returnflag, l_linestatus
            ),
            stats AS (
                SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_sz,
                       quantile_cont(CAST(cnt AS DOUBLE), 0.5) AS p50_sz,
                       quantile_cont(CAST(cnt AS DOUBLE), 0.99) AS p99_sz
                FROM counts
            ),
            top AS (
                SELECT key, cnt,
                       row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank
                FROM counts QUALIFY rank <= 5
            )
            SELECT rank, key, cnt,
                   round(cnt / CAST(n_rows AS DOUBLE), 6) AS share,
                   round(cnt * n_keys / CAST(n_rows AS DOUBLE), 6) AS skew,
                   n_keys,
                   round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS mean_sz,
                   p50_sz, p99_sz, max_sz
            FROM top CROSS JOIN stats
        """,
        # DSIR hashed-ngram importance weights (llm.dsir_weights,
        # buckets=4096, alpha=1, target = lang='en' slice)
        "dsir": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS toks
                         FROM documents),
            g AS (
                SELECT doc_id, unnest(toks) AS gram FROM tok
                UNION ALL
                SELECT doc_id, unnest({wgrams.format(n=2, m=1)}) FROM tok
            ),
            bk AS (SELECT doc_id, ({_SQL_H.format(x='gram')}) % 4096 AS b FROM g),
            tc AS (SELECT b, count(*) AS c FROM bk JOIN documents USING (doc_id)
                   WHERE lang = 'en' GROUP BY b),
            tt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) + 4096.0 AS denom FROM tc),
            rc AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
            rt AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) + 4096.0 AS denom FROM rc),
            dc AS (SELECT doc_id, b, count(*) AS n FROM bk GROUP BY doc_id, b),
            per AS (
                SELECT dc.doc_id, dc.b, dc.n,
                       dc.n * (ln((coalesce(tc.c, 0) + 1.0) / tt.denom)
                               - ln((coalesce(rc.c, 0) + 1.0) / rt.denom)) AS w
                FROM dc CROSS JOIN tt CROSS JOIN rt
                LEFT JOIN tc ON tc.b = dc.b
                LEFT JOIN rc ON rc.b = dc.b
            )
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
                   round(sum(w ORDER BY b), 6) AS logweight
            FROM per GROUP BY doc_id
        """,
        "eigenvector": _sql_eigenvector(30),
        "bpe_train": _sql_bpe_train(8),
        "bpe_encode": _sql_bpe_encode(8),
        "closeness_anf_exact": _sql_closeness_anf_exact(),
        "chunk_documents": f"""
            WITH t AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS ws
                       FROM documents WHERE length({norm_text}) > 0),
            s AS (SELECT doc_id, ws,
                         [CAST(x AS BIGINT) for x in range(1, len(ws) + 1, 24)] AS starts
                  FROM t),
            u AS (SELECT doc_id, ws,
                         unnest([{{'cid': CAST(i - 1 AS BIGINT),
                                   'start': starts[CAST(i AS INT)]}}
                                 for i in range(1, len(starts) + 1)]) AS c
                  FROM s),
            p AS (SELECT doc_id, c.cid AS chunk_id, c.start AS start_tok,
                         ws[CAST(c.start AS INT):CAST(c.start + 31 AS INT)] AS piece
                  FROM u)
            SELECT doc_id, chunk_id, start_tok,
                   CAST(len(piece) AS INT) AS n_tokens_chunk,
                   array_to_string(piece, ' ') AS chunk_text
            FROM p
        """,
        "source_mix": f"""
            WITH per AS (SELECT source, lang,
                                CAST(count(*) AS BIGINT) AS n_docs,
                                CAST(sum(len(string_split_regex({norm_text}, '\\s+')))
                                     AS BIGINT) AS n_tokens,
                                CAST(sum(length(text)) AS BIGINT) AS n_chars
                         FROM documents GROUP BY source, lang),
            tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS t FROM per)
            SELECT source, lang, n_docs, n_tokens, n_chars,
                   round(n_docs / tot.t, 6) AS doc_share
            FROM per CROSS JOIN tot
        """,
        "bigram_logprob": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS ws
                         FROM documents),
            bi AS (SELECT doc_id,
                          unnest([{{'pos': i, 'w1': ws[CAST(i AS INT)],
                                    'w2': ws[CAST(i AS INT) + 1]}}
                                  for i in range(1, len(ws))]) AS s
                   FROM tok),
            b2 AS (SELECT doc_id, s.pos AS pos, s.w1 AS w1, s.w2 AS w2 FROM bi),
            bc AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY w1, w2),
            hc AS (SELECT w1, count(*) AS ch FROM b2 GROUP BY w1)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(sum(ln(CAST(cb AS DOUBLE) / CAST(ch AS DOUBLE)) ORDER BY pos)
                         / count(*), 4) AS avg_bigram_lp
            FROM b2 JOIN bc USING (w1, w2) JOIN hc USING (w1)
            GROUP BY doc_id
        """,
        # interpolated Kneser-Ney bigram (llm.kn_bigram_logprob, D=0.75,
        # trained on the corpus itself; same position-ordered fold)
        "kn_bigram": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS ws
                         FROM documents),
            bi AS (SELECT doc_id,
                          unnest([{{'pos': i, 'w1': ws[CAST(i AS INT)],
                                    'w2': ws[CAST(i AS INT) + 1]}}
                                  for i in range(1, len(ws))]) AS s
                   FROM tok),
            b2 AS (SELECT doc_id, s.pos AS pos, s.w1 AS w1, s.w2 AS w2 FROM bi),
            bc AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY w1, w2),
            hc AS (SELECT w1, count(*) AS ch FROM b2 GROUP BY w1),
            fw AS (SELECT w1, count(*) AS n1fw FROM bc GROUP BY w1),
            bw AS (SELECT w2, count(*) AS n1bw FROM bc GROUP BY w2),
            tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bc)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(sum(ln((greatest(cb - 0.75, 0.0)
                                 + 0.75 * n1fw * (n1bw / t)) / ch)
                             ORDER BY pos) / count(*), 6) AS avg_kn_lp
            FROM b2 JOIN bc USING (w1, w2) JOIN hc USING (w1)
                 JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN tt
            GROUP BY doc_id
        """,
        # multinomial NB, add-one smoothing: dense (label, vocab-token)
        # model, prior+fold score, argmax with label tie-break (mirrors
        # llm.nb_train/nb_score; labels = source, train == test corpus)
        "nb_classify": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS ws
                         FROM documents),
            pos0 AS (SELECT doc_id,
                            unnest([{{'pos': i, 'token': ws[CAST(i AS INT)]}}
                                    for i in range(1, len(ws) + 1)]) AS s
                     FROM tok),
            p2 AS (SELECT doc_id, s.pos AS pos, s.token AS token FROM pos0),
            lab AS (SELECT doc_id, source AS label FROM documents),
            counts AS (SELECT l.label, p.token, count(*) AS c
                       FROM p2 p JOIN lab l USING (doc_id) GROUP BY l.label, p.token),
            nl AS (SELECT label, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY label),
            vocab AS (SELECT DISTINCT token FROM p2),
            v AS (SELECT count(*) AS v FROM vocab),
            prior AS (SELECT source AS label, count(*) AS d FROM documents GROUP BY source),
            pt AS (SELECT CAST(sum(d) AS DOUBLE) AS dt FROM prior),
            dense AS (SELECT nl.label, vo.token,
                             ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                                / CAST(nl.n + v.v AS DOUBLE)) AS lp,
                             ln(prior.d / pt.dt) AS log_prior
                      FROM nl CROSS JOIN vocab vo CROSS JOIN v CROSS JOIN pt
                      JOIN prior ON prior.label = nl.label
                      LEFT JOIN counts c ON c.label = nl.label AND c.token = vo.token),
            score AS (SELECT p.doc_id, d.label,
                             min(d.log_prior) + sum(d.lp ORDER BY p.pos) AS sc
                      FROM p2 p JOIN dense d ON d.token = p.token
                      GROUP BY p.doc_id, d.label),
            ranked AS (SELECT doc_id, label, sc,
                              row_number() OVER (PARTITION BY doc_id
                                                 ORDER BY sc DESC, label ASC) AS rn,
                              lead(sc) OVER (PARTITION BY doc_id
                                             ORDER BY sc DESC, label ASC) AS nx
                       FROM score)
            SELECT doc_id, label, round(sc, 4) AS score, round(sc - nx, 4) AS margin
            FROM ranked WHERE rn = 1
        """,
        # cross-doc duplicate n-gram fraction (llm.dup_ngram_fraction n=5)
        "dup_ngrams": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS toks
                         FROM documents),
            g AS (SELECT doc_id, unnest(list_distinct({wgrams.format(n=5, m=4)})) AS gram
                  FROM tok),
            gh AS (SELECT doc_id, {_SQL_H.format(x='gram')} AS h FROM g),
            own AS (SELECT h, count(*) AS docs FROM gh GROUP BY h)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   round(CAST(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS dup_frac
            FROM gh JOIN own USING (h) GROUP BY doc_id
        """,
        "k_core": _sql_k_core(3, 20),
        "square_clustering": _SQL_SQUARE_CLUSTERING,
        "dedup_exact": "SELECT doc_id, text FROM documents",
        "zorder": _sql_zorder(),
        "minhash_sig": f"""
            WITH t AS (SELECT doc_id, {norm_text} AS s FROM documents),
            sh AS (SELECT doc_id, {shingles3} AS shingles FROM t),
            hs AS (SELECT doc_id,
                          list_transform(shingles, g -> {_SQL_H.format(x='g')}) AS hs
                   FROM sh)
            SELECT doc_id,
                   to_json([list_min(list_transform(hs,
                        h -> xor(h, {_SQL_H.format(x="'perm#' || CAST(p AS VARCHAR)")})))
                    for p in range(0, 8)]) AS sig
            FROM hs
        """,
        "minhash_pairs": f"""
            WITH all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz extra' FROM documents
            ),
            t AS (SELECT id, {norm_text} AS s FROM all_docs),
            sh AS (SELECT id, {shingles5} AS shingles FROM t),
            sig AS (
                SELECT id, shingles,
                       [list_min(list_transform(
                            list_transform(shingles, g -> {_SQL_H.format(x='g')}),
                            h -> xor(h, {_SQL_H.format(x="'perm#' || CAST(p AS VARCHAR)")})))
                        for p in range(0, 16)] AS sg
                FROM sh
            ),
            bands AS (
                SELECT id, shingles, p.b AS band,
                       CAST(sg[p.b * 4 + 1] AS VARCHAR) || '-' || CAST(sg[p.b * 4 + 2] AS VARCHAR)
                         || '-' || CAST(sg[p.b * 4 + 3] AS VARCHAR)
                         || '-' || CAST(sg[p.b * 4 + 4] AS VARCHAR)
                         AS key
                FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) p
            ),
            cand AS (
                SELECT DISTINCT a.id AS id1, b.id AS id2
                FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
            ),
            hs AS (SELECT id, list_transform(shingles, g -> {_SQL_H.format(x='g')}) AS h FROM sh),
            inter AS (
                SELECT c.id1, c.id2,
                       CAST(len(list_intersect(h1.h, h2.h)) AS DOUBLE) AS i,
                       len(h1.h) + len(h2.h) AS n
                FROM cand c
                JOIN hs h1 ON h1.id = c.id1
                JOIN hs h2 ON h2.id = c.id2
            )
            SELECT id1, id2, round(i / (n - i), 6) AS jaccard
            FROM inter WHERE round(i / (n - i), 6) >= 0.8
        """,
        # cross-corpus MinHash contamination (llm.crosscorpus_neardup
        # defaults num_perm=16, bands=8 -> 2 rows/band); benchmark = every
        # 20th doc + ' zz qq', ids + 50000
        "decontaminate_fuzzy": f"""
            WITH corpus AS (SELECT doc_id, {norm_text} AS s FROM documents),
            bench AS (SELECT doc_id + 50000 AS bench_id,
                             {_SQL_NORM.format(c="text || ' zz qq'")} AS s
                      FROM documents WHERE doc_id % 20 = 0),
            chs AS (SELECT doc_id,
                           list_transform({shingles3}, g -> {_SQL_H.format(x='g')}) AS h
                    FROM corpus),
            bhs AS (SELECT bench_id,
                           list_transform({shingles3}, g -> {_SQL_H.format(x='g')}) AS h
                    FROM bench),
            csig AS (SELECT doc_id,
                            [list_min(list_transform(h,
                                 x -> xor(x, {_SQL_H.format(x="'perm#' || CAST(p AS VARCHAR)")})))
                             for p in range(0, 16)] AS sg
                     FROM chs),
            bsig AS (SELECT bench_id,
                            [list_min(list_transform(h,
                                 x -> xor(x, {_SQL_H.format(x="'perm#' || CAST(p AS VARCHAR)")})))
                             for p in range(0, 16)] AS sg
                     FROM bhs),
            cb AS (SELECT doc_id, p.b AS band,
                          CAST(sg[p.b * 2 + 1] AS VARCHAR) || '-' ||
                          CAST(sg[p.b * 2 + 2] AS VARCHAR) AS key
                   FROM csig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) p),
            bb AS (SELECT bench_id, p.b AS band,
                          CAST(sg[p.b * 2 + 1] AS VARCHAR) || '-' ||
                          CAST(sg[p.b * 2 + 2] AS VARCHAR) AS key
                   FROM bsig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) p),
            cand AS (SELECT DISTINCT cb.doc_id, bb.bench_id
                     FROM cb JOIN bb ON cb.band = bb.band AND cb.key = bb.key),
            inter AS (SELECT c.doc_id, c.bench_id,
                             CAST(len(list_intersect(h1.h, h2.h)) AS DOUBLE) AS i,
                             len(h1.h) + len(h2.h) AS n
                      FROM cand c
                      JOIN chs h1 ON h1.doc_id = c.doc_id
                      JOIN bhs h2 ON h2.bench_id = c.bench_id)
            SELECT doc_id, bench_id, round(i / (n - i), 6) AS jaccard
            FROM inter WHERE round(i / (n - i), 6) >= 0.5
        """,
        "dedup_near": f"""
            WITH RECURSIVE all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz extra' FROM documents WHERE doc_id < 100
            ),
            t AS (SELECT id, {norm_text} AS s FROM all_docs),
            sh AS (SELECT id, {shingles5} AS shingles FROM t),
            sig AS (
                SELECT id, shingles,
                       [list_min(list_transform(
                            list_transform(shingles, g -> {_SQL_H.format(x='g')}),
                            h -> xor(h, {_SQL_H.format(x="'perm#' || CAST(p AS VARCHAR)")})))
                        for p in range(0, 16)] AS sg
                FROM sh
            ),
            bands AS (
                SELECT id, shingles, p.b AS band,
                       CAST(sg[p.b * 4 + 1] AS VARCHAR) || '-' || CAST(sg[p.b * 4 + 2] AS VARCHAR)
                         || '-' || CAST(sg[p.b * 4 + 3] AS VARCHAR)
                         || '-' || CAST(sg[p.b * 4 + 4] AS VARCHAR)
                         AS key
                FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) p
            ),
            cand AS (
                SELECT DISTINCT a.id AS id1, b.id AS id2
                FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
            ),
            hs AS (SELECT id, list_transform(shingles, g -> {_SQL_H.format(x='g')}) AS h FROM sh),
            pairs AS MATERIALIZED (
                SELECT c.id1, c.id2
                FROM cand c
                JOIN hs h1 ON h1.id = c.id1
                JOIN hs h2 ON h2.id = c.id2
                WHERE round(CAST(len(list_intersect(h1.h, h2.h)) AS DOUBLE)
                            / (len(h1.h) + len(h2.h) - len(list_intersect(h1.h, h2.h))), 6) >= 0.8
            ),
            edges AS MATERIALIZED (
                SELECT id1 AS a, id2 AS b FROM pairs
                UNION
                SELECT id2, id1 FROM pairs
            ),
            -- min-label reachability: every label walks its component; the
            -- UNION dedup bounds the state at (node, reachable-label) pairs
            reach(node, lbl) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
            ),
            losers AS (
                SELECT node FROM reach GROUP BY node HAVING node != min(lbl)
            )
            SELECT id AS doc_id FROM all_docs
            WHERE id NOT IN (SELECT node FROM losers)
        """,
        "c4_lines": f"""
            WITH d AS (SELECT doc_id,
                              replace(replace(text, ' a ', '.' || chr(10)),
                                      ' the ', ' javascript ') AS text
                       FROM documents),
            l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM d),
            k AS (SELECT doc_id, text, lines,
                         list_filter(lines, ln ->
                             regexp_matches(trim(ln), '[.!?"]$')
                             AND len(string_split_regex(trim(ln), '\\s+')) >= 5
                             AND NOT contains(lower(ln), 'javascript')) AS kept
                  FROM l)
            SELECT doc_id,
                   CAST(len(lines) AS INT) AS n_lines,
                   CAST(len(kept) AS INT) AS n_kept,
                   len(kept) >= 3
                     AND NOT contains(lower(text), 'lorem ipsum')
                     AND NOT contains(lower(text), '{{') AS keep_doc,
                   coalesce(array_to_string(kept, chr(10)), '') AS text_clean
            FROM k
        """,
        "blocklist": f"""
            WITH t AS (SELECT doc_id,
                              string_split_regex({norm_text}, '\\s+') AS toks
                       FROM documents),
            h AS (SELECT doc_id,
                         CAST(len(toks) AS INT) AS n_tokens,
                         CAST(len(list_filter(toks, x -> x IN ('spark', 'join'))) AS INT)
                           AS n_hits
                  FROM t)
            SELECT doc_id, n_tokens, n_hits,
                   CASE WHEN n_tokens > 0
                        THEN round(CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                        ELSE 0.0 END AS hit_rate,
                   CASE WHEN n_tokens > 0
                        THEN round(CAST(n_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                        ELSE 0.0 END <= 0.05 AS keep
            FROM h
        """,
        "kmeans": _sql_kmeans(),
        "kcenter": _sql_kcenter(8),
        "hll_distinct": _sql_hll_distinct(8),
        "mmr": _sql_mmr(8, 0.7, 20),
        "pq_encode": _sql_pq(8, 16, 2),
        "ann_pq": _sql_ann_pq(8, 16, 2, 5),
        # joins.geo_join: exact brute-force haversine radius join over
        # the same synthetic coordinates (blocking must lose nothing)
        "geo_join": """
            WITH c AS (SELECT c_custkey,
                              -60.0 + (c_custkey % 120) * 0.937 AS la,
                              -170.0 + ((c_custkey * 7) % 340) * 0.991 AS lo
                       FROM customer),
            s AS (SELECT s_suppkey,
                         -60.0 + ((s_suppkey * 15) % 120) * 0.937 + 0.05 AS la,
                         -170.0 + (((s_suppkey * 15) * 7) % 340) * 0.991 + 0.05 AS lo
                  FROM supplier),
            d AS (SELECT c_custkey, s_suppkey,
                         round(2.0 * 6371.0088 * asin(sqrt(
                             sin(radians(s.la - c.la) / 2) * sin(radians(s.la - c.la) / 2)
                             + cos(radians(c.la)) * cos(radians(s.la))
                               * sin(radians(s.lo - c.lo) / 2)
                               * sin(radians(s.lo - c.lo) / 2))), 1) AS dist_km
                  FROM c CROSS JOIN s)
            SELECT c_custkey, s_suppkey, dist_km FROM d WHERE dist_km <= 25.0
        """,
        # llm.ngram_novelty: min-owner first-occurrence fraction, n=5
        "ngram_novelty": f"""
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text FROM documents
            ),
            tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS toks
                    FROM all_docs),
            g AS (SELECT doc_id, unnest(list_distinct({wgrams.format(n=5, m=4)})) AS gram
                  FROM tok),
            gh AS (SELECT doc_id, {_SQL_H.format(x='gram')} AS h FROM g),
            fo AS (SELECT h, min(doc_id) AS first FROM gh GROUP BY h)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   round(CAST(sum(CASE WHEN doc_id = first THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS novel_frac
            FROM gh JOIN fo USING (h) GROUP BY doc_id
        """,
        # llm.split_corpus: hash-bucket split at integer millionths
        "split_corpus": f"""
            SELECT doc_id,
                   CASE WHEN b < 980000 THEN 'train'
                        WHEN b < 990000 THEN 'val'
                        WHEN b < 1000000 THEN 'test' END AS split
            FROM (SELECT doc_id,
                         ({_SQL_H.format(x="'split:' || CAST(doc_id AS VARCHAR)")})
                         % 1000000 AS b
                  FROM documents)
        """,
        # llm.count_min_sketch + cms_query (width 1024, depth 3)
        "cms": f"""
            WITH toks AS (SELECT unnest(string_split_regex({norm_text}, '\\s+')) AS t
                          FROM documents),
            rs AS (SELECT unnest([0, 1, 2]) AS r),
            cells AS (SELECT r,
                             ({_SQL_H.format(x="CAST(r AS VARCHAR) || '#' || t")}) % 1024
                               AS cell,
                             count(*) AS cnt
                      FROM toks CROSS JOIN rs GROUP BY 1, 2),
            q AS (SELECT term, r,
                         ({_SQL_H.format(x="CAST(r AS VARCHAR) || '#' || term")}) % 1024
                           AS cell
                  FROM (VALUES ('table'), ('spark'), ('value'), ('zzz')) t(term)
                  CROSS JOIN rs)
            SELECT term, min(coalesce(cnt, 0)) AS est
            FROM q LEFT JOIN cells USING (r, cell) GROUP BY term
        """,
        # llm.write_training_shards: manifest of the round-robin shards
        # over the deterministic md5 shuffle order (salt 'shuf')
        "training_shards": f"""
            WITH h AS (SELECT doc_id,
                              {_SQL_H.format(x="'shuf:' || CAST(doc_id AS VARCHAR)")} AS h,
                              {_SQL_H.format(x="CAST(doc_id AS VARCHAR)")} AS idh
                       FROM documents),
            r AS (SELECT doc_id, idh,
                         row_number() OVER (ORDER BY h ASC, doc_id ASC) AS pos
                  FROM h)
            SELECT CAST(pos % 8 AS BIGINT) AS shard,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   bit_xor(idh) AS id_checksum
            FROM r GROUP BY pos % 8
        """,
        # quality.snapshot_diff: removed %97, changed %13, added %31+1e6
        "snapshot_diff": """
            WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
            nw AS (
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100
                            ELSE c_acctbal END AS c_acctbal
                FROM base WHERE c_custkey % 97 != 0
                UNION ALL
                SELECT c_custkey + 1000000, c_name, c_acctbal FROM base
                WHERE c_custkey % 31 = 0
            ),
            d AS (
                SELECT coalesce(b.c_custkey, n.c_custkey) AS c_custkey,
                       CASE WHEN b.c_custkey IS NULL THEN 'added'
                            WHEN n.c_custkey IS NULL THEN 'removed'
                            WHEN b.c_name IS DISTINCT FROM n.c_name
                                 OR b.c_acctbal IS DISTINCT FROM n.c_acctbal
                                 THEN 'changed' END AS status
                FROM base b FULL OUTER JOIN nw n ON n.c_custkey = b.c_custkey
            )
            SELECT c_custkey, status FROM d WHERE status IS NOT NULL
        """,
        # features.retention_cohorts: day buckets over the event log
        "retention": """
            WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b FROM events),
            f AS (SELECT user_id, min(b) AS cohort FROM e GROUP BY user_id)
            SELECT cohort AS cohort_bucket, b - cohort AS age,
                   CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
            FROM e JOIN f USING (user_id) GROUP BY cohort, b - cohort
        """,
        # features.histogram: 12 fixed-width bins over l_extendedprice
        "histogram": """
            WITH s AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo0,
                              max(CAST(l_extendedprice AS DOUBLE)) AS hi0
                       FROM lineitem),
            c AS (SELECT least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - lo0)
                                          / ((hi0 - lo0) / 12)) AS INT), 11) AS bin,
                         count(*) AS cnt
                  FROM lineitem CROSS JOIN s GROUP BY 1),
            g AS (SELECT unnest(range(0, 12)) AS bin)
            SELECT CAST(g.bin AS BIGINT) AS bin,
                   round(lo0 + g.bin * ((hi0 - lo0) / 12), 6) AS lo,
                   round(lo0 + (g.bin + 1) * ((hi0 - lo0) / 12), 6) AS hi,
                   coalesce(cnt, CAST(0 AS BIGINT)) AS cnt
            FROM g CROSS JOIN s LEFT JOIN c ON c.bin = g.bin
        """,
        # quality.k_anonymity over (nation, segment), sensitive=acctbal
        "k_anonymity": """
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS class_size,
                   CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
                   count(*) < 5 AS violates_k,
                   count(DISTINCT c_acctbal) < 3 AS violates_l
            FROM customer GROUP BY c_nationkey, c_mktsegment
        """,
        "soundex": f"""
            SELECT p_partkey,
                   {_sql_soundex_expr("string_split(p_name, ' ')[1]")} AS sx1,
                   {_sql_soundex_expr("string_split(p_name, ' ')[2]")} AS sx2
            FROM part
        """,
        # features.robust_scale: (x - median) / (1.4826 * MAD) per group
        "robust_scale": """
            WITH med AS (SELECT l_returnflag,
                                quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
                         FROM lineitem GROUP BY l_returnflag),
            wm AS (SELECT l_orderkey, l_linenumber, l.l_returnflag,
                          CAST(l_extendedprice AS DOUBLE) AS x, med
                   FROM lineitem l JOIN med USING (l_returnflag)),
            mad AS (SELECT l_returnflag, quantile_cont(abs(x - med), 0.5) AS mad
                    FROM wm GROUP BY l_returnflag)
            SELECT l_orderkey, l_linenumber, wm.l_returnflag,
                   round(CASE WHEN mad > 0 THEN (x - med) / (1.4826 * mad)
                              ELSE 0.0 END, 6) AS price_rs
            FROM wm JOIN mad USING (l_returnflag)
        """,
        # features.rolling_agg: trailing 1h RANGE frame per user; sums on
        # 100x-scaled BIGINTs so the rolling sum is engine-exact
        "rolling_agg": """
            WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                              CAST(floor(value * 100 + 0.5) AS BIGINT) AS sv
                       FROM events)
            SELECT event_id, user_id, ts_us,
                   CAST(count(*) OVER w AS BIGINT) AS roll_cnt,
                   round(CAST(sum(sv) OVER w AS BIGINT) / 100.0, 6) AS roll_sum,
                   round(CAST(sum(sv) OVER w AS BIGINT)
                         / (100.0 * count(*) OVER w), 6) AS roll_avg
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        # llm.containment_pairs: |S1∩S2|/|S1| on distinct 5-shingle sets
        "containment": f"""
            WITH all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, substr(text, 1, 80) FROM documents
                WHERE doc_id < 100
            ),
            t AS (SELECT id, {norm_text} AS s FROM all_docs),
            sh AS (SELECT id, {shingles5} AS shingles FROM t),
            inter AS (
                SELECT a.id AS id1, b.id AS id2,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS i,
                       len(a.shingles) AS n1
                FROM sh a JOIN sh b ON a.id != b.id
                WHERE len(a.shingles) > 0
            )
            SELECT id1, id2, round(i / n1, 6) AS containment
            FROM inter WHERE round(i / n1, 6) >= 0.9
        """,
        # features.winsorize: clip to the in-group [p05, p95] band
        "winsorize": """
            WITH b AS (SELECT l_returnflag,
                              quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
                              quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
                       FROM lineitem GROUP BY l_returnflag)
            SELECT l_orderkey, l_linenumber, l.l_returnflag,
                   round(least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi), 6)
                     AS price_w
            FROM lineitem l JOIN b USING (l_returnflag)
        """,
        # ml.classifier_eval over (gold=lang, pred=language_id heuristic)
        "classifier_eval": f"""
            WITH t AS (SELECT doc_id,
                              string_split_regex({norm_text}, '\\s+') AS toks
                       FROM documents),
            c AS (SELECT doc_id,
                         len(list_filter(toks, tk -> list_contains({en}, tk))) AS c_en,
                         len(list_filter(toks, tk -> list_contains({es}, tk))) AS c_es,
                         len(list_filter(toks, tk -> list_contains({de}, tk))) AS c_de,
                         len(list_filter(toks, tk -> list_contains({fr}, tk))) AS c_fr
                  FROM t),
            pred AS (SELECT doc_id,
                            CASE WHEN greatest(c_en, c_es, c_de, c_fr) <= 0 THEN 'und'
                                 WHEN c_en = greatest(c_en, c_es, c_de, c_fr) THEN 'en'
                                 WHEN c_es = greatest(c_en, c_es, c_de, c_fr) THEN 'es'
                                 WHEN c_de = greatest(c_en, c_es, c_de, c_fr) THEN 'de'
                                 ELSE 'fr' END AS p
                     FROM c),
            pairs AS (SELECT d.lang AS g, pr.p AS p, count(*) AS n
                      FROM documents d JOIN pred pr USING (doc_id) GROUP BY d.lang, pr.p),
            sup AS (SELECT g AS label, CAST(sum(n) AS BIGINT) AS support
                    FROM pairs GROUP BY g),
            pc AS (SELECT p AS label, CAST(sum(n) AS BIGINT) AS pred_cnt
                   FROM pairs GROUP BY p),
            tpc AS (SELECT g AS label, CAST(sum(n) AS BIGINT) AS tp
                    FROM pairs WHERE g = p GROUP BY g),
            base AS (SELECT label,
                            coalesce(support, 0) AS support,
                            coalesce(pred_cnt, 0) AS pred_cnt,
                            coalesce(tp, 0) AS tp
                     FROM sup FULL OUTER JOIN pc USING (label)
                     LEFT JOIN tpc USING (label)),
            m AS (SELECT *,
                         CASE WHEN pred_cnt > 0 THEN tp / CAST(pred_cnt AS DOUBLE)
                              ELSE 0.0 END AS pr,
                         CASE WHEN support > 0 THEN tp / CAST(support AS DOUBLE)
                              ELSE 0.0 END AS rc
                  FROM base)
            SELECT label, support, pred_cnt, tp,
                   round(pr, 6) AS precision,
                   round(rc, 6) AS recall,
                   round(CASE WHEN pr + rc > 0 THEN (2.0 * pr * rc) / (pr + rc)
                              ELSE 0.0 END, 6) AS f1
            FROM m
        """,
        # stream-static enrichment == the batch left join (availableNow)
        "stream_enrich": """
            SELECT event_id, user_id, event_type, value, c_mktsegment, c_nationkey
            FROM events LEFT JOIN customer ON c_custkey = user_id
        """,
        "quantize_emb": """
            WITH v AS (SELECT vec_id,
                              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            s AS (SELECT vec_id, e, list_min(e) AS lo,
                         (list_max(e) - list_min(e)) / 255.0 AS sc
                  FROM v),
            q AS (SELECT vec_id, e, lo, sc,
                         CASE WHEN sc = 0 THEN list_transform(e, x -> 0)
                              ELSE list_transform(e, x ->
                                       CAST(floor((x - lo) / sc + 0.5) AS INT)) END AS qq
                  FROM s)
            SELECT vec_id,
                   round(sc, 6) AS scale,
                   round(lo, 6) AS offset,
                   to_json(qq) AS q,
                   round(list_max([abs(CAST(qq[CAST(i AS INT)] AS DOUBLE) * sc + lo
                                       - e[CAST(i AS INT)])
                                   for i in range(1, len(e) + 1)]), 6) AS max_err
            FROM q
        """,
        "oversample": """
            WITH f AS (SELECT doc_id, source,
                              CASE WHEN source = 'src1' THEN 2.5
                                   WHEN source = 'src2' THEN 0.25
                                   ELSE 1.0 END AS r
                       FROM documents),
            e AS (SELECT doc_id, source, r, CAST(floor(r) AS INT) AS whole,
                         CAST(unnest(range(1, CAST(floor(r) AS INT) + 2)) AS INT) AS copy
                  FROM f)
            SELECT doc_id, source, copy
            FROM e
            WHERE copy <= whole
               OR CAST('0x' || substr(md5('over:' || CAST(doc_id AS VARCHAR) || ':'
                                          || CAST(copy AS VARCHAR)), 1, 15) AS BIGINT)
                      % 1000000
                  < CAST(floor((r - whole) * 1000000) AS BIGINT)
        """,
        "perplexity_buckets": f"""
            WITH tok AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS ws
                         FROM documents),
            bi AS (SELECT doc_id,
                          unnest([{{'pos': i, 'w1': ws[CAST(i AS INT)],
                                    'w2': ws[CAST(i AS INT) + 1]}}
                                  for i in range(1, len(ws))]) AS s
                   FROM tok),
            b2 AS (SELECT doc_id, s.pos AS pos, s.w1 AS w1, s.w2 AS w2 FROM bi),
            bc AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY w1, w2),
            hc AS (SELECT w1, count(*) AS ch FROM b2 GROUP BY w1),
            lp AS (SELECT doc_id,
                          round(sum(ln(CAST(cb AS DOUBLE) / CAST(ch AS DOUBLE)) ORDER BY pos)
                                / count(*), 4) AS avg_bigram_lp
                   FROM b2 JOIN bc USING (w1, w2) JOIN hc USING (w1)
                   GROUP BY doc_id),
            b AS (SELECT l.doc_id, d.lang, l.avg_bigram_lp,
                         ntile(3) OVER (PARTITION BY d.lang
                                        ORDER BY l.avg_bigram_lp DESC, l.doc_id ASC) AS bucket
                  FROM lp l JOIN documents d ON d.doc_id = l.doc_id)
            SELECT doc_id, lang, avg_bigram_lp, CAST(bucket AS BIGINT) AS bucket,
                   CASE WHEN bucket = 1 THEN 'head'
                        WHEN bucket = 2 THEN 'middle' ELSE 'tail' END AS band
            FROM b
        """,
        # the &#39; target is chr(39) so the apostrophe needs no SQL escaping
        "strip_html": """
            WITH h AS (SELECT doc_id,
                              '<div class="doc"><p>' || text ||
                              '</p><br/>&nbsp;tail &amp;amp; &lt;b&gt;bold&lt;/b&gt;</div>'
                                AS html
                       FROM documents)
            SELECT doc_id,
                   trim(regexp_replace(
                       replace(replace(replace(replace(replace(replace(
                           regexp_replace(html, '<[^>]*>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
                       '\\s+', ' ', 'g')) AS text_clean
            FROM h
        """,
        "trim_dup_spans": f"""
            WITH t AS (SELECT doc_id, string_split_regex({norm_text}, '\\s+') AS tk
                       FROM documents),
            st AS (SELECT doc_id, tk,
                          CAST(unnest(range(1, greatest(len(tk) - 5 + 2, 1))) AS BIGINT) AS s
                   FROM t),
            g AS (SELECT doc_id, s,
                         {_SQL_H.format(x="array_to_string(tk[CAST(s AS INT):CAST(s + 4 AS INT)], ' ')")} AS h
                  FROM st),
            dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS d FROM g GROUP BY h)
                    WHERE d >= 2),
            cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(s, s + 5)) AS BIGINT) AS pos
                    FROM g WHERE h IN (SELECT h FROM dup)),
            tp AS (SELECT doc_id, tk,
                          CAST(unnest(range(1, len(tk) + 1)) AS BIGINT) AS pos
                   FROM t),
            tp2 AS (SELECT doc_id, pos, tk[CAST(pos AS INT)] AS tok FROM tp)
            SELECT tp2.doc_id,
                   count(*) AS n_tokens,
                   CAST(coalesce(sum(CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END), 0) AS BIGINT)
                     AS n_removed,
                   coalesce(string_agg(tok, ' ' ORDER BY tp2.pos) FILTER (WHERE c.pos IS NULL), '')
                     AS text_clean
            FROM tp2 LEFT JOIN cov c ON c.doc_id = tp2.doc_id AND c.pos = tp2.pos
            GROUP BY tp2.doc_id
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz extra' FROM documents WHERE doc_id < 100
            ),
            t AS (SELECT id, {norm_text} AS s FROM all_docs),
            sh AS (SELECT id, {shingles5} AS shingles FROM t),
            sig AS (
                SELECT id, shingles,
                       [list_min(list_transform(
                            list_transform(shingles, g -> {_SQL_H.format(x='g')}),
                            h -> xor(h, {_SQL_H.format(x="'perm#' || CAST(p AS VARCHAR)")})))
                        for p in range(0, 16)] AS sg
                FROM sh
            ),
            bands AS (
                SELECT id, shingles, p.b AS band,
                       CAST(sg[p.b * 4 + 1] AS VARCHAR) || '-' || CAST(sg[p.b * 4 + 2] AS VARCHAR)
                         || '-' || CAST(sg[p.b * 4 + 3] AS VARCHAR)
                         || '-' || CAST(sg[p.b * 4 + 4] AS VARCHAR)
                         AS key
                FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) p
            ),
            cand AS (
                SELECT DISTINCT a.id AS id1, b.id AS id2
                FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id
            ),
            hs AS (SELECT id, list_transform(shingles, g -> {_SQL_H.format(x='g')}) AS h FROM sh),
            pairs AS MATERIALIZED (
                SELECT c.id1, c.id2
                FROM cand c
                JOIN hs h1 ON h1.id = c.id1
                JOIN hs h2 ON h2.id = c.id2
                WHERE round(CAST(len(list_intersect(h1.h, h2.h)) AS DOUBLE)
                            / (len(h1.h) + len(h2.h) - len(list_intersect(h1.h, h2.h))), 6) >= 0.8
            ),
            edges AS MATERIALIZED (
                SELECT id1 AS a, id2 AS b FROM pairs
                UNION
                SELECT id2, id1 FROM pairs
            ),
            reach(node, lbl) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
            lab AS (SELECT d.id, d.text, coalesce(c.comp, d.id) AS cluster
                    FROM all_docs d LEFT JOIN comp c ON c.node = d.id)
            SELECT id AS doc_id, cluster FROM lab
            QUALIFY row_number() OVER (PARTITION BY cluster
                                       ORDER BY length(text) DESC, id ASC) = 1
        """,
        "shuffle_order": f"""
            SELECT event_id,
                   row_number() OVER (
                       ORDER BY {_SQL_H.format(x="'shuf:' || CAST(event_id AS VARCHAR)")} ASC,
                                event_id ASC) AS shuffle_pos
            FROM events
        """,
        "stratified_topn": f"""
            SELECT event_id, event_type FROM events
            QUALIFY row_number() OVER (
                PARTITION BY event_type
                ORDER BY {_SQL_H.format(x="'strat:' || CAST(event_id AS VARCHAR)")} ASC,
                         event_id ASC) <= 50
        """,
        "orc_roundtrip": """
            SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        """,
        "simhash": f"""
            WITH t AS (SELECT doc_id,
                              string_split_regex({norm_text}, '\\s+') AS toks
                       FROM documents)
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(0, 60), i ->
                       CASE WHEN list_sum(list_transform(toks, tk ->
                                CASE WHEN ({_SQL_H.format(x='tk')} >> CAST(i AS INT)) & 1 = 1
                                     THEN 1 ELSE -1 END)) > 0
                            THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT)
                     AS simhash
            FROM t
        """,
        "fingerprint": f"""
            WITH t AS (SELECT doc_id, {norm_text} AS s FROM documents),
            g AS (SELECT doc_id,
                         CASE WHEN length(s) <= 5 THEN [s]
                              ELSE [substr(s, CAST(i AS INT), 5) for i in range(1, length(s) - 3)]
                         END AS grams
                  FROM t),
            h AS (SELECT doc_id,
                         list_transform(grams, gr -> {_SQL_H.format(x='gr')}) AS hs
                  FROM g)
            SELECT doc_id,
                   to_json(list_sort(list_distinct(
                       [list_min(hs[CAST(i AS INT):CAST(i AS INT) + 3])
                        for i in range(1, greatest(len(hs) - 3, 1) + 1)]))) AS fp
            FROM h
        """,
        "build_vocab": f"""
            WITH t AS (SELECT doc_id, unnest(string_split_regex({norm_text}, '\\s+')) AS token
                       FROM documents),
            v AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
                  FROM t GROUP BY token HAVING count(DISTINCT doc_id) >= 2),
            r AS (SELECT token, tf, df,
                         CAST(row_number() OVER (ORDER BY tf DESC, token ASC) AS INT) AS rank
                  FROM v)
            SELECT token, tf, df, rank FROM r WHERE rank <= 40
        """,
        "bpe_pairs": f"""
            WITH t AS (SELECT unnest(string_split_regex({norm_text}, '\\s+')) AS word
                       FROM documents),
            w AS (SELECT word, count(*) AS wf FROM t
                  WHERE length(word) >= 2 GROUP BY word),
            p AS (SELECT wf,
                         unnest([substring(word, CAST(i AS INT), 2)
                                 for i in range(1, length(word))]) AS pair
                  FROM w),
            c AS (SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt FROM p
                  GROUP BY pair HAVING sum(wf) >= 2),
            r AS (SELECT pair, cnt,
                         CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS INT) AS rank
                  FROM c)
            SELECT pair, cnt, rank FROM r WHERE rank <= 40
        """,
        "char_entropy": f"""
            WITH c AS (SELECT doc_id, unnest(string_split({norm_text}, '')) AS ch
                       FROM documents),
            h AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY doc_id, ch),
            m AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                         sum(c * ln(c) ORDER BY ch) AS s
                  FROM h GROUP BY doc_id)
            SELECT doc_id, n AS n_chars_norm, round(ln(n) - s / n, 4) AS entropy
            FROM m
        """,
        "collocations": f"""
            WITH t AS (SELECT string_split_regex({norm_text}, '\\s+') AS l
                       FROM documents),
            uc AS (SELECT w, count(*) AS cw
                   FROM (SELECT unnest(l) AS w FROM t) GROUP BY w),
            nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uc),
            bc AS (SELECT pair, count(*) AS cab
                   FROM (SELECT unnest([l[CAST(i AS INT)] || ' ' || l[CAST(i AS INT) + 1]
                                        for i in range(1, len(l))]) AS pair
                         FROM t)
                   GROUP BY pair),
            nb AS (SELECT CAST(sum(cab) AS DOUBLE) AS nb FROM bc)
            SELECT bc.pair, bc.cab, u1.cw AS c1, u2.cw AS c2,
                   round(ln((bc.cab / nb.nb)
                            / ((u1.cw / nu.nu) * (u2.cw / nu.nu))), 4) AS pmi
            FROM bc
            JOIN uc u1 ON u1.w = string_split(bc.pair, ' ')[1]
            JOIN uc u2 ON u2.w = string_split(bc.pair, ' ')[2]
            CROSS JOIN nu CROSS JOIN nb
            WHERE bc.cab >= 30
        """,
        "dedup_incremental": f"""
            WITH d AS (SELECT doc_id, text,
                              {_SQL_H.format(x=norm_text)} AS sig
                       FROM documents)
            SELECT d.sig, d.doc_id, d.text FROM d
            WHERE d.sig NOT IN (SELECT sig FROM d WHERE doc_id < 100)
        """,
        "unigram_logprob": f"""
            WITH t AS (SELECT doc_id,
                              unnest(string_split_regex({norm_text}, '\\s+')) AS term
                       FROM documents),
            v AS (SELECT term, count(*) AS tf FROM t GROUP BY term),
            tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM v)
            SELECT t.doc_id,
                   count(*) AS n_tokens,
                   round(avg(ln(v.tf / tot.total)), 4) AS avg_logprob
            FROM t JOIN v USING (term) CROSS JOIN tot
            GROUP BY t.doc_id
        """,
        "tfidf_topk": f"""
            WITH t AS (SELECT doc_id,
                              unnest(string_split_regex({norm_text}, '\\s+')) AS term
                       FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
                    HAVING count(*) >= 2),
            n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
            s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                         round(tf.tf * ln(CAST(n.nd AS DOUBLE) / dfq.df), 4) AS score
                  FROM tf JOIN dfq USING (term) CROSS JOIN n),
            r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS INT) AS rank
                  FROM s)
            SELECT term, doc_id, tf, df, score, rank FROM r WHERE rank <= 3
        """,
        "percentile_gate": f"""
            WITH s AS (SELECT doc_id, lang,
                              CAST(len(string_split_regex({norm_text}, '\\s+')) AS INT) AS n_tokens
                       FROM documents),
            t AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS thr FROM s GROUP BY lang)
            SELECT s.lang, s.doc_id, s.n_tokens
            FROM s JOIN t USING (lang) WHERE s.n_tokens >= t.thr
        """,
        "range_join": """
            WITH iv AS (SELECT c_nationkey AS iv_nation,
                               min(c_acctbal) AS lo,
                               min(c_acctbal) + 2000.0 AS hi
                        FROM customer GROUP BY c_nationkey)
            SELECT c.c_custkey, c.c_acctbal, iv.iv_nation, iv.lo, iv.hi
            FROM customer c JOIN iv
              ON c.c_acctbal >= iv.lo AND c.c_acctbal < iv.hi
        """,
        "pivot": """
            SELECT l_returnflag,
                   round(sum(l_quantity) FILTER (l_linestatus = 'F'), 2) AS qty_f,
                   round(sum(l_quantity) FILTER (l_linestatus = 'O'), 2) AS qty_o
            FROM lineitem GROUP BY l_returnflag
        """,
        "melt": """
            SELECT c_custkey, 'c_acctbal' AS variable, c_acctbal AS value FROM customer
            UNION ALL
            SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
        """,
        "rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(l_orderkey) AS n_rows,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        # Deequ-style single-pass rule report (quality.dq_check); the
        # measure CTE mirrors the one-aggregate compilation
        "dq_check": """
            WITH m AS (SELECT
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) - count(DISTINCT c_custkey)
                     - max(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS m0,
                CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m1,
                CAST(sum(CASE WHEN c_acctbal IS NULL OR c_acctbal < 0.0
                          THEN 1 ELSE 0 END) AS BIGINT) AS m2,
                CAST(sum(CASE WHEN c_acctbal IS NULL OR c_acctbal > 10000.0
                          THEN 1 ELSE 0 END) AS BIGINT) AS m3,
                CAST(sum(CASE WHEN NOT c_mktsegment IN
                               ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD')
                          THEN 1 ELSE 0 END) AS BIGINT) AS m4,
                CAST(sum(CASE WHEN c_name IS NULL
                               OR NOT regexp_matches(c_name, '^Customer#[0-9]+$')
                          THEN 1 ELSE 0 END) AS BIGINT) AS m5
                FROM customer)
            SELECT 0 AS rule_id, 'c_custkey' AS col, 'unique' AS "check",
                   m0 AS violations, n AS n_rows, m0 = 0 AS passed FROM m
            UNION ALL SELECT 1, 'c_name', 'not_null', m1, n, m1 = 0 FROM m
            UNION ALL SELECT 2, 'c_acctbal', 'min', m2, n, m2 = 0 FROM m
            UNION ALL SELECT 3, 'c_acctbal', 'max', m3, n, m3 = 0 FROM m
            UNION ALL SELECT 4, 'c_mktsegment', 'in_set', m4, n, m4 = 0 FROM m
            UNION ALL SELECT 5, 'c_name', 'regex', m5, n, m5 = 0 FROM m
        """,
        # mT5 temperature resampling at alpha=0.5 over lang
        # (llm.temperature_sample: rate = p^(alpha-1)/max, md5 row gate)
        "temperature_sample": """
            WITH st AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            t AS (SELECT lang, n, CAST(sum(n) OVER () AS DOUBLE) AS tot FROM st),
            r AS (SELECT lang, pow(n / tot, -0.5) AS r FROM t),
            rr AS (SELECT lang, round(r / max(r) OVER (), 6) AS sample_rate FROM r),
            g AS (SELECT lang, sample_rate,
                         CAST(round(sample_rate * 1000000) AS BIGINT) AS thr
                  FROM rr)
            SELECT d.doc_id, d.lang, g.sample_rate
            FROM documents d JOIN g USING (lang)
            WHERE CAST('0x' || substr(md5('ts:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 1000000 < g.thr
        """,
        "cube": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(l_orderkey) AS n_rows,
                   CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "window_funcs": """
            WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, value
                       FROM events),
            w AS (SELECT event_id, user_id, ts_us,
                         CAST(row_number() OVER win AS INT) AS rn,
                         round(sum(value) OVER (win ROWS UNBOUNDED PRECEDING), 2)
                             AS run_value,
                         lag(ts_us) OVER win AS prev_ts,
                         lead(ts_us) OVER win AS next_ts,
                         ts_us - lag(ts_us) OVER win AS gap_us
                  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id))
            SELECT * FROM w
        """,
        "funnel": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
            k AS (SELECT DISTINCT user_id FROM e),
            s0 AS (SELECT user_id, min(ts_us) AS step_0_ts FROM e
                   WHERE event_type = 'click' GROUP BY user_id),
            s1 AS (SELECT e.user_id, min(e.ts_us) AS step_1_ts
                   FROM e JOIN s0 USING (user_id)
                   WHERE e.event_type = 'view' AND e.ts_us > s0.step_0_ts
                   GROUP BY e.user_id),
            s2 AS (SELECT e.user_id, min(e.ts_us) AS step_2_ts
                   FROM e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts_us > s1.step_1_ts
                   GROUP BY e.user_id)
            SELECT k.user_id, s0.step_0_ts, s1.step_1_ts, s2.step_2_ts,
                   (CASE WHEN s0.step_0_ts IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN s1.step_1_ts IS NOT NULL THEN 1 ELSE 0 END
                    + CASE WHEN s2.step_2_ts IS NOT NULL THEN 1 ELSE 0 END) AS reached
            FROM k LEFT JOIN s0 USING (user_id)
                   LEFT JOIN s1 USING (user_id)
                   LEFT JOIN s2 USING (user_id)
        """,
        "resample": """
            WITH b AS (SELECT user_id,
                              (epoch_us(ts) // 86400000000) * 86400000000 AS bucket,
                              value
                       FROM events),
            a AS (SELECT user_id, bucket, count(*) AS n_events,
                         round(sum(value), 2) AS value_sum
                  FROM b GROUP BY user_id, bucket),
            s AS (SELECT user_id, min(bucket) AS mn, max(bucket) AS mx
                  FROM b GROUP BY user_id),
            g AS (SELECT user_id, unnest(range(mn, mx + 1, 86400000000)) AS bucket
                  FROM s)
            SELECT g.user_id, g.bucket,
                   coalesce(a.n_events, 0) AS n_events, a.value_sum
            FROM g LEFT JOIN a USING (user_id, bucket)
        """,
        "quantile_bins": f"""
            WITH s AS (SELECT doc_id, lang,
                              CAST(len(string_split_regex({norm_text}, '\\s+')) AS INT) AS n_tokens
                       FROM documents),
            t AS (SELECT lang, quantile_cont(n_tokens, [0.25, 0.5, 0.75]) AS thr
                  FROM s GROUP BY lang)
            SELECT s.lang, s.doc_id, s.n_tokens,
                   CAST(len(list_filter(t.thr, b -> s.n_tokens >= b)) AS INT)
                       AS n_tokens_bin
            FROM s JOIN t USING (lang)
        """,
        "zscore": """
            WITH t AS (SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
                       FROM events GROUP BY event_type)
            SELECT e.event_id, e.event_type, e.value,
                   CASE WHEN t.sd > 0 THEN round((e.value - t.m) / t.sd, 4) END AS value_z
            FROM events e JOIN t USING (event_type)
        """,
        "profile": """
            SELECT 'c_custkey' AS col_name, count(*) AS n,
                   count(*) - count(c_custkey) AS n_null,
                   count(DISTINCT c_custkey) AS n_distinct,
                   CAST(min(c_custkey) AS DOUBLE) AS min_num,
                   CAST(max(c_custkey) AS DOUBLE) AS max_num,
                   CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len
            FROM customer
            UNION ALL
            SELECT 'c_name', count(*), count(*) - count(c_name),
                   count(DISTINCT c_name), NULL, NULL,
                   min(length(c_name)), max(length(c_name))
            FROM customer
            UNION ALL
            SELECT 'c_nationkey', count(*), count(*) - count(c_nationkey),
                   count(DISTINCT c_nationkey),
                   CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE),
                   NULL, NULL
            FROM customer
            UNION ALL
            SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
                   count(DISTINCT c_acctbal),
                   min(c_acctbal), max(c_acctbal), NULL, NULL
            FROM customer
            UNION ALL
            SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
                   count(DISTINCT c_mktsegment), NULL, NULL,
                   min(length(c_mktsegment)), max(length(c_mktsegment))
            FROM customer
        """,
        "row_ids": """
            SELECT event_id, epoch_us(ts) AS ts_us,
                   row_number() OVER (ORDER BY epoch_us(ts), event_id) AS row_id
            FROM events
        """,
        "stream_join": """
            WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
                       FROM events WHERE event_type = 'click'),
            p AS (SELECT user_id, event_id AS purch_id, epoch_us(ts) AS purch_us
                  FROM events WHERE event_type = 'purchase')
            SELECT c.user_id, c.click_id, p.purch_id, c.click_us, p.purch_us
            FROM c JOIN p USING (user_id)
            WHERE p.purch_us >= c.click_us
              AND p.purch_us <= c.click_us + 3600000000
        """,
        "compact_latest": """
            WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id,
                              event_type, value, props
                       FROM events),
            r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                               ORDER BY ts_us DESC, event_id DESC) AS rn
                  FROM e)
            SELECT event_id, ts_us, user_id, event_type, value, props
            FROM r WHERE rn = 1
        """,
        "bm25_topk": f"""
            WITH q AS (SELECT doc_id AS qid,
                              unnest(list_distinct(string_split_regex({norm_text}, '\\s+'))) AS t
                       FROM documents WHERE doc_id < 5),
            dt AS (SELECT doc_id AS did, string_split_regex({norm_text}, '\\s+') AS toks
                   FROM documents),
            post AS (SELECT did, dl, t, count(*) AS tf
                     FROM (SELECT did, len(toks) AS dl, unnest(toks) AS t FROM dt)
                     GROUP BY did, dl, t),
            stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM dt),
            dfq AS (SELECT t, count(DISTINCT did) AS df FROM post GROUP BY t),
            sc AS (SELECT qid, did,
                          round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                                    * (tf * 2.2)
                                    / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4)
                            AS score
                   FROM q JOIN post USING (t) JOIN dfq USING (t), stats
                   GROUP BY qid, did),
            r AS (SELECT qid, did, score,
                         row_number() OVER (PARTITION BY qid ORDER BY score DESC, did ASC)
                           AS rn
                  FROM sc)
            SELECT qid AS doc_id, did AS hit_id, score FROM r WHERE rn <= 5
        """,
        "ngram_jaccard": f"""
            WITH all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz extra' FROM documents
                WHERE doc_id < 100
            ),
            t AS (SELECT id, {norm_text} AS s FROM all_docs),
            sh AS (SELECT id, {shingles5} AS shingles FROM t),
            inter AS (
                SELECT a.id AS id1, b.id AS id2,
                       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS i,
                       len(a.shingles) + len(b.shingles) AS n
                FROM sh a JOIN sh b ON a.id < b.id
            )
            SELECT id1, id2, round(i / (n - i), 6) AS jaccard
            FROM inter WHERE round(i / (n - i), 6) >= 0.8
        """,
        "embed_neardup": """
            WITH all_vecs AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 10000,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5 + 0.01)
                FROM embeddings
            )
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
        """,
        # banded-LSH near-dup: band b, plane p weights seeded 'band{b}_{p}_{j}'
        # (llm.py embed_cosine_pairs default n_planes=16, n_bands=4);
        # candidates = pairs sharing any band bucket, verified with cosine
        "embed_banded": """
            WITH all_vecs AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 10000,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5 + 0.01)
                FROM embeddings
            ),
            wt AS (
                SELECT b, p, list(wv ORDER BY j) AS wvec
                FROM (SELECT b, p, j,
                             (CAST('0x' || substr(md5('band' || b || '_' || p || '_' || j), 1, 15) AS BIGINT)
                              % 20001 - 10000) / 10000.0 AS wv
                      FROM range(4) t0(b) CROSS JOIN range(16) t1(p) CROSS JOIN range(64) t2(j))
                GROUP BY b, p
            ),
            bk AS (
                SELECT v.vec_id, wt.b AS band,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                                         i -> v.v[i] * wt.wvec[i])) > 0
                                THEN CAST(pow(2, 15 - wt.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM all_vecs v CROSS JOIN wt
                GROUP BY v.vec_id, wt.b
            ),
            cand AS (
                SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
                FROM bk a JOIN bk c ON a.band = c.band AND a.bucket = c.bucket
                WHERE a.vec_id < c.vec_id
            )
            SELECT id1, id2, round(list_cosine_similarity(x.v, y.v), 6) AS cosine
            FROM cand JOIN all_vecs x ON x.vec_id = id1
                      JOIN all_vecs y ON y.vec_id = id2
            WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.9
        """,
        # SemDeDup: hash-ordered centroid reservoir, argmax-cosine
        # assignment (ties -> smaller cluster), prefix drop rule
        # (any smaller-id cluster member >= threshold); mirrors
        # llm.semdedup defaults n_clusters=8, threshold=0.95
        "semdedup": """
            WITH all_vecs AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 10000,
                       list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5 + 0.01)
                FROM embeddings
            ),
            h AS (
                SELECT vec_id, v,
                       CAST('0x' || substr(md5('sem:' || CAST(vec_id AS VARCHAR)), 1, 15)
                            AS BIGINT) AS hk
                FROM all_vecs
            ),
            cent AS (
                SELECT CAST(row_number() OVER (ORDER BY hk ASC, vec_id ASC) AS INT) - 1
                         AS cluster,
                       v AS cv
                FROM h
                QUALIFY row_number() OVER (ORDER BY hk ASC, vec_id ASC) <= 8
            ),
            asg AS (
                SELECT a.vec_id, a.v, c.cluster,
                       round(list_cosine_similarity(a.v, c.cv), 6) AS centroid_sim
                FROM h a CROSS JOIN cent c
                QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                           ORDER BY centroid_sim DESC, c.cluster ASC) = 1
            ),
            prior AS (
                SELECT a.vec_id,
                       max(round(list_cosine_similarity(a.v, b.v), 6)) AS max_prior_sim
                FROM asg a JOIN asg b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
                GROUP BY a.vec_id
            )
            SELECT a.vec_id, a.cluster, a.centroid_sim, p.max_prior_sim,
                   coalesce(p.max_prior_sim >= 0.95, false) = false AS keep
            FROM asg a LEFT JOIN prior p USING (vec_id)
        """,
        "multimodal": """
            SELECT doc_id, 'image' AS media_type,
                   octet_length(encode(text)) AS feat_len,
                   CAST(16 + ((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
                        + strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) % 240
                        AS INT) AS feat_w,
                   CAST(16 + ((strpos('0123456789abcdef', substring(md5(text), 3, 1)) - 1) * 16
                        + strpos('0123456789abcdef', substring(md5(text), 4, 1)) - 1) % 240
                        AS INT) AS feat_h
            FROM documents
        """,
        "simhash_neardup": f"""
            WITH all_docs AS (
                SELECT doc_id AS id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text || ' zzz extra' FROM documents
                WHERE doc_id < 100
            ),
            t AS (SELECT id,
                         string_split_regex({norm_text}, '\\s+') AS toks
                  FROM all_docs),
            sig AS (
                SELECT id,
                       CAST(list_sum(list_transform(range(0, 60), i ->
                           CASE WHEN list_sum(list_transform(toks, tk ->
                                    CASE WHEN ({_SQL_H.format(x='tk')} >> CAST(i AS INT)) & 1 = 1
                                         THEN 1 ELSE -1 END)) > 0
                                THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT)
                         AS h
                FROM t
            )
            SELECT a.id AS id1, b.id AS id2,
                   CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.id < b.id
            WHERE bit_count(xor(a.h, b.h)) <= 8
        """,
        "audio_features": """
            SELECT doc_id,
                   octet_length(encode(text)) AS audio_bytes,
                   round(((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 16
                          + strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1)
                         / 255.0, 6) AS rms,
                   round(((strpos('0123456789abcdef', substring(md5(text), 3, 1)) - 1) * 16
                          + strpos('0123456789abcdef', substring(md5(text), 4, 1)) - 1)
                         / 255.0, 6) AS zcr
            FROM documents
        """,
        "video_frames": """
            WITH t AS (SELECT doc_id,
                              greatest(octet_length(encode(text)) // 4, 1) AS step,
                              octet_length(encode(text)) AS n
                       FROM documents)
            SELECT doc_id, CAST(i AS INT) AS frame_idx,
                   least(greatest(n - i * step, 0), step) AS frame_bytes
            FROM t CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
        """,
        "ann_topk": """
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
            QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY cosine DESC, c.vec_id) <= 5
        """,
        # zero-norm variant: dot/NULLIF(|a||b|,0) instead of DuckDB's
        # list_cosine_similarity (which raises on a zero vector); NULL
        # cosine sorts last under DESC in both engines (Spark desc default
        # is nulls-last; DuckDB made explicit here)
        "ann_zero_vec": """
            WITH e AS (
                SELECT vec_id,
                       CASE WHEN vec_id = 3
                            THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
                            ELSE embedding END AS embedding
                FROM embeddings
            )
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))
                         / NULLIF(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                                        CAST(q.embedding AS DOUBLE[])))
                                  * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                          CAST(c.embedding AS DOUBLE[]))),
                                  0), 6) AS cosine
            FROM e q CROSS JOIN e c
            WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
            QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY cosine DESC NULLS LAST, c.vec_id) <= 5
        """,
        # IVF with n_probe = n_centroids is exhaustive -> same exact oracle
        "ann_ivf": """
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings q CROSS JOIN embeddings c
            WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
            QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY cosine DESC, c.vec_id) <= 5
        """,
        # _hyperplane_bits is deterministic md5 arithmetic (llm.py:444),
        # so the LSH bucket assignment itself is oracle-reproducible:
        # plane weights w(p,j) = (md5_long('plane_p_j') % 20001 - 10000)/1e4,
        # bit = sign(dot), bucket = Σ bit_p·2^(n_planes-1-p); then exact
        # cosine top-k within the query's bucket.
        "ann_lsh": """
            WITH wt AS (
                SELECT p, list(wv ORDER BY j) AS wvec
                FROM (SELECT p, j,
                             (CAST('0x' || substr(md5('plane_' || p || '_' || j), 1, 15) AS BIGINT)
                              % 20001 - 10000) / 10000.0 AS wv
                      FROM range(6) t1(p) CROSS JOIN range(64) t2(j))
                GROUP BY p
            ),
            bk AS (
                SELECT e.vec_id,
                       CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                                         i -> CAST(e.embedding[i] AS DOUBLE) * wt.wvec[i])) > 0
                                THEN CAST(pow(2, 5 - wt.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM embeddings e CROSS JOIN wt
                GROUP BY e.vec_id
            )
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                                CAST(ce.embedding AS DOUBLE[])), 6) AS cosine
            FROM bk q JOIN bk c ON q.bucket = c.bucket
            JOIN embeddings qe ON qe.vec_id = q.vec_id
            JOIN embeddings ce ON ce.vec_id = c.vec_id
            WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
            QUALIFY row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY cosine DESC, c.vec_id) <= 5
        """,
        "text_stats": f"""
            WITH t AS (SELECT doc_id, text,
                              string_split_regex(trim(text), '\\s+') AS toks
                       FROM documents)
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   round(CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS mean_token_len,
                   round(CAST(len(list_filter(toks, tk -> list_contains({en}, tk))) AS DOUBLE)
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS punct_ratio
            FROM t
        """,
        "language_id": f"""
            WITH t AS (SELECT doc_id,
                              string_split_regex({norm_text}, '\\s+') AS toks
                       FROM documents),
            c AS (SELECT doc_id,
                         len(list_filter(toks, tk -> list_contains({en}, tk))) AS c_en,
                         len(list_filter(toks, tk -> list_contains({es}, tk))) AS c_es,
                         len(list_filter(toks, tk -> list_contains({de}, tk))) AS c_de,
                         len(list_filter(toks, tk -> list_contains({fr}, tk))) AS c_fr
                  FROM t)
            SELECT doc_id,
                   CASE WHEN greatest(c_en, c_es, c_de, c_fr) <= 0 THEN 'und'
                        WHEN c_en = greatest(c_en, c_es, c_de, c_fr) THEN 'en'
                        WHEN c_es = greatest(c_en, c_es, c_de, c_fr) THEN 'es'
                        WHEN c_de = greatest(c_en, c_es, c_de, c_fr) THEN 'de'
                        ELSE 'fr' END AS lang_guess
            FROM c
        """,
        "token_count": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS n_bpe
            FROM documents
        """,
        "pii_scan": f"""
            WITH aug AS (SELECT doc_id, {pii_aug} AS text FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{pii["email"]}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(text, '{pii["ipv4"]}')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{pii["ssn"]}')) AS INT) AS n_ssn,
                   CAST(len(regexp_extract_all(text, '{pii["phone"]}')) AS INT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '{pii["email"]}'))
                        + len(regexp_extract_all(text, '{pii["ipv4"]}'))
                        + len(regexp_extract_all(text, '{pii["ssn"]}'))
                        + len(regexp_extract_all(text, '{pii["phone"]}')) AS INT) AS pii_total,
                   {pii_red} AS text_redacted
            FROM aug
        """,
        "decontaminate": f"""
            WITH t AS (SELECT doc_id, {norm_text} AS s FROM documents),
            tok AS (SELECT doc_id, string_split_regex(s, '\\s+') AS toks FROM t),
            g AS (SELECT doc_id, {wgrams.format(n=5, m=4)} AS gs FROM tok),
            dg AS (SELECT DISTINCT doc_id, {_SQL_H.format(x='g2')} AS h
                   FROM (SELECT doc_id, unnest(gs) AS g2 FROM g)),
            bg AS (SELECT DISTINCT h FROM dg WHERE doc_id % 20 = 0),
            hits AS (SELECT d.doc_id, count(*) AS n
                     FROM dg d JOIN bg USING (h) GROUP BY d.doc_id)
            SELECT t.doc_id,
                   coalesce(n, 0) AS n_contaminated_ngrams,
                   coalesce(n, 0) > 0 AS contaminated
            FROM t LEFT JOIN hits ON hits.doc_id = t.doc_id
        """,
        "repetition_stats": f"""
            WITH t AS (SELECT doc_id, {norm_text} AS s FROM documents),
            tok AS (SELECT doc_id, string_split_regex(s, '\\s+') AS toks FROM t),
            g AS (SELECT doc_id, toks, {wgrams.format(n=2, m=1)} AS grams FROM tok),
            ws AS (SELECT doc_id,
                          CAST(len(toks) AS INT) AS n_words,
                          CASE WHEN len(toks) = 0 THEN 0.0
                               ELSE round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                          / CAST(len(toks) AS DOUBLE), 6) END AS dup_word_frac,
                          CASE WHEN len(grams) = 0 THEN 0.0
                               ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                          / CAST(len(grams) AS DOUBLE), 6) END AS dup_ngram_frac
                   FROM g),
            pg AS (SELECT doc_id, unnest(grams) AS g2 FROM g),
            cnt AS (SELECT doc_id, g2, count(*) AS c FROM pg GROUP BY 1, 2),
            top AS (SELECT doc_id,
                           round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
                             AS top_ngram_frac
                    FROM cnt GROUP BY 1)
            SELECT w.doc_id, n_words, dup_word_frac, dup_ngram_frac,
                   coalesce(top_ngram_frac, 0.0) AS top_ngram_frac
            FROM ws w LEFT JOIN top ON top.doc_id = w.doc_id
        """,
        "det_sample": """
            SELECT event_id, event_type FROM events
            WHERE CAST('0x' || substr(md5('sample:' || CAST(event_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 1000000
                  < CASE WHEN event_type = 'view' THEN 300000 ELSE 50000 END
        """,
        "model_features": """
            WITH freq AS (SELECT c_mktsegment AS v, count(*) AS cnt
                          FROM customer WHERE c_mktsegment IS NOT NULL
                          GROUP BY c_mktsegment),
            idx AS (SELECT v, CAST(row_number() OVER (ORDER BY cnt DESC, v ASC) - 1
                                   AS BIGINT) AS i
                    FROM freq),
            n AS (SELECT CAST(count(*) AS BIGINT) AS nl FROM idx)
            SELECT c_custkey,
                   coalesce(CAST(c_acctbal AS DOUBLE), 0.0) AS c_acctbal,
                   coalesce(idx.i, n.nl) AS c_mktsegment_idx,
                   CAST('0x' || substr(md5('split:42:' || CAST(c_custkey AS VARCHAR)), 1, 15)
                        AS BIGINT) % 1000000 < 330000 AS is_test
            FROM customer
            LEFT JOIN idx ON idx.v = customer.c_mktsegment
            CROSS JOIN n
        """,
        "pack_sequences": r"""
            WITH sized AS (SELECT doc_id,
                                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                                    AS n_tokens
                           FROM documents),
            b AS (SELECT doc_id, n_tokens,
                         CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)
                              AS BIGINT) % 8 AS shard
                  FROM sized),
            c AS (SELECT doc_id, n_tokens, shard,
                         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                                  ROWS UNBOUNDED PRECEDING) - n_tokens
                              AS BIGINT)
                           AS start_offset
                  FROM b)
            SELECT doc_id, n_tokens, shard, start_offset,
                   shard * 8589934592 + CAST(floor(start_offset / 512) AS BIGINT) AS bin_id
            FROM c
        """,
        "dedup_lines": f"""
            WITH t AS (SELECT doc_id, {norm_text} AS s FROM documents),
            tok AS (SELECT doc_id, string_split_regex(s, '\\s+') AS toks FROM t),
            ch AS (SELECT doc_id,
                          CASE WHEN len(toks) <= 0 THEN CAST([] AS VARCHAR[])
                               ELSE [array_to_string(toks[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)], ' ')
                                     for i in range(0, CAST(floor((len(toks) + 7) / 8) AS BIGINT))]
                          END AS lines0
                   FROM tok),
            docs AS (SELECT doc_id,
                            CASE WHEN doc_id % 5 = 0
                                 THEN list_concat(lines0, ['subscribe to our newsletter now'])
                                 ELSE lines0 END AS gs
                     FROM ch),
            ex0 AS (SELECT doc_id, gs, unnest(range(1, len(gs) + 1)) AS pos FROM docs),
            h AS (SELECT doc_id, pos, gs[CAST(pos AS INT)] AS line,
                         {_SQL_H.format(x='gs[CAST(pos AS INT)]')} AS hh
                  FROM ex0),
            freq AS (SELECT hh, count(DISTINCT doc_id) AS df, min(doc_id) AS owner
                     FROM h GROUP BY hh),
            fl AS (SELECT doc_id, pos, line, (df < 2 OR doc_id = owner) AS keep
                   FROM h JOIN freq USING (hh))
            SELECT d.doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (keep), '')
                     AS text_clean,
                   coalesce(count(*) FILTER (NOT keep), 0) AS n_removed
            FROM docs d LEFT JOIN fl ON fl.doc_id = d.doc_id
            GROUP BY d.doc_id
        """,
        "quality_filter": f"""
            WITH t AS (SELECT doc_id, text, {norm_text} AS s FROM documents),
            tok AS (SELECT doc_id, text, string_split_regex(s, '\\s+') AS toks FROM t),
            g AS (SELECT doc_id, text, toks, {wgrams.format(n=2, m=1)} AS grams FROM tok),
            stats AS (SELECT doc_id,
                CAST(len(toks) AS INT) AS n_words,
                round(CAST(coalesce(list_sum(list_transform(toks, tk -> length(tk))), 0)
                           AS DOUBLE) / greatest(len(toks), 1), 6) AS mean_word_len,
                round(CAST(len(regexp_extract_all(text, '{llm.QUALITY_SYMBOLS}')) AS DOUBLE)
                      / greatest(len(toks), 1), 6) AS symbol_word_ratio,
                CAST(len(list_filter(toks, tk -> list_contains({en}, tk))) AS INT) AS stop_hits,
                CASE WHEN len(grams) = 0 THEN 0.0
                     ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                / CAST(len(grams) AS DOUBLE), 6) END AS dup_ngram_frac
              FROM g)
            SELECT *,
                   (n_words BETWEEN 30 AND 90)
                   AND (mean_word_len BETWEEN 4.5 AND 8.0)
                   AND symbol_word_ratio <= 0.1
                   AND stop_hits >= 3
                   AND dup_ngram_frac <= 0.5 AS keep
            FROM stats
        """,
        "asof_join": """
            SELECT p.event_id, p.user_id, p.ts_us,
                   v.ts_us AS asof_ts_us, round(v.value, 2) AS asof_value
            FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                  FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS ts_us, value
                            FROM events WHERE event_type = 'view') v
            ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
        """,
        "er_golden": """
            WITH m AS (
              SELECT c_custkey AS ent, c_custkey AS rid, c_name AS name,
                     c_mktsegment AS seg, c_acctbal AS bal FROM customer
              UNION ALL
              SELECT c_custkey, c_custkey + 1000000, upper(c_name),
                     c_mktsegment, c_acctbal + 10 FROM customer
              UNION ALL
              SELECT c_custkey, c_custkey + 2000000, lower(c_name),
                     CASE WHEN c_custkey % 3 = 0 THEN 'DUPSEG' ELSE c_mktsegment END,
                     c_acctbal - 5 FROM customer
            ),
            md AS (SELECT ent, seg, count(*) AS cnt FROM m GROUP BY 1, 2),
            pick AS (SELECT ent, seg FROM md
                     QUALIFY row_number() OVER (PARTITION BY ent
                                                ORDER BY cnt DESC, seg ASC) = 1)
            SELECT m.ent AS entity_id, count(*) AS n_members,
                   arg_min(m.name, m.rid) AS name,
                   any_value(pick.seg) AS seg,
                   max(m.bal) AS bal
            FROM m JOIN pick ON m.ent = pick.ent
            GROUP BY m.ent
        """,
        "auc": """
            WITH e AS (
              SELECT (CAST('0x' || substr(md5('cal:' || CAST(l_orderkey AS VARCHAR)
                        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
                      % 700) / 1000.0
                     + (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 0.3 AS s,
                     CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
              FROM lineitem
            ),
            per AS (SELECT round(s, 6) AS s6, CAST(count(*) AS BIGINT) AS cnt,
                           CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
                    FROM e GROUP BY 1),
            r AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY s6
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                  FROM per),
            a AS (SELECT sum(CAST(pos AS HUGEINT) * (2 * cum - cnt + 1)) AS s2,
                         CAST(sum(pos) AS BIGINT) AS n_pos,
                         CAST(sum(cnt - pos) AS BIGINT) AS n_neg
                  FROM r)
            SELECT CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     round((CAST(s2 AS DOUBLE)
                            - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE))
                           / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
                   END AS auc, n_pos, n_neg
            FROM a
        """,
        "psi": """
            WITH e AS (
              SELECT (CAST('0x' || substr(md5('cal:' || CAST(l_orderkey AS VARCHAR)
                        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
                      % 700) / 1000.0
                     + (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 0.3 AS s,
                     l_returnflag AS rf
              FROM lineitem
            ),
            eb AS (SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
                          CAST(count(*) AS BIGINT) AS ne FROM e GROUP BY 1),
            ab AS (SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
                          CAST(count(*) AS BIGINT) AS na
                   FROM e WHERE rf <> 'R' GROUP BY 1),
            bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
            j AS (SELECT b.bin, coalesce(ne, 0) AS ne, coalesce(na, 0) AS na
                  FROM bins b LEFT JOIN eb ON eb.bin = b.bin
                              LEFT JOIN ab ON ab.bin = b.bin),
            t AS (SELECT CAST(sum(ne) AS BIGINT) AS te, CAST(sum(na) AS BIGINT) AS ta
                  FROM j),
            pq AS (SELECT bin,
                          greatest(CAST(ne AS DOUBLE) / CAST(te AS DOUBLE), 1e-06) AS p,
                          greatest(CAST(na AS DOUBLE) / CAST(ta AS DOUBLE), 1e-06) AS q
                   FROM j, t)
            SELECT bin, round(p, 6) AS p_expected, round(q, 6) AS p_actual,
                   round((p - q) * ln(p / q), 6) AS psi_term
            FROM pq
        """,
        # graph.shortest_paths sources=[0,12]: hop-bounded recursive walk,
        # MIN hop per node — exact integer arithmetic
        "sssp": (
            "WITH RECURSIVE "
            + _SQL_GRAPH_SYM
            + """,
            walk(node, d) AS (
                SELECT CAST(n_nationkey AS BIGINT) AS node, 0 AS d
                FROM nation WHERE n_nationkey IN (0, 12)
                UNION
                SELECT CAST(sym.b AS BIGINT), walk.d + 1
                FROM walk JOIN sym ON sym.a = walk.node
                WHERE walk.d < 29
            )
            SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node
        """
        ),
        # er.sorted_neighborhood window=4 over (c_acctbal, c_custkey):
        # textbook row_number self-join on rank distance
        "sorted_neighborhood": """
            WITH ranked AS (
                SELECT c_custkey,
                       row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rn
                FROM customer)
            SELECT CAST(a.c_custkey AS BIGINT) AS left_id,
                   CAST(b.c_custkey AS BIGINT) AS right_id,
                   CAST(b.rn - a.rn AS BIGINT) AS rank_dist
            FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn - a.rn < 4
        """,
        # llm.boilerplate_lines min_share=0.2 min_docs=2 over the first
        # three tokens per document, grouped by source
        "boilerplate": """
            WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk
                       FROM documents),
            c AS (SELECT doc_id, source, tk[1] AS line FROM t
                  UNION ALL SELECT doc_id, source, tk[2] FROM t
                  UNION ALL SELECT doc_id, source, tk[3] FROM t),
            l AS (SELECT DISTINCT doc_id, source, line FROM c
                  WHERE line IS NOT NULL AND line <> ''),
            g AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS group_docs
                  FROM documents GROUP BY source),
            f AS (SELECT source, line, CAST(count(*) AS BIGINT) AS doc_freq
                  FROM l GROUP BY source, line)
            SELECT f.source, f.line, f.doc_freq, g.group_docs,
                   round(CAST(f.doc_freq AS DOUBLE) / g.group_docs, 6) AS share
            FROM f JOIN g USING (source)
            WHERE f.doc_freq >= 2 AND f.doc_freq >= g.group_docs * 0.2
        """,
        # llm.oov_rate vs the corpus's build_vocab(min_df=2, top_k=40)
        "oov_rate": f"""
            WITH t AS (SELECT doc_id,
                              unnest(string_split_regex({norm_text}, '\\s+')) AS token
                       FROM documents),
            v0 AS (SELECT token, count(*) AS tf
                   FROM t GROUP BY token HAVING count(DISTINCT doc_id) >= 2),
            r AS (SELECT token,
                         row_number() OVER (ORDER BY tf DESC, token ASC) AS rank
                  FROM v0),
            v AS (SELECT token FROM r WHERE rank <= 40),
            c AS (SELECT t.doc_id,
                         CAST(count(*) AS BIGINT) AS n_tokens,
                         CAST(count(*) - count(v.token) AS BIGINT) AS n_oov
                  FROM t LEFT JOIN v ON v.token = t.token
                  GROUP BY t.doc_id)
            SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_oov,
                   CASE WHEN n_tokens > 0
                        THEN round(CAST(n_oov AS DOUBLE) / n_tokens, 6) END AS oov_rate
            FROM c
        """,
        # streaming.anomaly_stream k=3 scale=100: exact-integer running
        # stats (HUGEINT sums mirror the kernel's Python bigints), flag
        # judged on the PRIOR window only
        "stream_anomaly": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                              CAST(floor(value * 100 + 0.5) AS HUGEINT) AS v
                       FROM events),
            s AS (SELECT user_id, ts_us, event_id, value, v,
                         count(v) OVER w AS n,
                         coalesce(sum(v) OVER w, 0) AS sx,
                         coalesce(sum(v * v) OVER w, 0) AS sx2
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(ts_us AS BIGINT) AS ts_us,
                   CAST(event_id AS BIGINT) AS event_id, value,
                   CAST(n AS BIGINT) AS n_prior,
                   (n >= 2 AND (v * n - sx) * (v * n - sx)
                             > 9 * (n * sx2 - sx * sx)) AS is_anomaly
            FROM s
        """,
        # the clerical gray zone of the incremental-matching stage:
        # [0.80, 0.92) with per-record candidate ranks
        "review_queue": f"""
            WITH cust AS (SELECT c_custkey, lower(c_name) AS name FROM customer),
            inc AS (SELECT c_custkey + 1000000 AS rec_id,
                           CASE WHEN c_custkey % 3 = 0
                                THEN 'zz' || substr(name, 1, 9) || substr(name, 11)
                                ELSE substr(name, 1, 9) || substr(name, 11)
                           END AS name
                    FROM cust WHERE c_custkey % 7 = 0),
            idx AS (SELECT c_custkey AS entity_id, name AS idx_name,
                           right(name, 4) AS blk
                    FROM cust),
            cand AS (SELECT i.rec_id, i.name, x.entity_id, x.idx_name
                     FROM (SELECT rec_id, name, right(name, 4) AS blk FROM inc) i
                     JOIN idx x USING (blk)),
            scored AS (SELECT rec_id, name, entity_id, idx_name,
                              {{lev}} AS score,
                              row_number() OVER (PARTITION BY rec_id
                                  ORDER BY {{lev}} DESC, entity_id) AS cand_rank
                       FROM cand)
            SELECT CAST(rec_id AS BIGINT) AS rec_id, name,
                   CAST(entity_id AS BIGINT) AS entity_id, idx_name, score,
                   CAST(cand_rank AS INT) AS cand_rank
            FROM scored
            WHERE score >= 0.80 AND score < 0.92
        """.format(lev=_SQL_LEVNORM.format(a="name", b="idx_name")),
        # graph.negative_edges k=2 oversample=4 salt='neg': md5-ranked
        # proposals, real-edge anti-join, earliest-proposal dedup
        "negative_edges": f"""
            WITH {_SQL_GRAPH_SYM.strip()},
            nodes AS (SELECT DISTINCT a AS node FROM sym),
            ranked AS (SELECT node,
                              row_number() OVER (ORDER BY node) - 1 AS r
                       FROM nodes),
            n AS (SELECT count(*) AS cnt FROM nodes),
            props AS (SELECT u.node AS u, i.i,
                             {_SQL_H.format(x="'neg:' || CAST(u.node AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)")} % cnt AS r
                      FROM nodes u
                      CROSS JOIN (SELECT unnest(range(0, 8)) AS i) i
                      CROSS JOIN n),
            cand AS (SELECT p.u, rk.node AS v, p.i
                     FROM props p JOIN ranked rk ON rk.r = p.r
                     WHERE p.u != rk.node),
            non AS (SELECT c.u, c.v, min(c.i) AS i
                    FROM cand c LEFT JOIN sym s ON s.a = c.u AND s.b = c.v
                    WHERE s.a IS NULL
                    GROUP BY c.u, c.v)
            SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
                   CAST(rn AS INT) AS neg_rank
            FROM (SELECT u, v,
                         row_number() OVER (PARTITION BY u ORDER BY i) AS rn
                  FROM non)
            WHERE rn <= 2
        """,
        # fn.geohash p=5 and p=9: quantize, magic-mask Morton spread,
        # 5-bit groups into the Niemeyer base32 alphabet
        "geohash": """
            WITH pts AS (SELECT c_custkey,
                                -60.0 + (c_custkey % 120) * 0.937 AS lat,
                                -170.0 + ((c_custkey * 7) % 340) * 0.991 AS lon
                         FROM customer),
            q AS (SELECT c_custkey,
                         -- p=5: 25 bits, lon 13 / lat 12
                         least(CAST(floor((lon + 180.0) / 360.0 * 8192.0) AS BIGINT), 8191) AS lo5,
                         least(CAST(floor((lat + 90.0) / 180.0 * 4096.0) AS BIGINT), 4095) AS la5,
                         -- p=9: 45 bits, lon 23 / lat 22
                         least(CAST(floor((lon + 180.0) / 360.0 * 8388608.0) AS BIGINT), 8388607) AS lo9,
                         least(CAST(floor((lat + 90.0) / 180.0 * 4194304.0) AS BIGINT), 4194303) AS la9
                  FROM pts),
            s AS (SELECT c_custkey,
                         ((lo5 << 16 | lo5) & 281470681808895) AS a5,
                         ((la5 << 16 | la5) & 281470681808895) AS b5,
                         ((lo9 << 16 | lo9) & 281470681808895) AS a9,
                         ((la9 << 16 | la9) & 281470681808895) AS b9
                  FROM q),
            s2 AS (SELECT c_custkey,
                          ((a5 << 8 | a5) & 71777214294589695) AS a5, ((b5 << 8 | b5) & 71777214294589695) AS b5,
                          ((a9 << 8 | a9) & 71777214294589695) AS a9, ((b9 << 8 | b9) & 71777214294589695) AS b9
                   FROM s),
            s3 AS (SELECT c_custkey,
                          ((a5 << 4 | a5) & 1085102592571150095) AS a5, ((b5 << 4 | b5) & 1085102592571150095) AS b5,
                          ((a9 << 4 | a9) & 1085102592571150095) AS a9, ((b9 << 4 | b9) & 1085102592571150095) AS b9
                   FROM s2),
            s4 AS (SELECT c_custkey,
                          ((a5 << 2 | a5) & 3689348814741910323) AS a5, ((b5 << 2 | b5) & 3689348814741910323) AS b5,
                          ((a9 << 2 | a9) & 3689348814741910323) AS a9, ((b9 << 2 | b9) & 3689348814741910323) AS b9
                   FROM s3),
            s5 AS (SELECT c_custkey,
                          ((a5 << 1 | a5) & 6148914691236517205) AS a5, ((b5 << 1 | b5) & 6148914691236517205) AS b5,
                          ((a9 << 1 | a9) & 6148914691236517205) AS a9, ((b9 << 1 | b9) & 6148914691236517205) AS b9
                   FROM s4),
            v AS (SELECT c_custkey,
                         (a5 | (b5 << 1)) AS v5,          -- odd total: lon on even LSBs
                         (a9 | (b9 << 1)) AS v9
                  FROM s5),
            g AS (SELECT c_custkey, v5, v9,
                         '0123456789bcdefghjkmnpqrstuvwxyz' AS ab
                  FROM v)
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
                   substr(ab, CAST((v5 >> 20) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v5 >> 15) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v5 >> 10) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v5 >> 5) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST(v5 & 31 AS INT) + 1, 1) AS gh5,
                   substr(ab, CAST((v9 >> 40) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 35) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 30) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 25) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 20) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 15) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 10) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST((v9 >> 5) & 31 AS INT) + 1, 1) ||
                   substr(ab, CAST(v9 & 31 AS INT) + 1, 1) AS gh9
            FROM g
        """,
        # the match-else-create incremental ER pass: suffix-4 exact block,
        # levenshtein_norm (round_even — see "scoring"), top-1 at >= 0.92
        "er_incremental": f"""
            WITH cust AS (SELECT c_custkey, lower(c_name) AS name FROM customer),
            inc AS (SELECT c_custkey + 1000000 AS rec_id,
                           CASE WHEN c_custkey % 3 = 0
                                THEN 'zz' || substr(name, 1, 9) || substr(name, 11)
                                ELSE substr(name, 1, 9) || substr(name, 11)
                           END AS name
                    FROM cust WHERE c_custkey % 7 = 0),
            idx AS (SELECT c_custkey AS entity_id, name AS idx_name,
                           right(name, 4) AS blk
                    FROM cust),
            cand AS (SELECT i.rec_id, i.name, x.entity_id, x.idx_name
                     FROM (SELECT rec_id, name, right(name, 4) AS blk FROM inc) i
                     JOIN idx x USING (blk)),
            scored AS (SELECT rec_id, name, entity_id,
                              {{lev}} AS score
                       FROM cand),
            best AS (SELECT rec_id, entity_id, score FROM (
                       SELECT *, row_number() OVER (PARTITION BY rec_id
                                   ORDER BY score DESC, entity_id) AS rn
                       FROM scored)
                     WHERE rn = 1 AND score >= 0.92)
            SELECT CAST(i.rec_id AS BIGINT) AS rec_id, i.name,
                   CAST(coalesce(b.entity_id, i.rec_id) AS BIGINT) AS entity_id,
                   b.score AS match_score,
                   b.entity_id IS NULL AS is_new
            FROM inc i LEFT JOIN best b USING (rec_id)
        """.format(lev=_SQL_LEVNORM.format(a="name", b="idx_name")),
        # features.rolling_anomaly — same windowed form as stream_anomaly
        "rolling_anomaly": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                              CAST(floor(value * 100 + 0.5) AS HUGEINT) AS v
                       FROM events),
            s AS (SELECT user_id, ts_us, event_id, value, v,
                         count(v) OVER w AS n,
                         coalesce(sum(v) OVER w, 0) AS sx,
                         coalesce(sum(v * v) OVER w, 0) AS sx2
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(ts_us AS BIGINT) AS ts_us,
                   CAST(event_id AS BIGINT) AS event_id, value,
                   CAST(n AS BIGINT) AS n_prior,
                   (n >= 2 AND (v * n - sx) * (v * n - sx)
                             > 9 * (n * sx2 - sx * sx)) AS is_anomaly
            FROM s
        """,
        # fn.phone_digits (default_cc=33) + fn.email_norm over the same
        # synthesized messy forms; DuckDB backrefs are \\1 where Spark
        # uses $1, 'g' mirrors Spark's replace-all
        "standardize": r"""
            WITH raw AS (
              SELECT c_custkey,
                CASE c_custkey % 4
                  WHEN 0 THEN '+33 (6) ' || CAST(c_custkey % 90 + 10 AS VARCHAR)
                              || '-' || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
                  WHEN 1 THEN '06.' || CAST(c_custkey % 90 + 10 AS VARCHAR)
                              || '.' || CAST(c_custkey % 90 + 10 AS VARCHAR)
                              || '.' || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
                  WHEN 2 THEN '0033 1 ' || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
                  ELSE '612' || CAST(c_custkey % 1000000 AS VARCHAR)
                END AS phone,
                CASE c_custkey % 3
                  WHEN 0 THEN ' <User' || CAST(c_custkey AS VARCHAR) || '@Example.COM> '
                  WHEN 1 THEN 'MAILTO:a' || CAST(c_custkey AS VARCHAR) || '@b.fr'
                  ELSE 'plain' || CAST(c_custkey AS VARCHAR) || '@c.org'
                END AS email
              FROM customer),
            p1 AS (SELECT c_custkey, email,
                          regexp_replace(phone, '[^0-9+]', '', 'g') AS s FROM raw),
            p2 AS (SELECT c_custkey, email,
                          regexp_replace(s, '^\+', '__p__') AS s FROM p1),
            p3 AS (SELECT c_custkey, email,
                          regexp_replace(s, '[+]', '', 'g') AS s FROM p2),
            p4 AS (SELECT c_custkey, email,
                          regexp_replace(s, '^__p__', '+') AS s FROM p3),
            p5 AS (SELECT c_custkey, email,
                          regexp_replace(s, '^\+', '00') AS s FROM p4),
            p6 AS (SELECT c_custkey, email,
                          regexp_replace(s, '^00(\d)', '\1') AS s FROM p5),
            p7 AS (SELECT c_custkey, email,
                          regexp_replace(s, '^0(\d)', '33\1') AS phone_std FROM p6),
            e1 AS (SELECT c_custkey, phone_std,
                          regexp_replace(email, '^\s+|\s+$', '', 'g') AS e FROM p7),
            e2 AS (SELECT c_custkey, phone_std,
                          regexp_replace(e, '^[<]|[>]$', '', 'g') AS e FROM e1),
            e3 AS (SELECT c_custkey, phone_std,
                          regexp_replace(e, '^(?i)mailto:', '') AS e FROM e2)
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey, phone_std,
                   lower(e) AS email_std
            FROM e3
        """,
        "threshold_sweep": """
            WITH e AS (
              SELECT (CAST('0x' || substr(md5('cal:' || CAST(l_orderkey AS VARCHAR)
                        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
                      % 700) / 1000.0
                     + (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 0.3 AS s,
                     CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
              FROM lineitem
            ),
            t AS (SELECT CAST(unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS DOUBLE) AS threshold),
            a AS (SELECT threshold,
                         CAST(sum(CASE WHEN s >= threshold AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                         CAST(sum(CASE WHEN s >= threshold AND y <> 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                         CAST(sum(CASE WHEN s < threshold AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn_
                  FROM e, t GROUP BY threshold),
            pr AS (SELECT *,
                     CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) ELSE 0.0 END AS prec,
                     CASE WHEN tp + fn_ > 0 THEN CAST(tp AS DOUBLE) / CAST(tp + fn_ AS DOUBLE) ELSE 0.0 END AS rec
                   FROM a)
            SELECT threshold, tp, fp, fn_,
                   round(prec, 6) AS precision,
                   round(rec, 6) AS recall,
                   round(CASE WHEN prec + rec > 0
                              THEN (2.0 * prec * rec) / (prec + rec) ELSE 0.0 END, 6) AS f1
            FROM pr
        """,
        "calibration_bins": """
            WITH e AS (
              SELECT (CAST('0x' || substr(md5('cal:' || CAST(l_orderkey AS VARCHAR)
                        || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
                      % 700) / 1000.0
                     + (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * 0.3 AS s,
                     CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
              FROM lineitem
            ),
            b AS (SELECT greatest(least(CAST(floor(s * 10) AS INT), 9), 0) AS bin,
                         CAST(round(s * 1000000.0) AS BIGINT) AS q, y
                  FROM e),
            a AS (SELECT bin, count(*) AS n,
                         sum(q) AS sq,
                         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
                  FROM b GROUP BY bin)
            SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
                   round((CAST(sq AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE), 6) AS mean_score,
                   round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate
            FROM a
        """,
        "refined_soundex": f"""
            WITH w AS (
              SELECT DISTINCT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
              FROM documents
            )
            SELECT w, {_sql_refined_soundex_expr("w")} AS rs
            FROM w WHERE length(w) > 0
        """,
        "xml_roundtrip": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
        """,
        "caverphone": f"""
            WITH w AS (
              SELECT DISTINCT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
              FROM documents
            )
            SELECT w, {_sql_caverphone_expr("w")} AS cav,
                   {_sql_soundex_expr("w")} AS sdx
            FROM w WHERE length(w) > 0
        """,
        "interval_join": """
            WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
                       FROM events),
            v AS (SELECT event_id, user_id, us AS lo,
                         us + (1800 + (event_id % 7) * 600) * 1000000 AS hi
                  FROM e WHERE event_type = 'view'),
            p AS (SELECT event_id AS rid, user_id, us AS lo, us + 900000000 AS hi
                  FROM e WHERE event_type = 'purchase')
            SELECT v.event_id, v.user_id, p.rid,
                   least(v.hi, p.hi) - greatest(v.lo, p.lo) AS overlap_us
            FROM v JOIN p ON v.user_id = p.user_id
                         AND v.lo < p.hi AND p.lo < v.hi
        """,
        "scd2": """
            WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
            m AS (SELECT user_id, event_type, us,
                         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                              THEN 1 ELSE 0 END AS chg
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_type)),
            r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_type
                                           ROWS UNBOUNDED PRECEDING) AS run
                  FROM m),
            g AS (SELECT user_id, event_type, run, min(us) AS valid_from
                  FROM r GROUP BY 1, 2, 3),
            f AS (SELECT user_id, event_type, valid_from,
                         lead(valid_from) OVER (PARTITION BY user_id
                                                ORDER BY valid_from, event_type) AS valid_to
                  FROM g)
            SELECT user_id, event_type, valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM f
        """,
        "sessionize": """
            WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
            m AS (SELECT user_id, ts,
                         CASE WHEN lag(ts) OVER w IS NULL
                              OR ts - lag(ts) OVER w > INTERVAL 8 HOUR
                              THEN 1 ELSE 0 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m),
            g AS (SELECT user_id, min(ts) AS session_start,
                         max(ts) + INTERVAL 8 HOUR AS session_end,
                         count(*) AS n_events
                  FROM s GROUP BY user_id, sid)
            SELECT user_id,
                   strftime(session_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                   strftime(session_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                   n_events
            FROM g
        """,
        "win_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "sql_direct": """
            SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "fwf_roundtrip": """
            SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name, c_mktsegment FROM customer
        """,
        "csv_roundtrip": """
            SELECT CAST(c_custkey AS VARCHAR) AS c_custkey,
                   CASE WHEN c_mktsegment = 'MACHINERY' THEN NULL ELSE c_mktsegment END AS seg
            FROM customer
        """,
        "scoring": f"""
            SELECT c_custkey,
                   {_SQL_LEVNORM.format(a='c_name', b="replace(c_name, '0', 'O')")} AS score_lv,
                   round(jaro_winkler_similarity(c_name, replace(c_name, '0', 'O')), 4) AS score_jw
            FROM customer
        """,
        "recipe_pipeline": f"""
            SELECT c_custkey, {_SQL_NORM.format(c='c_mktsegment')} AS seg_norm,
                   n_name AS nation_name
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > 1000
        """,
        "corpus_clean": f"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, text FROM documents WHERE doc_id < 100
            ),
            t AS (SELECT doc_id, text, {norm_text} AS s FROM corpus),
            tok AS (SELECT doc_id, text, string_split_regex(s, '\\s+') AS toks FROM t),
            g AS (SELECT doc_id, text, toks, {wgrams.format(n=2, m=1)} AS grams FROM tok),
            stats AS (SELECT doc_id, text,
                CAST(len(toks) AS INT) AS n_words,
                round(CAST(coalesce(list_sum(list_transform(toks, tk -> length(tk))), 0)
                           AS DOUBLE) / greatest(len(toks), 1), 6) AS mean_word_len,
                round(CAST(len(regexp_extract_all(text, '{llm.QUALITY_SYMBOLS}')) AS DOUBLE)
                      / greatest(len(toks), 1), 6) AS symbol_word_ratio,
                CAST(len(list_filter(toks, tk -> list_contains({en}, tk))) AS INT) AS stop_hits,
                CASE WHEN len(grams) = 0 THEN 0.0
                     ELSE round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                                / CAST(len(grams) AS DOUBLE), 6) END AS dup_ngram_frac
              FROM g),
            keepers AS (SELECT doc_id, text FROM stats
                        WHERE (n_words BETWEEN 30 AND 90)
                          AND (mean_word_len BETWEEN 4.5 AND 8.0)
                          AND symbol_word_ratio <= 0.1
                          AND stop_hits >= 3
                          AND dup_ngram_frac <= 0.5),
            own AS (SELECT min(doc_id) AS keeper FROM keepers GROUP BY text),
            kept AS (SELECT k.doc_id, k.text FROM keepers k
                     JOIN own ON own.keeper = k.doc_id)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{pii["email"]}')) AS INT) AS n_email,
                   CAST(len(regexp_extract_all(text, '{pii["ipv4"]}')) AS INT) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{pii["ssn"]}')) AS INT) AS n_ssn,
                   CAST(len(regexp_extract_all(text, '{pii["phone"]}')) AS INT) AS n_phone,
                   CAST(len(regexp_extract_all(text, '{pii["email"]}'))
                        + len(regexp_extract_all(text, '{pii["ipv4"]}'))
                        + len(regexp_extract_all(text, '{pii["ssn"]}'))
                        + len(regexp_extract_all(text, '{pii["phone"]}')) AS INT) AS pii_total,
                   {pii_red} AS text_redacted
            FROM kept
        """,
        "stream_dedup": "SELECT DISTINCT user_id, event_type FROM events",
        "salted_agg": """
            SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                   count(l_orderkey) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "stream_win_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, round(sum(value), 2) AS value_sum, count(*) AS rows_count
            FROM events GROUP BY 1, 2
        """,
        # ridge: quantized HUGEINT Gram sums + the SAME pinned Cramer
        # parenthesization as ml._det3 — identical IEEE-754 trees
        "ridge_train": _SQL_RIDGE_W + """
            SELECT '__intercept__' AS feature, round(det0 / det, 6) AS weight FROM w
            UNION ALL SELECT 'l_quantity', round(det1 / det, 6) FROM w
            UNION ALL SELECT 'l_discount', round(det2 / det, 6) FROM w
        """,
        "ridge_score": _SQL_RIDGE_W + """,
            wt AS (SELECT round(det0 / det, 6) AS w0, round(det1 / det, 6) AS w1,
                          round(det2 / det, 6) AS w2 FROM w),
            sc AS (SELECT l_orderkey, l_linenumber,
                          CAST(l_extendedprice AS DOUBLE) AS y,
                          round(w0 + w1 * CAST(l_quantity AS DOUBLE)
                                   + w2 * CAST(l_discount AS DOUBLE), 6) AS pred
                   FROM lineitem, wt)
            SELECT l_orderkey, l_linenumber, pred, round(y - pred, 6) AS resid FROM sc
        """,
        "ridge_apply": _SQL_RIDGE_W + """,
            wt AS (SELECT round(det0 / det, 6) AS w0, round(det1 / det, 6) AS w1,
                          round(det2 / det, 6) AS w2 FROM w)
            SELECT l_orderkey, l_linenumber,
                   round(w0 + w1 * CAST(l_quantity AS DOUBLE)
                            + w2 * CAST(l_discount AS DOUBLE), 6) AS pred
            FROM lineitem, wt
        """,
        "url_normalize": """
            WITH raw AS (
              SELECT c_custkey,
                CASE WHEN c_custkey % 7 = 0 THEN 'not a url' ELSE
                  'HTTPS://' || CASE WHEN c_custkey % 2 = 0 THEN 'user:pw@' ELSE '' END ||
                  'WWW.Example' || CAST(c_custkey % 50 AS VARCHAR) || '.com' ||
                  CASE WHEN c_custkey % 3 = 0 THEN ':443' ELSE ':8080' END ||
                  CASE WHEN c_custkey % 5 = 0 THEN '' ELSE '/p/' || lower(c_mktsegment) END ||
                  '?utm_source=x&b=2&a=1&fbclid=zz' ||
                  CASE WHEN c_custkey % 11 = 0 THEN '&ref=aa&z=9' ELSE '' END || '#frag'
                END AS u0
              FROM customer),
            t AS (SELECT c_custkey, trim(u0) AS u FROM raw),
            p1 AS (SELECT c_custkey, u,
                    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS rest
                   FROM t),
            p2 AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS auth,
                           regexp_extract(rest, '^[^/?#]*(.*)$', 1) AS tail FROM p1),
            p3 AS (SELECT *, str_split(auth, '@')[-1] AS hostport FROM p2),
            p4 AS (SELECT *,
                    regexp_extract(hostport, ':([0-9]+)$', 1) AS port_s,
                    lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
                    regexp_extract(tail, '^([^?#]*)', 1) AS path,
                    regexp_extract(tail, '\\?([^#]*)', 1) AS query FROM p3),
            p5 AS (SELECT *,
                    CASE WHEN port_s <> '' THEN CAST(port_s AS INT) END AS port,
                    CASE WHEN path = '' THEN '/' ELSE path END AS path_norm,
                    array_to_string(list_sort(list_filter(str_split(query, '&'),
                      pp -> pp <> '' AND NOT regexp_matches(
                        regexp_extract(pp, '^([^=]*)', 1),
                        '^(utm_[^=]*|fbclid|gclid|msclkid|ref)$'))), '&') AS query_norm
                   FROM p4),
            p6 AS (SELECT *,
                    CASE WHEN NOT coalesce((scheme = 'http' AND port = 80)
                                        OR (scheme = 'https' AND port = 443), FALSE)
                         THEN port END AS port_norm
                   FROM p5),
            p7 AS (SELECT *, scheme <> '' AS has_url,
                    scheme || '://' || host ||
                    CASE WHEN port_norm IS NOT NULL
                         THEN ':' || CAST(port_norm AS VARCHAR) ELSE '' END ||
                    path_norm ||
                    CASE WHEN query_norm <> '' THEN '?' || query_norm ELSE '' END AS rebuilt
                   FROM p6)
            SELECT c_custkey,
                   CASE WHEN has_url THEN scheme ELSE '' END AS url_scheme,
                   CASE WHEN has_url THEN host ELSE '' END AS url_host,
                   CASE WHEN has_url THEN port_norm END AS url_port,
                   CASE WHEN has_url THEN path_norm END AS url_path,
                   CASE WHEN has_url THEN query_norm END AS url_query,
                   CASE WHEN has_url THEN rebuilt ELSE u END AS url_norm
            FROM p7
        """,
        "fill_forward": """
            WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                              CASE WHEN event_type <> 'view' THEN value END AS value
                       FROM events)
            SELECT event_id, user_id,
                   round(last_value(value IGNORE NULLS) OVER (
                         PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS value_filled
            FROM e
        """,
        "transition_counts": """
            WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                       FROM events),
            pr AS (SELECT event_type AS src,
                          lead(event_type) OVER (PARTITION BY user_id
                                                 ORDER BY us, event_id) AS dst
                   FROM e),
            a AS (SELECT src, dst, count(*) AS cnt FROM pr
                  WHERE dst IS NOT NULL GROUP BY 1, 2)
            SELECT src, dst, cnt,
                   round(CAST(cnt AS DOUBLE)
                         / CAST(sum(cnt) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
            FROM a
        """,
        "feature_hash": f"""
            WITH t AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
              FROM documents),
            fl AS (SELECT doc_id, tok FROM t WHERE tok <> '')
            SELECT doc_id,
                   CAST({_SQL_H.format(x='tok')} % 256 AS INT) AS bucket,
                   count(*) AS cnt
            FROM fl GROUP BY 1, 2
        """,
        "readability": """
            WITH s AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE) AS wrds,
                     CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                          AS DOUBLE) AS snts,
                     CAST(greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1)
                          AS DOUBLE) AS syl
              FROM documents)
            SELECT doc_id, CAST(wrds AS INT) AS n_words, CAST(snts AS INT) AS n_sentences,
                   CAST(syl AS INT) AS n_syllables,
                   CASE WHEN wrds > 0
                        THEN round(206.835 - 1.015 * (wrds / snts)
                                           - 84.6 * (syl / wrds), 4) END AS flesch
            FROM s
        """,
        "cdf_normalize": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   round(percent_rank() OVER (PARTITION BY l_returnflag
                                              ORDER BY l_extendedprice), 6)
                     AS l_extendedprice_cdf
            FROM lineitem
        """,
        "mad_outliers": """
            WITH med AS (SELECT l_returnflag,
                                quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS md
                         FROM lineitem GROUP BY 1),
            d AS (SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                         abs(CAST(l_extendedprice AS DOUBLE) - md) AS dv
                  FROM lineitem l
                  JOIN med ON l.l_returnflag IS NOT DISTINCT FROM med.l_returnflag),
            m AS (SELECT l_returnflag, quantile_cont(dv, 0.5) AS mad FROM d GROUP BY 1)
            SELECT d.l_orderkey, d.l_linenumber, round(d.dv, 6) AS dev,
                   round(m.mad, 6) AS mad,
                   round(d.dv, 6) > 3.0 * round(m.mad, 6) AS is_outlier
            FROM d JOIN m ON d.l_returnflag IS NOT DISTINCT FROM m.l_returnflag
        """,
        "sentence_split": """
            WITH t AS (SELECT doc_id,
                              string_split_regex(text, '[.!?]+(\\s+|$)') AS l
                       FROM documents),
            u AS (SELECT doc_id,
                         unnest([{'i': CAST(i - 1 AS INT),
                                  's': trim(l[CAST(i AS INT)])}
                                 for i in range(1, len(l) + 1)]) AS c
                  FROM t)
            SELECT doc_id, c.i AS sent_id, c.s AS sentence,
                   CAST(len(string_split_regex(c.s, '\\s+')) AS INT) AS n_words
            FROM u WHERE length(c.s) > 0
        """,
        "cidr_filter": """
            WITH ips AS (SELECT c_custkey,
                   CAST(10 + c_custkey % 3 AS VARCHAR) || '.' ||
                   CAST(c_custkey % 300 AS VARCHAR) || '.' ||
                   CAST((c_custkey // 7) % 256 AS VARCHAR) || '.' ||
                   CAST(c_custkey % 250 AS VARCHAR) AS ip
              FROM customer),
            v AS (SELECT c_custkey, ip, string_split(ip, '.') AS o FROM ips),
            pt AS (SELECT c_custkey, ip,
                     CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
                       + CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT) AS ipl
                   FROM v
                   WHERE regexp_matches(ip,
                           '^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$')
                     AND CAST(o[1] AS BIGINT) <= 255 AND CAST(o[2] AS BIGINT) <= 255
                     AND CAST(o[3] AS BIGINT) <= 255 AND CAST(o[4] AS BIGINT) <= 255),
            cd AS (SELECT * FROM (VALUES ('10.0.0.0/8'), ('10.128.0.0/9'),
                                         ('11.0.0.0/10'), ('11.192.0.0/10'),
                                         ('12.0.0.0/24'), ('99.0.0.0/33')) t(cidr)),
            cr AS (SELECT cidr,
                          string_split(string_split(cidr, '/')[1], '.') AS o,
                          CAST(string_split(cidr, '/')[2] AS INT) AS bits
                   FROM cd),
            cr2 AS (SELECT cidr,
                           CAST(o[1] AS BIGINT) * 16777216 + CAST(o[2] AS BIGINT) * 65536
                             + CAST(o[3] AS BIGINT) * 256 + CAST(o[4] AS BIGINT) AS base,
                           CAST(1 AS BIGINT) << (32 - bits) AS span
                    FROM cr
                    WHERE bits BETWEEN 0 AND 32
                      AND CAST(o[1] AS BIGINT) <= 255 AND CAST(o[2] AS BIGINT) <= 255
                      AND CAST(o[3] AS BIGINT) <= 255 AND CAST(o[4] AS BIGINT) <= 255),
            cr3 AS (SELECT cidr, base - (base % span) AS lo,
                           base - (base % span) + span AS hi
                    FROM cr2)
            SELECT p.c_custkey, p.ip, c.cidr
            FROM pt p JOIN cr3 c ON p.ipl >= c.lo AND p.ipl < c.hi
        """,
        "source_overlap": f"""
            WITH t AS (SELECT source AS src,
                              string_split_regex({norm_text}, '\\s+') AS toks
                       FROM documents),
            g0 AS (SELECT src, unnest({wgrams.format(n=3, m=2)}) AS g FROM t),
            g AS (SELECT DISTINCT src, g FROM g0),
            per AS (SELECT src, count(*) AS grams_a FROM g GROUP BY 1),
            sh AS (SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared
                   FROM g a JOIN g b ON a.g = b.g AND a.src IS DISTINCT FROM b.src
                   GROUP BY 1, 2)
            SELECT src_a, src_b, grams_a, shared,
                   round(CAST(shared AS DOUBLE) / grams_a, 6) AS overlap
            FROM sh JOIN per ON per.src IS NOT DISTINCT FROM sh.src_a
        """,
        "extract_links": """
            WITH h AS (SELECT c_custkey,
                '<a href="HTTPS://Example' || CAST(c_custkey % 50 AS VARCHAR) ||
                '.com/p?utm_source=x&a=1">x</a> <a href=''/rel/' ||
                CAST(c_custkey % 10 AS VARCHAR) || '''>y</a>' ||
                CASE WHEN c_custkey % 3 = 0
                     THEN ' <a href=bare' || CAST(c_custkey % 5 AS VARCHAR) || '>z</a>'
                     ELSE '' END AS html
              FROM customer),
            g AS (SELECT c_custkey,
                regexp_extract_all(html,
                  'href\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>''"]+))', 1) AS l1,
                regexp_extract_all(html,
                  'href\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>''"]+))', 2) AS l2,
                regexp_extract_all(html,
                  'href\\s*=\\s*(?:"([^"]*)"|''([^'']*)''|([^\\s>''"]+))', 3) AS l3
              FROM h),
            u AS (SELECT c_custkey,
                unnest([{'p': CAST(i - 1 AS INT),
                         'v': CASE WHEN l1[CAST(i AS INT)] <> '' THEN l1[CAST(i AS INT)]
                                   WHEN l2[CAST(i AS INT)] <> '' THEN l2[CAST(i AS INT)]
                                   ELSE l3[CAST(i AS INT)] END}
                        for i in range(1, len(l1) + 1)]) AS c
              FROM g)
            SELECT c_custkey, c.p AS link_pos, c.v AS href
            FROM u WHERE c.v <> ''
        """,
        "er_pipeline": f"""
            WITH RECURSIVE recs AS (
              SELECT c_custkey AS rid, c_name AS name, lower(c_name) AS nname,
                     c_acctbal AS bal FROM customer
              UNION ALL
              SELECT c_custkey + 1000000, upper(c_name), lower(c_name),
                     c_acctbal + (c_custkey % 7) FROM customer
            ),
            mx AS (SELECT max(c_custkey) AS mm FROM customer),
            cand AS (
              SELECT c_custkey AS left_id, c_custkey + 1000000 AS right_id
              FROM customer
              UNION ALL
              SELECT c_custkey, 1000000 + (c_custkey % (SELECT mm FROM mx)) + 1
              FROM customer
            ),
            feats AS MATERIALIZED (
              SELECT cand.left_id, cand.right_id,
                     {_SQL_LEVNORM.format(a='l.nname', b='r.nname')} AS x1,
                     round(abs(CAST(l.bal AS DOUBLE) - CAST(r.bal AS DOUBLE)), 6) AS x2,
                     CASE WHEN cand.right_id = cand.left_id + 1000000
                          THEN 1.0 ELSE 0.0 END AS y
              FROM cand JOIN recs l ON l.rid = cand.left_id
                        JOIN recs r ON r.rid = cand.right_id
            ),{_sql_ridge_block('feats')},
            wt AS (SELECT round(det0 / det, 6) AS w0, round(det1 / det, 6) AS w1,
                          round(det2 / det, 6) AS w2 FROM w),
            acc AS MATERIALIZED (
              SELECT f.left_id, f.right_id FROM feats f, wt
              WHERE round(w0 + w1 * CAST(f.x1 AS DOUBLE)
                             + w2 * CAST(f.x2 AS DOUBLE), 6) >= 0.5
            ),
            edges AS MATERIALIZED (
              SELECT left_id AS a, right_id AS b FROM acc
              UNION
              SELECT right_id, left_id FROM acc
            ),
            reach(node, lbl) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(lbl) AS comp FROM reach GROUP BY node),
            asg AS (
              SELECT m.rid, coalesce(c.comp, m.rid) AS comp
              FROM recs m LEFT JOIN comp c ON c.node = m.rid
            )
            SELECT a.comp AS entity_id, count(*) AS n_members,
                   arg_min(m.name, m.rid) AS name,
                   round(max(m.bal), 2) AS bal
            FROM asg a JOIN recs m ON m.rid = a.rid
            GROUP BY a.comp
        """,
        "interpolate": """
            WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                              CASE WHEN event_type <> 'view' THEN value END AS v
                       FROM events),
            w AS (SELECT event_id, user_id, us, v,
                    last_value(v IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                    last_value(CASE WHEN v IS NOT NULL
                                    THEN CAST(us AS DOUBLE) END IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                    first_value(v IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                    first_value(CASE WHEN v IS NOT NULL
                                     THEN CAST(us AS DOUBLE) END IGNORE NULLS) OVER (
                      PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
                   FROM e)
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pv IS NOT NULL AND nv IS NOT NULL
                              THEN pv + (nv - pv)
                                   * ((CAST(us AS DOUBLE) - pt) / (nt - pt))
                         END, 6) AS v_interp
            FROM w
        """,
        "pair_features": f"""
            WITH m AS (
              SELECT c_custkey AS rid, c_name AS name,
                     c_mktsegment AS seg, c_acctbal AS bal FROM customer
              UNION ALL
              SELECT c_custkey + 1000000, upper(c_name),
                     CASE WHEN c_custkey % 4 = 0 THEN 'XSEG' ELSE c_mktsegment END,
                     c_acctbal + (c_custkey % 7) FROM customer
            ),
            p AS (SELECT c_custkey AS left_id, c_custkey + 1000000 AS right_id
                  FROM customer)
            SELECT p.left_id, p.right_id,
                   {_SQL_LEVNORM.format(a='l.name', b='r.name')} AS f_name_lev_norm,
                   round(jaro_winkler_similarity(l.name, r.name), 4) AS f_name_jw,
                   CAST(l.seg IS NOT DISTINCT FROM r.seg AS INT) AS f_seg_exact,
                   round(abs(CAST(l.bal AS DOUBLE) - CAST(r.bal AS DOUBLE)), 6)
                     AS f_bal_abs_diff
            FROM p JOIN m l ON l.rid = p.left_id JOIN m r ON r.rid = p.right_id
        """,
        "blocking_eval": """
            WITH cand AS (
              SELECT c_custkey AS a, c_custkey + 1000000 AS b FROM customer
              WHERE c_custkey % 2 = 0
              UNION ALL
              SELECT c_custkey, c_custkey + 1000001 FROM customer
              WHERE c_custkey % 5 = 0
            ),
            cn AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM cand),
            g AS (SELECT DISTINCT least(c_custkey + 1000000, c_custkey) AS a,
                                  greatest(c_custkey + 1000000, c_custkey) AS b
                  FROM customer),
            f AS (SELECT count(*) AS n_f FROM g
                  WHERE EXISTS (SELECT 1 FROM cn WHERE cn.a = g.a AND cn.b = g.b)),
            c2 AS (SELECT count(*) AS n_c FROM cn),
            g2 AS (SELECT count(*) AS n_g FROM g),
            n0 AS (SELECT count(*) AS n FROM customer)
            SELECT CAST(n_c AS BIGINT) AS n_candidates,
                   CAST(n_g AS BIGINT) AS n_gold,
                   CAST(n_f AS BIGINT) AS n_found,
                   round(CAST(n_f AS DOUBLE) / CAST(n_g AS DOUBLE), 6)
                     AS pair_completeness,
                   round(1.0 - CAST(n_c AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
                     AS reduction_ratio
            FROM c2, g2, f, n0
        """,
        "budget_select": """
            WITH w AS (SELECT doc_id, source, n_chars,
                              CAST(sum(CAST(n_chars AS BIGINT)) OVER (
                                PARTITION BY source
                                ORDER BY (doc_id % 100) DESC, doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS BIGINT) AS cum_size
                       FROM documents)
            SELECT doc_id, source, n_chars, cum_size FROM w
            WHERE cum_size <= 5000
        """,
        "group_centroid": """
            WITH e AS (SELECT label,
                              unnest([{'i': CAST(i - 1 AS INT),
                                       'x': CAST(embedding[CAST(i AS INT)] AS DOUBLE)}
                                      for i in range(1, len(embedding) + 1)]) AS c
                       FROM embeddings),
            q AS (SELECT label, c.i AS i,
                         CAST(round(c.x * 1000000.0) AS BIGINT) AS qv FROM e),
            a AS (SELECT label, i, sum(qv) AS s, count(*) AS n FROM q GROUP BY 1, 2),
            c2 AS (SELECT label, i, n,
                          round((CAST(s AS DOUBLE) / 1000000.0) / n, 6) AS c FROM a)
            SELECT label, CAST(n AS BIGINT) AS n_vecs, i AS dim, c
            FROM c2
        """,
        # llm.priority_sample k=5 group=lang weight=n_chars salt='prio':
        # Duffield-Lund-Thorup priority q = w / u with the dyadic
        # u = (md5_long+1)/2^60 — two correctly-rounded IEEE ops, so the
        # ranking reproduces bit-for-bit cross-engine
        "priority_sample": f"""
            WITH p AS (
                SELECT lang, doc_id, n_chars,
                       CAST(n_chars AS DOUBLE)
                         / (CAST({_SQL_H.format(x="'prio:' || CAST(doc_id AS VARCHAR)")} + 1
                                 AS DOUBLE) / 1152921504606846976.0) AS pr
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars > 0
            ),
            r AS (SELECT lang, doc_id, n_chars, pr,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY pr DESC, doc_id ASC) AS rn
                  FROM p)
            SELECT lang, doc_id, n_chars AS weight, round(pr, 6) AS priority,
                   CAST(rn AS INT) AS sample_rank
            FROM r WHERE rn <= 5
        """,
        # llm.script_mix: char-class counts via length(x) -
        # length(regexp_replace(x, class, '')) — the class ranges are
        # literal characters so Java regex and RE2 read the same string;
        # plain (non-f) string: the punct class contains literal braces
        "script_mix": """
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT * FROM (VALUES (100001, 'Привет мир 2024!'),
                                      (100002, '汉字漢字 mixed latin'),
                                      (100003, 'مرحبا بالعالم'),
                                      (100004, NULL)) t(doc_id, text)
            ),
            b AS (SELECT doc_id, coalesce(text, '') AS t FROM all_docs),
            c AS (SELECT doc_id, length(t) AS n,
                         length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS latin,
                         length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS digit,
                         length(t) - length(regexp_replace(t, '[ \t\n\r]', '', 'g')) AS space,
                         length(t) - length(regexp_replace(t, '[!-/:-@\\[-`{-~]', '', 'g')) AS punct,
                         length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS cyr,
                         length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS cjk,
                         length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g')) AS arab
                  FROM b)
            SELECT doc_id, CAST(n AS INT) AS n_chars,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(latin / CAST(n AS DOUBLE), 6) END AS latin_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(digit / CAST(n AS DOUBLE), 6) END AS digit_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(space / CAST(n AS DOUBLE), 6) END AS space_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(punct / CAST(n AS DOUBLE), 6) END AS punct_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(cyr / CAST(n AS DOUBLE), 6) END AS cyrillic_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(cjk / CAST(n AS DOUBLE), 6) END AS cjk_frac,
                   CASE WHEN n = 0 THEN 0.0 ELSE round(arab / CAST(n AS DOUBLE), 6) END AS arabic_frac,
                   CASE WHEN n = 0 THEN 0.0
                        ELSE round((n - latin - digit - space - punct - cyr - cjk - arab)
                                   / CAST(n AS DOUBLE), 6) END AS other_frac
            FROM c
        """,
        # features.pareto_front: skyline = rows with no dominator in the
        # same group (>= on all metrics, > on at least one).  2D window
        # form instead of the quadratic NOT EXISTS (54 s at sf0.01):
        # r survives iff its discount beats the min discount among
        # strictly-higher prices (EXCLUDE GROUP drops price peers from
        # the running frame) and ties the min among equal prices
        "pareto_front": """
            WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag,
                              l_extendedprice, l_discount
                       FROM lineitem
                       WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
            w AS (SELECT *,
                         min(l_discount) OVER (
                             PARTITION BY l_returnflag
                             ORDER BY l_extendedprice DESC
                             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                             EXCLUDE GROUP) AS hp_min,
                         min(l_discount) OVER (
                             PARTITION BY l_returnflag, l_extendedprice) AS peer_min
                  FROM b)
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   l_extendedprice, l_discount
            FROM w
            WHERE (hp_min IS NULL OR l_discount < hp_min)
              AND l_discount = peer_min
        """,
        # llm.tfidf_cosine_pairs thr=0.6 scale=1e4: weights quantized to
        # BIGINT once (round absorbs ln ulp drift), integer dot/norm
        # sums (HUGEINT here = DECIMAL(38,0) on the Spark side), floats
        # only in the final ratio
        "tfidf_cosine": f"""
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000, 'prefix words ' || text
                FROM documents WHERE doc_id < 100
            ),
            t AS (SELECT doc_id,
                         unnest(string_split_regex({norm_text}, '\\s+')) AS term
                  FROM all_docs),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            n AS (SELECT count(DISTINCT doc_id) AS nd FROM all_docs),
            dfc AS (SELECT term, df FROM
                        (SELECT term, count(*) AS df FROM tf GROUP BY term)
                    CROSS JOIN n
                    WHERE df >= 2 AND df <= 0.5 * nd),
            q AS (SELECT tf.doc_id, tf.term,
                         CAST(round(tf.tf * ln(CAST(nd AS DOUBLE) / df) * 10000.0)
                              AS BIGINT) AS qw
                  FROM tf JOIN dfc USING (term) CROSS JOIN n),
            s AS (SELECT doc_id, sum(qw * qw) AS s2 FROM q GROUP BY doc_id),
            d AS (SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.qw * b.qw) AS dot
                  FROM q a JOIN q b ON a.term = b.term AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            c AS (SELECT id1, id2,
                         round(CAST(dot AS DOUBLE)
                               / (sqrt(CAST(s1.s2 AS DOUBLE))
                                  * sqrt(CAST(s2.s2 AS DOUBLE))), 6) AS cosine
                  FROM d JOIN s s1 ON s1.doc_id = d.id1
                         JOIN s s2 ON s2.doc_id = d.id2)
            SELECT id1, id2, cosine FROM c WHERE cosine >= 0.6
        """,
        # llm.cross_dup_spans span_len=40 stride=10 min_docs=3: strided
        # normalized-char spans, one hash aggregate, distinct-doc gate
        "cross_dup_spans": f"""
            WITH all_docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 20000,
                       text || ' subscribe to our newsletter for updates and offers'
                FROM documents WHERE doc_id < 50
            ),
            t AS (SELECT doc_id, {norm_text} AS s FROM all_docs),
            p AS (SELECT doc_id, s, unnest(range(1, length(s) - 40 + 2, 10)) AS pos
                  FROM t WHERE length(s) >= 40),
            sp AS (SELECT doc_id, substr(s, CAST(pos AS INT), 40) AS span FROM p),
            g AS (SELECT {_SQL_H.format(x="span")} AS span_hash,
                         min(span) AS span,
                         count(DISTINCT doc_id) AS n_docs,
                         count(*) AS n_occ
                  FROM sp GROUP BY 1)
            SELECT span_hash, span, n_docs, CAST(n_occ AS BIGINT) AS n_occ
            FROM g WHERE n_docs >= 3
        """,
        # llm.chunk_text chunk=32 overlap=8 min=4: window starts every
        # 24 tokens while < n (the trailing partial window is emitted,
        # then gated by min_tokens); raw whitespace tokens, not the
        # normalized text
        "chunk_text": r"""
            WITH t AS (SELECT doc_id,
                              CASE WHEN text IS NULL OR trim(text) = '' THEN []
                                   ELSE string_split_regex(trim(text), '\s+') END AS toks
                       FROM documents),
            st AS (SELECT doc_id, toks,
                          unnest(range(0, len(toks), 24)) AS s
                   FROM t WHERE len(toks) > 0),
            c AS (SELECT doc_id,
                         CAST(s // 24 AS INT) AS chunk_id,
                         toks[CAST(s + 1 AS INT):CAST(s + 32 AS INT)] AS piece
                  FROM st)
            SELECT doc_id, chunk_id,
                   CAST(len(piece) AS INT) AS n_tokens,
                   array_to_string(piece, ' ') AS chunk
            FROM c WHERE len(piece) >= 4
        """,
        # features.decay_agg halflife=7d scale=1e6: per-row quantized
        # decay contributions (round absorbs pow ulp drift), HUGEINT
        # sums = DECIMAL(38,0) on the Spark side
        "decay_agg": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
                       WHERE ts IS NOT NULL AND value IS NOT NULL),
            r AS (SELECT max(ts_us) AS ref FROM e),
            q AS (SELECT user_id,
                         CAST(round(value * pow(0.5, (ref - ts_us) / 604800000000.0)
                                    * 1000000.0) AS BIGINT) AS qv,
                         CAST(round(pow(0.5, (ref - ts_us) / 604800000000.0)
                                    * 1000000.0) AS BIGINT) AS qw
                  FROM e CROSS JOIN r)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   round(CAST(sum(qv) AS DOUBLE) / 1000000.0, 6) AS decayed_sum,
                   round(CAST(sum(qw) AS DOUBLE) / 1000000.0, 6) AS decayed_weight
            FROM q GROUP BY user_id
        """,
        # streaming.topk_stream drained availableNow == exact batch
        # counts; rank over (total desc, item) per group, k=3
        "stream_topk": """
            WITH c AS (SELECT event_type, user_id, count(*) AS total
                       FROM events GROUP BY 1, 2),
            r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                               ORDER BY total DESC, user_id ASC) AS rn
                  FROM c)
            SELECT event_type, user_id, CAST(total AS BIGINT) AS total,
                   CAST(rn AS INT) AS rank
            FROM r WHERE rn <= 3
        """,
        # features.target_encode m=10 scale=1e6: leave-one-out mean with
        # prior smoothing; integer sums, fixed IEEE epilogue
        "target_encode": """
            WITH b AS (SELECT c_custkey, c_mktsegment, c_acctbal,
                              CAST(round(c_acctbal * 1000000.0) AS BIGINT) AS qy
                       FROM customer
                       WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
            c AS (SELECT c_mktsegment, sum(qy) AS cs, count(*) AS cn
                  FROM b GROUP BY c_mktsegment),
            g AS (SELECT sum(qy) AS gs, count(*) AS gn FROM b)
            SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal,
                   round(((CAST(cs AS DOUBLE) - CAST(qy AS DOUBLE))
                          + 10.0 * (CAST(gs AS DOUBLE) / gn))
                         / (cn - 1 + 10.0) / 1000000.0, 6) AS encoded
            FROM b JOIN c USING (c_mktsegment) CROSS JOIN g
        """,
        # build_model: rows-only (RandomForest scores are engine-specific)
        # er.fs_em n_iter=10: unrolled EM CTE chain generated by
        # _sql_fs_em — ordered-aggregate folds replay the driver's
        # sorted-pattern accumulation bit-for-bit
        "fs_em": _sql_fs_em(10),
        # llm.pca_top d=64 scale=1000 n_iter=30: generated unrolled
        # power-iteration CTE chain (exact integer covariance, ordered
        # matvec folds)
        "pca_top": _sql_pca_top(64, 1000, 30),
        # ml.isotonic_calibrate n_bins=20: minimax PAV — prefix sums,
        # (j,k) pair means as single exact-integer divisions, suffix-min
        # window, max per bin; no float sums so no ordered folds needed
        "isotonic": """
            WITH d AS (SELECT CAST(l_partkey % 100 AS DOUBLE) / 100.0 AS score,
                              CASE WHEN l_orderkey % 100 < l_partkey % 100
                                   THEN 1 ELSE 0 END AS y
                       FROM lineitem),
            b AS (SELECT CAST(least(greatest(floor(score * 20), 0), 19) AS INT) AS bin,
                         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
                  FROM d WHERE score IS NOT NULL GROUP BY 1),
            pre AS (SELECT bin, n, s, sum(n) OVER w AS cn, sum(s) OVER w AS cs
                    FROM b WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
            pair AS (SELECT lo.bin AS j, hi.bin AS k,
                            CAST(hi.cs - (lo.cs - lo.s) AS DOUBLE)
                            / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS m
                     FROM pre lo JOIN pre hi ON lo.bin <= hi.bin),
            mm AS (SELECT j, k, min(m) OVER (PARTITION BY j ORDER BY k DESC
                                             ROWS UNBOUNDED PRECEDING) AS minm
                   FROM pair),
            iso AS (SELECT k AS bin, max(minm) AS iso FROM mm GROUP BY k)
            SELECT b.bin, round(CAST(b.bin AS DOUBLE) / 20, 6) AS score_lo, b.n,
                   round(CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS y_rate,
                   round(iso.iso, 6) AS calibrated
            FROM b JOIN iso USING (bin)
        """,
        # scale.cdc_apply: latest-change-wins merge (seq desc, op desc);
        # 'D' drops, anything else upserts; untouched base passes through
        "cdc_apply": """
            WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                                 o_totalprice FROM orders),
            changes AS (
                SELECT o_orderkey, o_custkey, 'U2' AS o_orderstatus,
                       o_totalprice + 1000.0 AS o_totalprice,
                       'U' AS op, CAST(3 AS BIGINT) AS seq
                FROM base WHERE o_orderkey % 5 = 0
                UNION ALL
                SELECT o_orderkey, o_custkey, 'UX', 0.0, 'U', 1
                FROM base WHERE o_orderkey % 5 = 0
                UNION ALL
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       'D', 2
                FROM base WHERE o_orderkey % 7 = 0
                UNION ALL
                SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice,
                       'I', 1
                FROM base WHERE o_orderkey % 11 = 0
            ),
            latest AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC, op DESC) AS rn
                    FROM changes
                ) WHERE rn = 1
            )
            SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
            FROM base b
            WHERE NOT EXISTS (SELECT 1 FROM latest l
                              WHERE l.o_orderkey = b.o_orderkey)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM latest WHERE op <> 'D'
        """,
        # scale.rollup_partials + rollup_merge: fixed-point
        # floor(v*1e6 + 0.5) sums — the merged two-batch fold must equal
        # this direct single-pass aggregate exactly
        "rollup_merge": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(value) AS BIGINT) AS value_n,
                   round(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                              AS DOUBLE) / 1000000.0, 6) AS value_sum,
                   min(value) AS value_min,
                   max(value) AS value_max,
                   CASE WHEN count(value) > 0 THEN
                       round(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                                  AS DOUBLE) / 1000000.0 / count(value), 6)
                   END AS value_avg
            FROM events GROUP BY event_type
        """,
        # operators.match_cascade: waterfall left-joins; per-pass
        # referential dedupe = min struct over (matched_key,
        # matched_bal) == row_number ordered by those fields
        "match_cascade": """
            WITH lhs AS (
                SELECT c_custkey AS id,
                       CASE WHEN c_custkey % 3 = 1 THEN c_name
                            WHEN c_custkey % 3 = 0 THEN upper(c_name)
                            ELSE c_name || ' ~' END AS name,
                       c_nationkey, c_mktsegment
                FROM customer),
            d1 AS (SELECT c_name AS k, c_custkey AS matched_key,
                          c_acctbal AS matched_bal FROM customer),
            m1 AS (SELECT l.id, l.name, l.c_nationkey, l.c_mktsegment,
                          d1.matched_key, d1.matched_bal,
                          'exact' AS match_pass
                   FROM lhs l JOIN d1 ON l.name = d1.k),
            r1 AS (SELECT * FROM lhs
                   WHERE id NOT IN (SELECT id FROM m1)),
            d2 AS (SELECT lower(c_name) AS k, c_custkey AS matched_key,
                          c_acctbal AS matched_bal FROM customer),
            m2 AS (SELECT l.id, l.name, l.c_nationkey, l.c_mktsegment,
                          d2.matched_key, d2.matched_bal,
                          'norm' AS match_pass
                   FROM r1 l JOIN d2 ON lower(l.name) = d2.k),
            r2 AS (SELECT * FROM r1
                   WHERE id NOT IN (SELECT id FROM m2)),
            d3 AS (SELECT c_nationkey, c_mktsegment, matched_key,
                          matched_bal
                   FROM (SELECT c_nationkey, c_mktsegment,
                                c_custkey AS matched_key,
                                c_acctbal AS matched_bal,
                                row_number() OVER (
                                    PARTITION BY c_nationkey, c_mktsegment
                                    ORDER BY c_custkey, c_acctbal) AS rn
                         FROM customer)
                   WHERE rn = 1),
            m3 AS (SELECT l.id, l.name, l.c_nationkey, l.c_mktsegment,
                          d3.matched_key, d3.matched_bal,
                          'block' AS match_pass
                   FROM r2 l JOIN d3
                     ON l.c_nationkey = d3.c_nationkey
                    AND l.c_mktsegment = d3.c_mktsegment),
            r3 AS (SELECT * FROM r2
                   WHERE id NOT IN (SELECT id FROM m3))
            SELECT * FROM m1
            UNION ALL SELECT * FROM m2
            UNION ALL SELECT * FROM m3
            UNION ALL SELECT id, name, c_nationkey, c_mktsegment,
                             CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                             CAST(NULL AS VARCHAR)
            FROM r3
        """,
        # features.acf: fixed-point HUGEINT folds of the n^2-multiplied
        # mean-free identity; lags count positions of the observed
        # (ts, event_id)-ordered sequence
        "acf": """
            WITH v0 AS (SELECT event_type AS k, ts, event_id,
                               CAST(floor(value * 1000000 + 0.5) AS HUGEINT) AS v
                        FROM events WHERE value IS NOT NULL),
            l AS (SELECT k, v,
                         lead(v, 1) OVER w AS l1,
                         lead(v, 2) OVER w AS l2,
                         lead(v, 3) OVER w AS l3
                  FROM v0 WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)),
            g AS (SELECT k, CAST(count(*) AS HUGEINT) AS n,
                         sum(v) AS s, sum(v * v) AS q,
                         coalesce(sum(v * l1), 0) AS p1,
                         coalesce(sum(CASE WHEN l1 IS NOT NULL THEN v END), 0) AS h1,
                         coalesce(sum(l1), 0) AS t1,
                         coalesce(sum(v * l2), 0) AS p2,
                         coalesce(sum(CASE WHEN l2 IS NOT NULL THEN v END), 0) AS h2,
                         coalesce(sum(l2), 0) AS t2,
                         coalesce(sum(v * l3), 0) AS p3,
                         coalesce(sum(CASE WHEN l3 IS NOT NULL THEN v END), 0) AS h3,
                         coalesce(sum(l3), 0) AS t3
                  FROM l GROUP BY k)
            SELECT k AS event_type, CAST(n AS BIGINT) AS n, 1 AS lag,
                   CASE WHEN n > 1 AND (n*q - s*s) > 0 THEN
                     round(CAST(n*n*p1 - n*s*(h1 + t1) + (n - 1)*s*s AS DOUBLE)
                           / CAST(n*(n*q - s*s) AS DOUBLE), 6) END AS acf
            FROM g
            UNION ALL
            SELECT k, CAST(n AS BIGINT), 2,
                   CASE WHEN n > 2 AND (n*q - s*s) > 0 THEN
                     round(CAST(n*n*p2 - n*s*(h2 + t2) + (n - 2)*s*s AS DOUBLE)
                           / CAST(n*(n*q - s*s) AS DOUBLE), 6) END
            FROM g
            UNION ALL
            SELECT k, CAST(n AS BIGINT), 3,
                   CASE WHEN n > 3 AND (n*q - s*s) > 0 THEN
                     round(CAST(n*n*p3 - n*s*(h3 + t3) + (n - 3)*s*s AS DOUBLE)
                           / CAST(n*(n*q - s*s) AS DOUBLE), 6) END
            FROM g
        """,
        # features.weighted_median: fixed-point cumulative weights; the
        # lower weighted median is permutation-proof within value ties
        "weighted_median": """
            WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                              CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT) AS w
                       FROM lineitem
                       WHERE l_extendedprice IS NOT NULL
                         AND l_quantity IS NOT NULL
                         AND floor(l_quantity * 1000000 + 0.5) > 0),
            s AS (SELECT g, v,
                         sum(w) OVER (PARTITION BY g ORDER BY v
                                      ROWS UNBOUNDED PRECEDING) AS cw,
                         sum(w) OVER (PARTITION BY g) AS tw,
                         count(*) OVER (PARTITION BY g) AS n
                  FROM b)
            SELECT g, CAST(max(n) AS BIGINT) AS n,
                   round(CAST(max(tw) AS DOUBLE) / 1000000.0, 6) AS total_w,
                   min(CASE WHEN cw * 2 >= tw THEN v END) AS wmedian
            FROM s GROUP BY g
        """,
        # features.gini: sorted identity 2*sum(i*x)/(n*sum(x)) - (n+1)/n;
        # dropped rows sort NULLS LAST so real ranks stay 1..n
        "gini": """
            WITH b AS (SELECT source AS g,
                              CASE WHEN n_chars IS NOT NULL AND n_chars >= 0
                                   THEN CAST(floor(n_chars * 1000000 + 0.5)
                                             AS HUGEINT) END AS v
                       FROM documents),
            r AS (SELECT g, v,
                         row_number() OVER (PARTITION BY g
                                            ORDER BY v ASC NULLS LAST) AS i
                  FROM b),
            a AS (SELECT g, CAST(count(v) AS BIGINT) AS n,
                         CAST(count(*) - count(v) AS BIGINT) AS n_dropped,
                         coalesce(sum(v), 0) AS s,
                         coalesce(sum(CASE WHEN v IS NOT NULL
                                      THEN CAST(i AS HUGEINT) * v END), 0) AS si
                  FROM r GROUP BY g)
            SELECT g AS source, n, n_dropped,
                   CASE WHEN n > 0 AND s > 0 THEN
                     round(CAST(2 * si AS DOUBLE)
                           / CAST(CAST(n AS HUGEINT) * s AS DOUBLE)
                           - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
                   END AS gini
            FROM a
        """,
        # features.theil_sen: pair slopes oriented by the (x, y)-ordered
        # rid; exact two-middle medians; intercept uses the UNROUNDED
        # slope (mirrors the Spark operand order), then rounds
        "theil_sen": """
            WITH base AS (SELECT c_mktsegment AS g,
                                 CAST(c_custkey AS DOUBLE) AS x,
                                 c_acctbal AS y
                          FROM customer
                          WHERE c_custkey < 300
                            AND c_custkey IS NOT NULL
                            AND c_acctbal IS NOT NULL),
            ranked AS (SELECT g, x, y,
                              row_number() OVER (PARTITION BY g
                                                 ORDER BY x, y) AS rid
                       FROM base),
            med_src AS (SELECT g, x, y,
                               count(*) OVER (PARTITION BY g) AS n,
                               row_number() OVER (PARTITION BY g
                                                  ORDER BY x, rid) AS rx,
                               row_number() OVER (PARTITION BY g
                                                  ORDER BY y, rid) AS ry
                        FROM ranked),
            meds AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
                            (sum(CASE WHEN floor((n+1)/2.0) = rx THEN x END)
                           + sum(CASE WHEN floor((n+2)/2.0) = rx THEN x END))
                            / 2.0 AS mx,
                            (sum(CASE WHEN floor((n+1)/2.0) = ry THEN y END)
                           + sum(CASE WHEN floor((n+2)/2.0) = ry THEN y END))
                            / 2.0 AS my
                     FROM med_src GROUP BY g),
            pairs AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS sl
                      FROM ranked a JOIN ranked b
                        ON a.g = b.g AND a.rid < b.rid AND a.x <> b.x),
            sl_src AS (SELECT g, sl,
                              count(*) OVER (PARTITION BY g) AS m,
                              row_number() OVER (PARTITION BY g
                                                 ORDER BY sl) AS rs
                       FROM pairs),
            slopes AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
                              (sum(CASE WHEN floor((m+1)/2.0) = rs THEN sl END)
                             + sum(CASE WHEN floor((m+2)/2.0) = rs THEN sl END))
                              / 2.0 AS slope
                       FROM sl_src GROUP BY g)
            SELECT meds.g AS c_mktsegment, meds.n,
                   coalesce(slopes.n_pairs, 0) AS n_pairs,
                   round(slopes.slope, 6) AS slope,
                   round(meds.my - slopes.slope * meds.mx, 6) AS intercept
            FROM meds LEFT JOIN slopes ON meds.g = slopes.g
        """,
        # quality.ab_test: pooled-variance two-proportion z; operand
        # order mirrors the Spark expressions exactly
        "ab_test": """
            WITH e AS (SELECT 'arm' || CAST(user_id % 3 AS VARCHAR) AS arm,
                              CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END AS conv
                       FROM events
                       WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
            per AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(conv) AS BIGINT) AS conv
                    FROM e GROUP BY arm),
            c AS (SELECT n AS control_n, conv AS control_conv
                  FROM per WHERE arm = 'arm0'),
            j AS (SELECT p.arm, p.n, p.conv, c.control_n, c.control_conv,
                         CAST(p.conv AS DOUBLE) / CAST(p.n AS DOUBLE) AS pt,
                         CAST(c.control_conv AS DOUBLE)
                           / CAST(c.control_n AS DOUBLE) AS pc,
                         CAST(p.conv + c.control_conv AS DOUBLE)
                           / CAST(p.n + c.control_n AS DOUBLE) AS pool
                  FROM per p CROSS JOIN c WHERE p.arm <> 'arm0'),
            z AS (SELECT *,
                         pool * (1.0 - pool)
                           * (1.0 / CAST(n AS DOUBLE)
                              + 1.0 / CAST(control_n AS DOUBLE)) AS var,
                         CASE WHEN pool * (1.0 - pool)
                                   * (1.0 / CAST(n AS DOUBLE)
                                      + 1.0 / CAST(control_n AS DOUBLE)) > 0
                              THEN (pt - pc)
                                   / sqrt(pool * (1.0 - pool)
                                          * (1.0 / CAST(n AS DOUBLE)
                                             + 1.0 / CAST(control_n AS DOUBLE)))
                         END AS zraw
                  FROM j)
            SELECT arm, n, conv, round(pt, 6) AS rate,
                   control_n, control_conv, round(pc, 6) AS control_rate,
                   round(pt - pc, 6) AS lift, round(zraw, 6) AS z,
                   CASE WHEN zraw IS NOT NULL
                        THEN abs(zraw) >= 1.96 END AS significant
            FROM z
        """,
        # llm.zipf_fit: top-100 tokens by (cnt desc, token asc); the five
        # OLS sums fold in rank order on both engines
        "zipf_fit": f"""
            WITH toks AS (SELECT unnest(string_split_regex(
                                     {_SQL_NORM.format(c="text")}, '\\s+')) AS token
                          FROM documents),
            counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
                       FROM toks WHERE token <> '' GROUP BY token),
            top AS (SELECT token, cnt FROM counts
                    ORDER BY cnt DESC, token ASC LIMIT 100),
            ranked AS (SELECT CAST(row_number() OVER (
                                  ORDER BY cnt DESC, token ASC) AS BIGINT) AS r,
                              cnt
                       FROM top),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                         sum(ln(CAST(r AS DOUBLE)) ORDER BY r) AS sx,
                         sum(ln(CAST(cnt AS DOUBLE)) ORDER BY r) AS sy,
                         sum(ln(CAST(r AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))
                             ORDER BY r) AS sxy,
                         sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                             ORDER BY r) AS sxx,
                         sum(ln(CAST(cnt AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))
                             ORDER BY r) AS syy
                  FROM ranked),
            d AS (SELECT *, CAST(n_terms AS DOUBLE) AS n FROM s)
            SELECT n_terms,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
                   round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                         / n, 6) AS intercept,
                   CASE WHEN (n * syy - sy * sy) > 0 THEN
                     round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                   END AS r2
            FROM d
        """,
        # features.seq_patterns: 3-step lead windows per user; windows
        # containing a NULL drop whole; share over ALL complete windows
        "seq_patterns": """
            WITH l AS (SELECT event_type AS s0,
                              lead(event_type, 1) OVER w AS s1,
                              lead(event_type, 2) OVER w AS s2
                       FROM events
                       WINDOW w AS (PARTITION BY user_id
                                    ORDER BY ts, event_id)),
            cmpl AS (SELECT s0 || '>' || s1 || '>' || s2 AS pattern FROM l
                     WHERE s0 IS NOT NULL AND s1 IS NOT NULL
                       AND s2 IS NOT NULL),
            counts AS (SELECT pattern, CAST(count(*) AS BIGINT) AS cnt
                       FROM cmpl GROUP BY pattern),
            t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM counts)
            SELECT pattern, cnt,
                   round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
            FROM counts CROSS JOIN t WHERE cnt >= 2
        """,
        # features.attribution (linear): journeys reset at each
        # conversion; credit in exact integer micro-units (floor div)
        "attribution": """
            WITH s AS (
                SELECT user_id AS k,
                       event_type = 'purchase' AS c,
                       event_type AS ch,
                       coalesce(sum(CASE WHEN event_type = 'purchase'
                                         THEN 1 ELSE 0 END)
                                OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS j,
                       CASE WHEN event_type <> 'purchase' THEN
                         sum(CASE WHEN event_type <> 'purchase'
                                  THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) END AS tr
                FROM events),
            journeys AS (
                SELECT k, j,
                       sum(CASE WHEN c THEN 1 ELSE 0 END) AS nconv,
                       count(tr) AS ntouch
                FROM s GROUP BY k, j),
            conv AS (SELECT * FROM journeys WHERE nconv > 0),
            touches AS (SELECT k, j, ch, CAST(count(*) AS BIGINT) AS n_ch
                        FROM s WHERE tr IS NOT NULL GROUP BY k, j, ch),
            credited AS (
                SELECT t.ch AS channel,
                       CAST(t.n_ch * 1000000 AS BIGINT)
                         // CAST(c.ntouch AS BIGINT) AS micro
                FROM touches t JOIN conv c ON t.k = c.k AND t.j = c.j
                UNION ALL
                SELECT '(direct)', 1000000 FROM conv WHERE ntouch = 0)
            SELECT channel, CAST(count(*) AS BIGINT) AS journeys,
                   round(CAST(sum(micro) AS DOUBLE) / 1000000.0, 6) AS credit
            FROM credited GROUP BY channel
        """,
        # scale.compaction_plan: exclusive-prefix-bytes div target in
        # (bytes desc, path) order; >= cap files excluded
        "compaction_plan": """
            WITH m AS (SELECT 'part-' || CAST(o_orderkey AS VARCHAR) AS path,
                              CAST(CASE WHEN o_orderkey % 100 = 0
                                        THEN 60000000
                                        ELSE (o_orderkey * 7919) % 10000000
                                             + 1000 END AS BIGINT) AS bytes
                       FROM orders),
            cand AS (SELECT * FROM m WHERE bytes < 50000000),
            c AS (SELECT path, bytes,
                         sum(bytes) OVER (ORDER BY bytes DESC, path
                                          ROWS UNBOUNDED PRECEDING)
                           - bytes AS pre
                  FROM cand)
            SELECT path, bytes, CAST(pre // 50000000 AS BIGINT) AS bin,
                   CAST(row_number() OVER (PARTITION BY pre // 50000000
                                           ORDER BY bytes DESC, path) AS INT)
                     AS bin_seq
            FROM c
        """,
        # features.label_encode: dictionary ranked (freq desc, value) on
        # the bounded distinct table; corpus left-joins the ids
        "label_encode": """
            WITH counts AS (SELECT c_mktsegment AS v, count(*) AS n
                            FROM customer WHERE c_mktsegment IS NOT NULL
                            GROUP BY 1),
            d AS (SELECT v, CAST(row_number() OVER (ORDER BY n DESC, v)
                                 - 1 AS BIGINT) AS id
                  FROM counts)
            SELECT c.c_custkey, c.c_mktsegment, d.id AS c_mktsegment_id
            FROM customer c LEFT JOIN d ON c.c_mktsegment = d.v
        """,
        # quality.scd2_lookup over the scd2_build history: half-open
        # validity, NULL valid_to = current; purchases always match
        "scd2_lookup": """
            WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
            m AS (SELECT user_id, event_type, us,
                         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                              THEN 1 ELSE 0 END AS chg
                  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_type)),
            r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_type
                                           ROWS UNBOUNDED PRECEDING) AS run
                  FROM m),
            g AS (SELECT user_id, event_type, run, min(us) AS valid_from
                  FROM r GROUP BY 1, 2, 3),
            d AS (SELECT user_id, event_type, valid_from,
                         lead(valid_from) OVER (PARTITION BY user_id
                                                ORDER BY valid_from, event_type) AS valid_to
                  FROM g),
            facts AS (SELECT event_id, user_id, epoch_us(ts) AS us
                      FROM events WHERE event_type = 'purchase')
            SELECT f.event_id, f.user_id, f.us,
                   d.event_type AS dim_event_type,
                   d.valid_from AS dim_valid_from,
                   d.valid_to AS dim_valid_to
            FROM facts f LEFT JOIN d
              ON f.user_id = d.user_id
             AND f.us >= d.valid_from
             AND (d.valid_to IS NULL OR f.us < d.valid_to)
        """,
        # features.ks_test: D maximized on integer cross-products; p uses
        # the UNROUNDED d with the Spark operand order
        "ks_test": """
            WITH base AS (SELECT value AS v,
                                 CASE WHEN event_type = 'click'
                                      THEN 1 ELSE 0 END AS ia,
                                 CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END AS ib
                          FROM events
                          WHERE value IS NOT NULL
                            AND event_type IN ('click', 'purchase')),
            per_v AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
                             CAST(sum(ib) AS BIGINT) AS cb
                      FROM base GROUP BY v),
            run AS (SELECT sum(ca) OVER (ORDER BY v
                                         ROWS UNBOUNDED PRECEDING) AS ra,
                           sum(cb) OVER (ORDER BY v
                                         ROWS UNBOUNDED PRECEDING) AS rb
                    FROM per_v),
            tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                           CAST(sum(cb) AS BIGINT) AS nb
                    FROM per_v),
            m AS (SELECT max(abs(ra * tot.nb - rb * tot.na)) AS mx
                  FROM run CROSS JOIN tot),
            d AS (SELECT tot.na, tot.nb,
                         CAST(m.mx AS DOUBLE)
                           / (CAST(tot.na AS DOUBLE)
                              * CAST(tot.nb AS DOUBLE)) AS dd
                  FROM m CROSS JOIN tot)
            SELECT na AS n_a, nb AS n_b,
                   CASE WHEN na > 0 AND nb > 0
                        THEN round(dd, 6) END AS d_stat,
                   CASE WHEN na > 0 AND nb > 0 THEN
                     round(least(1.0,
                       2.0 * exp((((-2.0 * dd) * dd) * CAST(na AS DOUBLE))
                                 * CAST(nb AS DOUBLE)
                                 / CAST(na + nb AS DOUBLE))), 6) END AS p_approx
            FROM d
        """,
        # graph.bipartite_projection on the order-part incidence
        "bipartite": """
            WITH e AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r
                       FROM lineitem
                       WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
            dr AS (SELECT r, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY r),
            pairs AS (SELECT a.r AS item_i, b.r AS item_j,
                             CAST(count(*) AS BIGINT) AS common
                      FROM e a JOIN e b ON a.l = b.l AND a.r < b.r
                      GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT p.item_i, p.item_j, p.common,
                   round(CAST(p.common AS DOUBLE)
                         / CAST(da.d + db.d - p.common AS DOUBLE), 6) AS jaccard
            FROM pairs p
            JOIN dr da ON da.r = p.item_i
            JOIN dr db ON db.r = p.item_j
        """,
        # features.twap: piecewise-constant integral / span; the last
        # observation carries no duration
        "twap": """
            WITH b AS (SELECT event_type AS k, epoch_us(ts) AS t, event_id,
                              CAST(floor(value * 1000000 + 0.5) AS HUGEINT) AS v
                       FROM events
                       WHERE ts IS NOT NULL AND value IS NOT NULL),
            l AS (SELECT k, t, v,
                         lead(t) OVER (PARTITION BY k ORDER BY t, event_id) - t AS dur
                  FROM b),
            g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
                         max(t) - min(t) AS span,
                         coalesce(sum(v * CAST(dur AS HUGEINT)), 0) AS wsum
                  FROM l GROUP BY k)
            SELECT k AS event_type, n, span,
                   CASE WHEN span > 0 THEN
                     round(CAST(wsum AS DOUBLE) / CAST(span AS DOUBLE)
                           / 1000000, 6) END AS twap
            FROM g
        """,
        # features.rfm: aggregate to |users| rows, ntile with key
        # tie-break on each axis
        "rfm": """
            WITH a AS (SELECT user_id, max(epoch_us(ts)) AS recency,
                              CAST(count(*) AS BIGINT) AS frequency,
                              coalesce(sum(CAST(floor(value * 1000000 + 0.5)
                                                AS HUGEINT)), 0) AS m
                       FROM events WHERE ts IS NOT NULL GROUP BY user_id)
            SELECT user_id, recency, frequency,
                   round(CAST(m AS DOUBLE) / 1000000, 6) AS monetary,
                   CAST(ntile(5) OVER (ORDER BY recency ASC, user_id ASC) AS INT) AS r_score,
                   CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id ASC) AS INT) AS f_score,
                   CAST(ntile(5) OVER (ORDER BY m ASC, user_id ASC) AS INT) AS m_score
            FROM a
        """,
        # features.bucket_quantiles: lower quantile at integer rank
        # (p*n + 99) div 100
        "bucket_quantiles": """
            WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v
                       FROM lineitem WHERE l_extendedprice IS NOT NULL),
            r AS (SELECT g, v,
                         CAST(row_number() OVER (PARTITION BY g ORDER BY v ASC)
                              AS BIGINT) AS rn,
                         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
                  FROM b)
            SELECT g AS l_returnflag, max(n) AS n,
                   min(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS p50,
                   min(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS p95,
                   min(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS p99
            FROM r GROUP BY g
        """,
        # scale.bloom_filter_join: no false negatives, so the result IS
        # the plain semi-join — the bloom stage only cuts shuffle volume
        "bloom_join": """
            SELECT l.l_orderkey, CAST(l.l_linenumber AS INT) AS l_linenumber,
                   l.l_partkey, l.l_quantity
            FROM lineitem l
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey % 17 = 0
                            AND o.o_orderkey = l.l_orderkey)
        """,
        # quality.disparate_impact: four-fifths rule vs BUILDING
        "disparate_impact": """
            WITH per AS (SELECT c_mktsegment AS g,
                                CAST(count(*) AS BIGINT) AS n,
                                CAST(sum(CASE WHEN c_acctbal > 5000
                                              THEN 1 ELSE 0 END) AS BIGINT) AS pos
                         FROM customer GROUP BY 1),
            ref AS (SELECT CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS rr
                    FROM per WHERE g = 'BUILDING')
            SELECT g AS "group", n, pos AS positives,
                   round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
                   round(ref.rr, 6) AS ref_rate,
                   CASE WHEN ref.rr > 0 THEN
                     round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) / ref.rr, 6)
                   END AS di_ratio,
                   CASE WHEN ref.rr > 0 THEN
                     CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) / ref.rr < 0.8
                   END AS adverse
            FROM per CROSS JOIN ref WHERE g <> 'BUILDING'
        """,
        # quality.freshness: per-type latest micros + lag vs global max
        "freshness": """
            WITH per AS (SELECT event_type AS source,
                                CAST(count(*) AS BIGINT) AS n,
                                max(epoch_us(ts)) AS latest
                         FROM events WHERE ts IS NOT NULL GROUP BY 1)
            SELECT source, n, latest,
                   (SELECT max(latest) FROM per) - latest AS lag_us,
                   (SELECT max(latest) FROM per) - latest > 3600000000 AS stale
            FROM per
        """,
        # ml.ece: exact bin counts, fixed-point confidence, bin-ordered
        # weighted fold
        "ece": """
            WITH d AS (SELECT CAST(l_partkey % 100 AS DOUBLE) / 100.0 AS score,
                              CASE WHEN l_orderkey % 100 < l_partkey % 100
                                   THEN 1 ELSE 0 END AS y
                       FROM lineitem),
            b AS (SELECT CAST(least(greatest(floor(score * 10), 0), 9) AS INT) AS bin,
                         CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(y) AS BIGINT) AS pos,
                         sum(CAST(floor(score * 1000000 + 0.5) AS HUGEINT)) AS conf
                  FROM d WHERE score IS NOT NULL GROUP BY 1),
            f AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                         CAST(count(*) AS BIGINT) AS n_bins_used,
                         sum(CAST(n AS DOUBLE)
                             * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                                   - CAST(conf AS DOUBLE) / 1000000.0
                                     / CAST(n AS DOUBLE))
                             ORDER BY bin) AS wsum
                  FROM b)
            SELECT n, n_bins_used, round(wsum / CAST(n AS DOUBLE), 6) AS ece
            FROM f
        """,
        # llm.fix_mojibake: the shared rule table as chr()-built
        # replace() chain over the same injected corruption
        "mojibake": f"""
            WITH c AS (SELECT doc_id,
                              CASE WHEN doc_id % 3 = 0
                                   THEN text || ' caf' || chr(195) || chr(169)
                                   WHEN doc_id % 3 = 1
                                   THEN text || ' ' || chr(226) || chr(128)
                                        || chr(156) || 'q' || chr(226)
                                        || chr(128) || chr(157)
                                   ELSE text END AS text
                       FROM documents)
            SELECT doc_id, {_sql_mojibake_expr("text")} AS text_fixed,
                   {_sql_mojibake_expr("text")} <> text AS mojibake
            FROM c
        """,
        # features.merge_intervals: gaps-and-islands with a running max
        # so contained intervals collapse
        "merge_intervals": """
            WITH v AS (SELECT user_id, epoch_us(ts) AS lo,
                              epoch_us(ts) + (1800 + (event_id % 7) * 600)
                                * 1000000 AS hi
                       FROM events WHERE event_type = 'view'),
            f AS (SELECT user_id, lo, hi,
                         CASE WHEN max(hi) OVER w IS NULL
                                OR lo > max(hi) OVER w + 0
                              THEN 1 ELSE 0 END AS brk
                  FROM v WHERE lo IS NOT NULL AND hi IS NOT NULL AND lo < hi
                  WINDOW w AS (PARTITION BY user_id ORDER BY lo, hi
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)),
            i AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
                                           ORDER BY lo, hi
                                           ROWS UNBOUNDED PRECEDING) AS island
                  FROM f)
            SELECT user_id, min(lo) AS lo, max(hi) AS hi,
                   CAST(count(*) AS BIGINT) AS n_merged
            FROM i GROUP BY user_id, island
        """,
        # quality.ri_check: orphan counts via NOT IN over distinct dim
        # keys; top-k by (count desc, key text asc)
        "ri_check": """
            WITH fk AS (SELECT CASE WHEN l_orderkey % 13 = 0
                                    THEN l_suppkey + 1000000
                                    ELSE l_suppkey END AS k
                        FROM lineitem),
            dk AS (SELECT DISTINCT s_suppkey AS k FROM supplier
                   WHERE s_suppkey IS NOT NULL),
            orph AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt
                     FROM fk
                     WHERE k IS NOT NULL
                       AND k NOT IN (SELECT k FROM dk)
                     GROUP BY k),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS nf,
                           CAST(count(CASE WHEN k IS NULL THEN 1 END)
                                AS BIGINT) AS nn
                    FROM fk),
            osum AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS no
                     FROM orph)
            SELECT 'summary' AS kind, CAST(NULL AS VARCHAR) AS key,
                   tot.nf AS n,
                   round((osum.no + tot.nn) / CAST(tot.nf AS DOUBLE), 6)
                     AS orphan_rate
            FROM tot CROSS JOIN osum
            UNION ALL
            SELECT 'null', NULL, tot.nn, CAST(NULL AS DOUBLE) FROM tot
            UNION ALL
            SELECT * FROM (
                SELECT 'orphan' AS kind, CAST(k AS VARCHAR) AS key,
                       cnt AS n, CAST(NULL AS DOUBLE) AS orphan_rate
                FROM orph
                ORDER BY cnt DESC, CAST(k AS VARCHAR) ASC LIMIT 5)
        """,
        # quality.sync_plan: the table_checksum formula on both sides,
        # full-outer bucket diff, matching buckets omitted
        "sync_plan": """
            WITH oldt AS (SELECT o_orderkey, o_custkey, o_orderstatus
                          FROM orders),
            newt AS (SELECT o_orderkey, o_custkey,
                            CASE WHEN o_orderkey % 5 = 0 THEN 'X9'
                                 ELSE o_orderstatus END AS o_orderstatus
                     FROM orders WHERE o_orderkey % 7 <> 0
                     UNION ALL
                     SELECT o_orderkey + 10000000, o_custkey, 'N'
                     FROM orders WHERE o_orderkey % 11 = 0),
            ho AS (SELECT CAST('0x' || substr(md5(concat_ws(chr(31),
                       coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
                       coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
                       coalesce(o_orderstatus, chr(0) || 'null'))), 1, 15) AS BIGINT) AS hv FROM oldt),
            hn AS (SELECT CAST('0x' || substr(md5(concat_ws(chr(31),
                       coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
                       coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
                       coalesce(o_orderstatus, chr(0) || 'null'))), 1, 15) AS BIGINT) AS hv FROM newt),
            co AS (SELECT hv % 64 AS bucket,
                          CAST(count(*) AS BIGINT) AS old_rows,
                          bit_xor(hv) AS ox,
                          CAST(sum(hv % 1000000007) AS BIGINT) AS os
                   FROM ho GROUP BY 1),
            cn AS (SELECT hv % 64 AS bucket,
                          CAST(count(*) AS BIGINT) AS new_rows,
                          bit_xor(hv) AS nx,
                          CAST(sum(hv % 1000000007) AS BIGINT) AS ns
                   FROM hn GROUP BY 1),
            j AS (SELECT coalesce(co.bucket, cn.bucket) AS bucket,
                         co.old_rows, cn.new_rows, ox, nx, os, ns
                  FROM co FULL OUTER JOIN cn ON co.bucket = cn.bucket)
            SELECT bucket, coalesce(old_rows, 0) AS old_rows,
                   coalesce(new_rows, 0) AS new_rows,
                   CASE WHEN old_rows IS NULL THEN 'copy'
                        WHEN new_rows IS NULL THEN 'delete'
                        ELSE 'resync' END AS action
            FROM j
            WHERE NOT (old_rows IS NOT DISTINCT FROM new_rows
                       AND ox IS NOT DISTINCT FROM nx
                       AND os IS NOT DISTINCT FROM ns)
        """,
        # features.gap_report: lead spacing + per-key top-3 rank on one
        # exchange
        "gap_report": """
            WITH b AS (SELECT event_type AS k, epoch_us(ts) AS t
                       FROM events WHERE ts IS NOT NULL),
            l AS (SELECT k, t AS gap_start,
                         lead(t) OVER (PARTITION BY k ORDER BY t) AS gap_end
                  FROM b),
            g AS (SELECT k, gap_start, gap_end,
                         gap_end - gap_start AS gap_us
                  FROM l WHERE gap_end IS NOT NULL
                    AND gap_end - gap_start > 60000000),
            r AS (SELECT *, CAST(row_number() OVER (PARTITION BY k
                                ORDER BY gap_us DESC, gap_start ASC)
                                AS INT) AS rank
                  FROM g)
            SELECT k AS event_type, gap_start, gap_end, gap_us, rank
            FROM r WHERE rank <= 3
        """,
        # features.pop_change: fixed-point per-period sums, lag window
        # over the bounded aggregate; pct uses the ROUNDED values like
        # the Spark side
        "pop_change": """
            WITH per AS (SELECT o_orderpriority AS k,
                                strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') AS period,
                                round(CAST(sum(CAST(floor(o_totalprice
                                      * 1000000 + 0.5) AS HUGEINT)) AS DOUBLE)
                                      / 1000000, 6) AS value
                         FROM orders GROUP BY 1, 2)
            SELECT k, period, value,
                   round(lag(value) OVER w, 6) AS prev_value,
                   round(value - lag(value) OVER w, 6) AS change,
                   CASE WHEN lag(value) OVER w <> 0 THEN
                     round((value - lag(value) OVER w)
                           / lag(value) OVER w, 6) END AS pct_change
            FROM per WINDOW w AS (PARTITION BY k ORDER BY period)
        """,
        # features.session_stats: gaps-and-islands on epoch micros with
        # the strictly-greater gap rule (matches session_window)
        "session_stats": """
            WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t
                       FROM events WHERE ts IS NOT NULL),
            f AS (SELECT k, t,
                         CASE WHEN lag(t) OVER w IS NULL
                                OR t - lag(t) OVER w > 28800000000
                              THEN 1 ELSE 0 END AS brk
                  FROM b WINDOW w AS (PARTITION BY k ORDER BY t)),
            i AS (SELECT k, t,
                         CAST(sum(brk) OVER (PARTITION BY k ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
                  FROM f)
            SELECT k AS user_id, session,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(t) AS session_start,
                   max(t) AS session_end,
                   max(t) - min(t) AS duration_us,
                   count(*) = 1 AS bounce
            FROM i GROUP BY k, session
        """,
        # ml.ridge_train_by: the proven ridge Cramer algebra keyed by
        # returnflag (shared _RIDGE_BY_CTES chain)
        "ridge_by": _RIDGE_BY_CTES + """
            SELECT g, '__intercept__' AS feature, round(det0 / det, 6) AS weight FROM w
            UNION ALL SELECT g, 'x1', round(det1 / det, 6) FROM w
            UNION ALL SELECT g, 'x2', round(det2 / det, 6) FROM w
        """,
        # ml.ridge_apply_by: weights ROUNDED to 6 first (Spark joins the
        # rounded table), then the pinned w0 + w1*x1 + w2*x2 projection
        "ridge_apply_by": _RIDGE_BY_CTES.rstrip() + """,
            ww AS (SELECT g, round(det0 / det, 6) AS w0,
                          round(det1 / det, 6) AS w1,
                          round(det2 / det, 6) AS w2 FROM w)
            SELECT l.l_orderkey, CAST(l.l_linenumber AS INT) AS l_linenumber,
                   l.g, l.x1, l.x2,
                   round(ww.w0 + ww.w1 * CAST(l.x1 AS DOUBLE)
                         + ww.w2 * CAST(l.x2 AS DOUBLE), 6) AS pred
            FROM (SELECT l_orderkey, l_linenumber, l_returnflag AS g,
                         l_quantity AS x1, l_discount AS x2 FROM lineitem) l
            LEFT JOIN ww USING (g)
        """,
        # features.seasonal_adjust scale=1e6 by event_type/hour: BIGINT
        # quantized phase/group sums, unrounded seasonal reused by
        # adjusted (mirrors Spark operand order), NULL passthrough
        "seasonal_adjust": """
            WITH b AS (SELECT event_id, event_type, CAST(hour(ts) AS INT) AS hr,
                              value,
                              CAST(round(value * 1000000) AS BIGINT) AS q
                       FROM events),
            p AS (SELECT event_type, hr, CAST(sum(q) AS BIGINT) AS ps,
                         count(q) AS pn
                  FROM b WHERE q IS NOT NULL GROUP BY 1, 2),
            g AS (SELECT event_type, CAST(sum(q) AS BIGINT) AS gs, count(q) AS gn
                  FROM b WHERE q IS NOT NULL GROUP BY 1)
            SELECT CAST(b.event_id AS BIGINT) AS event_id, b.event_type, b.hr,
                   b.value,
                   CASE WHEN q IS NOT NULL THEN
                     round((CAST(ps AS DOUBLE) / pn - CAST(gs AS DOUBLE) / gn)
                           / 1000000, 6) END AS seasonal,
                   CASE WHEN q IS NOT NULL THEN
                     round(value - (CAST(ps AS DOUBLE) / pn
                                    - CAST(gs AS DOUBLE) / gn) / 1000000, 6)
                   END AS adjusted
            FROM b LEFT JOIN p USING (event_type, hr) LEFT JOIN g USING (event_type)
        """,
        # features.benford: decimal-string first digit (never log10);
        # expected_p literals injected from the SAME python table the
        # operator embeds, so both engines compare identical doubles
        "benford": f"""
            WITH b AS (SELECT l_returnflag,
                              CAST(substring(CAST(CAST(floor(abs(CAST(l_extendedprice AS DOUBLE))) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
                       FROM lineitem WHERE l_extendedprice IS NOT NULL),
            c AS (SELECT l_returnflag, d, count(*) AS n FROM b WHERE d >= 1
                  GROUP BY 1, 2),
            t AS (SELECT l_returnflag, CAST(sum(n) AS BIGINT) AS tot
                  FROM c GROUP BY 1)
            SELECT c.l_returnflag, c.d AS digit, c.n,
                   round(CAST(c.n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS observed_p,
                   round(([{_BENFORD_LITS}])[c.d], 6) AS expected_p,
                   round(CAST(c.n AS DOUBLE) / CAST(tot AS DOUBLE)
                         - ([{_BENFORD_LITS}])[c.d], 6) AS deviation
            FROM c JOIN t USING (l_returnflag)
        """,
        # scale.shard_stats n=16 on (orderkey, linenumber): row_number
        # -> contiguous range shards -> per-shard native-type envelopes
        # cast to string last; n_nulls exact BIGINT
        "shard_stats": """
            WITH r AS (SELECT l_partkey, l_suppkey, l_returnflag,
                              row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rid,
                              count(*) OVER () AS total
                       FROM lineitem),
            s AS (SELECT CAST(floor((rid - 1) * 16 / total) AS BIGINT) AS shard, *
                  FROM r),
            a AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
                         CAST(min(l_partkey) AS VARCHAR) AS min_p,
                         CAST(max(l_partkey) AS VARCHAR) AS max_p,
                         CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul_p,
                         CAST(min(l_suppkey) AS VARCHAR) AS min_s,
                         CAST(max(l_suppkey) AS VARCHAR) AS max_s,
                         CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul_s,
                         min(l_returnflag) AS min_f,
                         max(l_returnflag) AS max_f,
                         CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nul_f
                  FROM s GROUP BY shard)
            SELECT shard, 'l_partkey' AS "column", min_p AS min_val,
                   max_p AS max_val, nul_p AS n_nulls, n_rows FROM a
            UNION ALL
            SELECT shard, 'l_suppkey', min_s, max_s, nul_s, n_rows FROM a
            UNION ALL
            SELECT shard, 'l_returnflag', min_f, max_f, nul_f, n_rows FROM a
        """,
        # er.key_collision: sorted-distinct-token fingerprint of the
        # normalized value; canonical = highest count then smallest
        # original (row_number mirror of Spark's (-cnt, val) fold)
        "key_collision": f"""
            WITH m AS (
              SELECT c_name AS name FROM customer
              UNION ALL
              SELECT upper(c_name) FROM customer WHERE c_custkey % 2 = 0
              UNION ALL
              SELECT replace(c_name, '#', ' # ') FROM customer WHERE c_custkey % 3 = 0
            ),
            f AS (SELECT array_to_string(list_sort(list_distinct(
                             string_split_regex({_SQL_NORM.format(c="name")}, '\\s+'))),
                         ' ') AS key,
                         name AS v
                  FROM m WHERE name IS NOT NULL),
            vc AS (SELECT key, v, count(*) AS cnt FROM f WHERE key <> '' GROUP BY 1, 2),
            agg AS (SELECT key, CAST(sum(cnt) AS BIGINT) AS n_rows,
                           CAST(count(*) AS BIGINT) AS n_variants
                    FROM vc GROUP BY key),
            canon AS (SELECT key, v AS canonical
                      FROM (SELECT key, v, row_number() OVER (PARTITION BY key
                                ORDER BY cnt DESC, v ASC) AS rn FROM vc)
                      WHERE rn = 1)
            SELECT agg.key, n_rows, n_variants, canonical
            FROM agg JOIN canon USING (key)
            WHERE n_variants >= 2
        """,
        # features.mutual_info: exact BIGINT cell/marginal counts; MI
        # folds in (val, y) order on both engines (sum ... ORDER BY
        # mirrors Spark's array_sort fold); NULL category sentinel
        "mutual_info": """
            WITH m AS (
              SELECT 'c_mktsegment' AS feature,
                     coalesce(c_mktsegment, chr(0) || 'null') AS val,
                     coalesce(CAST(c_custkey % 3 AS VARCHAR), chr(0) || 'null') AS y
              FROM customer
              UNION ALL
              SELECT 'nat5',
                     coalesce(CAST(c_nationkey % 5 AS VARCHAR), chr(0) || 'null'),
                     coalesce(CAST(c_custkey % 3 AS VARCHAR), chr(0) || 'null')
              FROM customer
            ),
            cells AS (SELECT feature, val, y, count(*) AS cxy FROM m GROUP BY 1, 2, 3),
            cx AS (SELECT feature, val, CAST(sum(cxy) AS BIGINT) AS cx
                   FROM cells GROUP BY 1, 2),
            cy AS (SELECT feature, y, CAST(sum(cxy) AS BIGINT) AS cy
                   FROM cells GROUP BY 1, 2),
            nt AS (SELECT feature, CAST(sum(cxy) AS BIGINT) AS n FROM cells GROUP BY 1)
            SELECT feature, n,
                   round(sum((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))
                             * ln((CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE))
                                  / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
                             ORDER BY val, y), 6) AS mi
            FROM cells JOIN cx USING (feature, val) JOIN cy USING (feature, y)
                 JOIN nt USING (feature)
            GROUP BY feature, n
        """,
        # features.assoc_rules min_pair_count=20 cap=10000: distinct
        # (basket, item), basket-keyed self-join with i < j, exact
        # counts, per-row double rule math (no float sums)
        "assoc_rules": """
            WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey % 50 AS i
                        FROM lineitem
                        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
            sz AS (SELECT b FROM it GROUP BY b HAVING count(*) <= 10000),
            k AS (SELECT it.b, it.i FROM it JOIN sz USING (b)),
            nb AS (SELECT CAST(count(DISTINCT b) AS DOUBLE) AS nn FROM k),
            ci AS (SELECT i, CAST(count(*) AS BIGINT) AS ci FROM k GROUP BY i),
            p AS (SELECT a.i AS i, c.i AS j, CAST(count(*) AS BIGINT) AS pair_count
                  FROM k a JOIN k c ON a.b = c.b AND a.i < c.i
                  GROUP BY 1, 2 HAVING count(*) >= 20),
            two_way AS (SELECT i AS antecedent, j AS consequent, pair_count FROM p
                        UNION ALL
                        SELECT j, i, pair_count FROM p)
            SELECT antecedent, consequent, pair_count,
                   round(CAST(pair_count AS DOUBLE) / nn, 6) AS support,
                   round(CAST(pair_count AS DOUBLE) / CAST(ca.ci AS DOUBLE), 6) AS confidence,
                   round((CAST(pair_count AS DOUBLE) * nn)
                         / (CAST(ca.ci AS DOUBLE) * CAST(cc.ci AS DOUBLE)), 6) AS lift
            FROM two_way
            JOIN ci ca ON ca.i = two_way.antecedent
            JOIN ci cc ON cc.i = two_way.consequent
            CROSS JOIN nb
        """,
        # llm.freq_phrases 2..4 min_count=20: per-level n-gram counts
        # over the normalized token arrays; killer level 5 counted but
        # not emitted; closedness = no one-word extension with an equal
        # count (string-sliced sub-phrases, token-count-safe equi-join)
        "freq_phrases": f"""
            WITH t AS (SELECT string_split_regex({norm_text}, '\\s+') AS l
                       FROM documents),
            g AS (
              SELECT 2 AS n, unnest([array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 1], ' ')
                                     for i in range(1, len(l))]) AS phrase FROM t
              UNION ALL
              SELECT 3, unnest([array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 2], ' ')
                                for i in range(1, len(l) - 1)]) FROM t
              UNION ALL
              SELECT 4, unnest([array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 3], ' ')
                                for i in range(1, len(l) - 2)]) FROM t
              UNION ALL
              SELECT 5, unnest([array_to_string(l[CAST(i AS INT):CAST(i AS INT) + 4], ' ')
                                for i in range(1, len(l) - 3)]) FROM t
            ),
            c AS (SELECT n, phrase, count(*) AS cnt FROM g
                  GROUP BY 1, 2 HAVING count(*) >= 20),
            k AS (
              SELECT array_to_string((string_split(phrase, ' '))[1:n - 1], ' ') AS phrase,
                     cnt FROM c WHERE n > 2
              UNION ALL
              SELECT array_to_string((string_split(phrase, ' '))[2:n], ' ') AS phrase,
                     cnt FROM c WHERE n > 2
            ),
            km AS (SELECT phrase, max(cnt) AS ext FROM k GROUP BY phrase)
            SELECT c.phrase, CAST(c.n AS INT) AS n, CAST(c.cnt AS BIGINT) AS cnt
            FROM c LEFT JOIN km USING (phrase)
            WHERE c.n <= 4 AND (km.ext IS NULL OR km.ext < c.cnt)
        """,
        # quality.table_checksum n_buckets=64: md5_long of \x1f-joined
        # canonical strings (NULL -> \x00null sentinel); count + bit_xor
        # + mod-1e9+7 sum per pmod bucket
        "table_checksum": """
            WITH h AS (SELECT CAST('0x' || substr(md5(concat_ws(chr(31),
                           coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
                           coalesce(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
                           coalesce(o_orderstatus, chr(0) || 'null'),
                           coalesce(o_orderpriority, chr(0) || 'null'))), 1, 15) AS BIGINT) AS hv
                       FROM orders)
            SELECT hv % 64 AS bucket, count(*) AS n_rows,
                   bit_xor(hv) AS xor_sig,
                   CAST(sum(hv % 1000000007) AS BIGINT) AS sum_sig
            FROM h GROUP BY 1
        """,
        # features.rank_corr: doubled average ranks (rank + RANGE-framed
        # peer count) stay exact BIGINTs; Pearson epilogue over DOUBLE
        # casts mirrors Spark's operand order; NULL rho when n < 2 or
        # either side has zero variance
        "rank_corr": """
            WITH b AS (SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y
                       FROM lineitem
                       WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
            r AS (SELECT l_returnflag,
                         CAST(rank() OVER wx + count(*) OVER wxr AS BIGINT) AS a,
                         CAST(rank() OVER wy + count(*) OVER wyr AS BIGINT) AS b2
                  FROM b
                  WINDOW wx AS (PARTITION BY l_returnflag ORDER BY x),
                         wxr AS (PARTITION BY l_returnflag ORDER BY x
                                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         wy AS (PARTITION BY l_returnflag ORDER BY y),
                         wyr AS (PARTITION BY l_returnflag ORDER BY y
                                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s AS (SELECT l_returnflag, count(*) AS n,
                         CAST(sum(a) AS DOUBLE) AS sa, CAST(sum(b2) AS DOUBLE) AS sb,
                         CAST(sum(a * a) AS DOUBLE) AS saa,
                         CAST(sum(b2 * b2) AS DOUBLE) AS sbb,
                         CAST(sum(a * b2) AS DOUBLE) AS sab
                  FROM r GROUP BY l_returnflag)
            SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                   round(CASE WHEN (CAST(n AS DOUBLE) * saa - sa * sa)
                                   * (CAST(n AS DOUBLE) * sbb - sb * sb) > 0
                              THEN (CAST(n AS DOUBLE) * sab - sa * sb)
                                   / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
                                          * (CAST(n AS DOUBLE) * sbb - sb * sb))
                         END, 6) AS rho
            FROM s
        """,
        # features.cusum target=50 k=5 h=100 scale=1e6: S_t = cum_t -
        # min(0, running_min(cum)) closed form, BIGINT-exact; the
        # quantization expression mirrors Spark's operand order
        "cusum": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
                              CAST(round((value - 50.0 - 5.0) * 1000000) AS BIGINT) AS qhi,
                              CAST(round((50.0 - value - 5.0) * 1000000) AS BIGINT) AS qlo
                       FROM events),
            c AS (SELECT *, sum(qhi) OVER w AS chi, sum(qlo) OVER w AS clo
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            m AS (SELECT *, chi - least(0, min(chi) OVER w) AS shi,
                            clo - least(0, min(clo) OVER w) AS slo
                  FROM c
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(ts_us AS BIGINT) AS ts_us,
                   CAST(event_id AS BIGINT) AS event_id, value,
                   round(shi / 1000000, 6) AS cusum_hi,
                   round(slo / 1000000, 6) AS cusum_lo,
                   CAST(shi > 100000000 OR slo > 100000000 AS INT) AS cusum_alarm
            FROM m
        """,
        # er.fs_weights s=0.5: exact BIGINT agreement counts, one
        # floating epilogue (divide, log2, round 6) — same IEEE ops
        # in the same order on both engines
        "fs_weights": f"""
            WITH p AS ({_FS_PAIRS_SQL}),
            s AS (SELECT sum(y) AS nm, sum(1 - y) AS nu,
                sum(CASE WHEN y = 1 AND coalesce(ag_name, 0) <> 0 THEN 1 ELSE 0 END) AS am_name,
                sum(CASE WHEN y = 0 AND coalesce(ag_name, 0) <> 0 THEN 1 ELSE 0 END) AS au_name,
                sum(CASE WHEN y = 1 AND coalesce(ag_city, 0) <> 0 THEN 1 ELSE 0 END) AS am_city,
                sum(CASE WHEN y = 0 AND coalesce(ag_city, 0) <> 0 THEN 1 ELSE 0 END) AS au_city,
                sum(CASE WHEN y = 1 AND coalesce(ag_phone, 0) <> 0 THEN 1 ELSE 0 END) AS am_phone,
                sum(CASE WHEN y = 0 AND coalesce(ag_phone, 0) <> 0 THEN 1 ELSE 0 END) AS au_phone
                FROM p)
            SELECT 'ag_name' AS feature,
                   round((am_name + 0.5) / (nm + 1.0), 6) AS m_prob,
                   round((au_name + 0.5) / (nu + 1.0), 6) AS u_prob,
                   round(log2(((am_name + 0.5) / (nm + 1.0)) / ((au_name + 0.5) / (nu + 1.0))), 6) AS w_agree,
                   round(log2((1 - (am_name + 0.5) / (nm + 1.0)) / (1 - (au_name + 0.5) / (nu + 1.0))), 6) AS w_disagree
            FROM s
            UNION ALL
            SELECT 'ag_city',
                   round((am_city + 0.5) / (nm + 1.0), 6),
                   round((au_city + 0.5) / (nu + 1.0), 6),
                   round(log2(((am_city + 0.5) / (nm + 1.0)) / ((au_city + 0.5) / (nu + 1.0))), 6),
                   round(log2((1 - (am_city + 0.5) / (nm + 1.0)) / (1 - (au_city + 0.5) / (nu + 1.0))), 6)
            FROM s
            UNION ALL
            SELECT 'ag_phone',
                   round((am_phone + 0.5) / (nm + 1.0), 6),
                   round((au_phone + 0.5) / (nu + 1.0), 6),
                   round(log2(((am_phone + 0.5) / (nm + 1.0)) / ((au_phone + 0.5) / (nu + 1.0))), 6),
                   round(log2((1 - (am_phone + 0.5) / (nm + 1.0)) / (1 - (au_phone + 0.5) / (nu + 1.0))), 6)
            FROM s
        """,
        # er.fs_score: per-pair sum of the ROUNDED per-feature weights
        # (fs_score collects fs_weights' rounded output), added in
        # feature order name, city, phone starting from 0.0
        "fs_score": f"""
            WITH p AS ({_FS_PAIRS_SQL}),
            s AS (SELECT sum(y) AS nm, sum(1 - y) AS nu,
                sum(CASE WHEN y = 1 AND coalesce(ag_name, 0) <> 0 THEN 1 ELSE 0 END) AS am_name,
                sum(CASE WHEN y = 0 AND coalesce(ag_name, 0) <> 0 THEN 1 ELSE 0 END) AS au_name,
                sum(CASE WHEN y = 1 AND coalesce(ag_city, 0) <> 0 THEN 1 ELSE 0 END) AS am_city,
                sum(CASE WHEN y = 0 AND coalesce(ag_city, 0) <> 0 THEN 1 ELSE 0 END) AS au_city,
                sum(CASE WHEN y = 1 AND coalesce(ag_phone, 0) <> 0 THEN 1 ELSE 0 END) AS am_phone,
                sum(CASE WHEN y = 0 AND coalesce(ag_phone, 0) <> 0 THEN 1 ELSE 0 END) AS au_phone
                FROM p),
            w AS (SELECT
                round(log2(((am_name + 0.5) / (nm + 1.0)) / ((au_name + 0.5) / (nu + 1.0))), 6) AS wa_name,
                round(log2((1 - (am_name + 0.5) / (nm + 1.0)) / (1 - (au_name + 0.5) / (nu + 1.0))), 6) AS wd_name,
                round(log2(((am_city + 0.5) / (nm + 1.0)) / ((au_city + 0.5) / (nu + 1.0))), 6) AS wa_city,
                round(log2((1 - (am_city + 0.5) / (nm + 1.0)) / (1 - (au_city + 0.5) / (nu + 1.0))), 6) AS wd_city,
                round(log2(((am_phone + 0.5) / (nm + 1.0)) / ((au_phone + 0.5) / (nu + 1.0))), 6) AS wa_phone,
                round(log2((1 - (am_phone + 0.5) / (nm + 1.0)) / (1 - (au_phone + 0.5) / (nu + 1.0))), 6) AS wd_phone
                FROM s)
            SELECT left_id, right_id,
                   round(0.0
                         + CASE WHEN coalesce(ag_name, 0) <> 0 THEN wa_name ELSE wd_name END
                         + CASE WHEN coalesce(ag_city, 0) <> 0 THEN wa_city ELSE wd_city END
                         + CASE WHEN coalesce(ag_phone, 0) <> 0 THEN wa_phone ELSE wd_phone END,
                         6) AS match_weight
            FROM p CROSS JOIN w
        """,
    }
    # the persisted-index search is oracle-identical to the direct one
    out["ann_ivf_index"] = out["ann_ivf"]
    # complete-mode streaming over a bounded source must equal batch
    out["stream_sessionize"] = out["sessionize"]
    out["stream_compact"] = out["compact_latest"]
    # one availableNow batch == the batch packer bit-for-bit
    out["stream_pack"] = out["pack_sequences"]
    # one availableNow batch == batch fill_forward bit-for-bit
    out["stream_locf"] = out["fill_forward"]
    # one availableNow batch == the batch CUSUM closed form bit-for-bit
    out["stream_cusum"] = out["cusum"]
    # micro-batched CDC state (any file slicing) == the batch merge
    out["stream_cdc"] = out["cdc_apply"]
    # dup_report reuses dedup_near's pair + recursive-CC chain with a
    # cluster-size-histogram epilogue (singletons via the left join)
    nd = out["dedup_near"]
    out["dup_report"] = nd[: nd.index("losers AS")] + """comp AS (
                SELECT node, min(lbl) AS c FROM reach GROUP BY node
            ),
            allc AS (
                SELECT id, coalesce(comp.c, id) AS c
                FROM all_docs LEFT JOIN comp ON comp.node = all_docs.id
            ),
            sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS size
                      FROM allc GROUP BY c),
            hist AS (SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
                     FROM sizes GROUP BY size),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM all_docs)
            SELECT size, n_clusters, size * n_clusters AS n_docs,
                   round(CAST(size * n_clusters AS DOUBLE) / tot.n, 6)
                     AS share
            FROM hist CROSS JOIN tot"""
    return out
