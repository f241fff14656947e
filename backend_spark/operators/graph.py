"""Graph operators (reference `clique`, code/recipes.py:1989-2062;
SURVEY.md §2.7): connected components over the matched-pairs edge list,
component id/size and per-node metrics, left-joined back onto the rows.

The reference builds a transient networkx graph **per chunk** (local
components — an artifact of the chunk loop, SURVEY.md §4).  Here the
components are global, computed with an iterative min-label propagation
expressed entirely as DataFrame joins/aggregations:

* each iteration is one shuffle-join + one hash aggregate — both
  map-side combinable — followed by a **pointer-jumping** shortcut
  (``label(v) := label(label(v))``), so convergence is O(log diameter)
  even on adversarial path graphs, not O(diameter);
* lineage is truncated every iteration with ``localCheckpoint`` so the
  plan does not grow with iteration count;
* entity-resolution graphs are near-cliques (match groups), so in
  practice the loop exits after 2-4 iterations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from backend_spark.scale import LoopCuts, stage


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Edge list -> (node, component) with component = min node id of
    the component (deterministic, oracle-friendly; the reference's
    uuid-per-component is an opaque id, code/recipes.py:2035-2040).

    Works on any orderable node type (strings included).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    # undirected: both directions + self loops so isolated endpoints keep labels
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # lazy cut: the seed-label aggregate below is the first action to
    # read it, so ONE job materializes both checkpoints (round-15 job
    # fusion — the old eager pair paid two scheduler round-trips)
    sym = sym.transform(stage, eager=False)

    # seed labels with min(self, neighbors) — the same single aggregate
    # the old distinct-nodes init cost, but it IS the first hash-min
    # propagation, so the loop starts one round ahead (a pair/star
    # cluster is already converged and pays only the confirming
    # iteration).  Any component-consistent monotone init converges to
    # the same min labels.
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("__nb"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("__nb")).alias("comp"),
        )
        .transform(stage, eager=True)
    )

    comp_type = dict(labels.dtypes)["comp"]
    cuts = LoopCuts()  # persist mode: unpersist cuts >2 iterations old
    for _ in range(max_iter):
        # hash-min step as ONE aggregate (round-15): neighbor label
        # contributions union'd with each node's own label, min'd per
        # node — replaces the old (neighbor groupBy-min + re-join with
        # labels) pair, saving a full join of the label table per
        # iteration (guide §2.4: two operations keyed the same way
        # share one exchange).  The own label rides along as ``__own``
        # so the change flag needs no second look at the old labels.
        contrib = sym.join(labels.withColumnRenamed("node", "b"), "b").select(
            F.col("a").alias("node"),
            F.col("comp"),
            F.lit(None).cast(comp_type).alias("__own"),
        )
        own = labels.select("node", "comp", F.col("comp").alias("__own"))
        stepped = (
            contrib.unionByName(own)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("__own").alias("__own"))
            .select("node", "comp", (F.col("comp") < F.col("__own")).alias("__chg"))
        )
        # pointer jumping: label(v) := label(label(v)) — halves the depth
        # of label chains each round, making long paths O(log n)
        parents = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("__gcomp")
        )
        new_labels = (
            stepped.join(parents, "comp", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("__gcomp"), F.col("comp"))).alias("comp"),
                (F.col("__chg") | (F.col("__gcomp") < F.col("comp"))).alias("__chg"),
            )
        )
        # lazy cut + counting convergence read: the aggregate action
        # materializes the checkpoint AND returns the change count in
        # the same job — the old (eager cut job, then limit-1 count
        # job) pattern paid two scheduler round-trips per iteration
        new_labels = cuts.cut(new_labels, eager=False)
        changed = new_labels.agg(F.count_if("__chg")).collect()[0][0]
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    return labels


def check_cluster_cap(
    comp: DataFrame,
    max_cluster_size: "int | None",
    op_name: str,
    node_col: str = "node",
    comp_col: str = "comp",
    remedy: "str | None" = None,
) -> None:
    """Fail fast when a connected component exceeds ``max_cluster_size``
    — the shared guard behind er_resolve / dedup's cluster consumers.
    A mega-cluster means upstream blocking/banding collapsed (a blank
    key matching everything); downstream per-cluster work would then
    funnel the corpus through one task or OOM an executor mid-shuffle.
    Raising early with the offending cluster ids turns that opaque
    death into an actionable message (inspect with ``skew_report``).

    Count-only aggregate on the (node, comp) labels — never touches
    row data; no-op when ``max_cluster_size`` is None.
    """
    if max_cluster_size is None:
        return
    if max_cluster_size < 1:
        raise ValueError(
            f"max_cluster_size must be >= 1 or None, got {max_cluster_size}"
        )
    oversized = (
        comp.groupBy(comp_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cluster_size)
        .orderBy(F.desc("n"), comp_col)
        .limit(5)
        .collect()
    )
    if oversized:
        detail = ", ".join(f"{r[comp_col]}={r['n']}" for r in oversized)
        raise ValueError(
            f"{op_name}: cluster(s) exceed max_cluster_size="
            f"{max_cluster_size} (largest: {detail}); "
            + (remedy if remedy is not None else
               "upstream blocking is likely broken — inspect with "
               "skew_report or raise the cap")
        )


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected simple-graph edge list: both directions, self loops
    and duplicates removed."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    return e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()


def node_metrics(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    metrics: tuple[str, ...] = ("degree", "triangles", "clustering"),
) -> DataFrame:
    """Per-node graph metrics over the matched-pairs edge list — the
    reference computes these with networkx per chunk
    (code/recipes.py:2014-2034); here they are global DataFrame plans:

    * ``degree``: distinct neighbors (self loops excluded);
    * ``triangles``: triangles through the node — the canonical
      (a<b) edge list joined to itself twice, each triangle a<b<c
      enumerated exactly once, then exploded to its three corners.
      Two equi-join shuffles on node ids — no adjacency lists are
      materialized per node, so skewed (hub) nodes spread over tasks;
    * ``clustering``: 2·tri / (deg·(deg−1)), 0 when deg < 2
      (networkx definition).

    Returns one row per node: (node, <metrics...>).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("degree"))
    out = deg
    if "triangles" in metrics or "clustering" in metrics:
        canon = sym.where(F.col("a") < F.col("b"))
        e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = canon.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        corners = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        tcount = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
        out = out.join(tcount, "node", "left").withColumn(
            "triangles", F.coalesce(F.col("triangles"), F.lit(0))
        )
        if "clustering" in metrics:
            out = out.withColumn(
                "clustering",
                F.round(
                    F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
                        2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1.0))
                    ),
                    6,
                ),
            )
        if "triangles" not in metrics:
            out = out.drop("triangles")
    if "degree" not in metrics:
        out = out.drop("degree")
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float = 1.0e-6,
    round_to: int | None = 6,
) -> DataFrame:
    """PageRank on the undirected matched-pairs graph (networkx
    semantics: damping ``alpha``, uniform 1/N start, L1 convergence at
    N·tol; undirected ⇒ out-degree = degree and no dangling mass).

    Each iteration is one equi-join + one hash aggregate on node ids
    (map-side combinable), lineage truncated per round — the same
    shuffle budget as a groupBy per iteration, no driver-side state.
    Returns (node, pagerank).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("__deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        return deg.select("node", F.lit(0.0).alias("pagerank"))
    base = (1.0 - alpha) / n_nodes
    ranks = deg.withColumn("__r", F.lit(1.0 / n_nodes))
    cuts = LoopCuts()
    for _ in range(max_iter):
        contribs = (
            sym.join(ranks.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum(F.col("__r") / F.col("__deg")).alias("__in"))
        )
        # ranks (not deg) on the build side: ``__deg`` rides along, so
        # the loop never re-aggregates degrees from the edge list — one
        # fewer shuffle stage per iteration (round-15, guide §2.3); and
        # with the old rank in hand the L1 delta is computed INLINE
        # (``__d``), replacing the separate new×old join + collect of
        # the previous shape (guide §2.4: the convergence read rides
        # the cut's materializing action, the CC fusion pattern).
        new_r = F.lit(base) + F.lit(alpha) * F.coalesce(F.col("__in"), F.lit(0.0))
        cols = ["node", "__deg", new_r.alias("__r")]
        if tol > 0:
            cols.append(F.abs(new_r - F.col("__r")).alias("__d"))
        new_ranks = ranks.join(contribs, "node", "left").select(*cols)
        if tol > 0:
            # lazy cut + summing convergence read: ONE job materializes
            # the checkpoint and returns the delta
            new_ranks = cuts.cut(new_ranks, eager=False)
            delta = new_ranks.agg(F.sum("__d").alias("d")).collect()[0].d
            ranks = new_ranks.drop("__d")
            if delta is not None and delta < n_nodes * tol:
                break
        else:
            # fixed-round mode has no convergence read; eager cut is
            # the per-round action that truncates lineage NOW so the
            # loop never builds a max_iter-deep plan for Catalyst
            ranks = cuts.cut(new_ranks, eager=True)
    out = ranks.select("node", F.col("__r").alias("pagerank"))
    if round_to is not None:
        out = out.withColumn("pagerank", F.round("pagerank", round_to))
    return out


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """k-truss: the maximal subgraph in which EVERY edge closes at
    least ``k-2`` triangles *within the subgraph* — the
    community-core filter that is stronger than :func:`k_core`
    (degree alone is gameable by star spam; triangle support demands
    actual mutual neighborhoods), the standard dense-substructure
    primitive for ER-cluster tightening and social/spam analysis.

    Algorithm: iterative support peeling to the FIXPOINT — per round,
    count each surviving edge's common-neighbor support and drop edges
    with support < k-2; removing an edge can break its neighbors'
    triangles, so rounds repeat until no edge is dropped
    (``max_rounds`` is a safety cap; peeling monotonically shrinks,
    so termination is guaranteed regardless).  Deterministic: support
    counts are exact integers, the peel predicate is a pure
    comparison, and the fixpoint of a monotone peel is unique — the
    oracle can unroll ANY number of rounds >= the actual fixpoint
    depth and agree (extra rounds are no-ops).

    Scale shape per round: triangle support is the classic
    edge×adjacency double equi-join (cost Σ_e deg products — the same
    budget as one triangle count), then ONE keyed left-join + filter;
    lineage cut each round, one driver-side scalar (the surviving
    count) to detect the fixpoint, pagerank's collect discipline.
    Returns (a, b, support) with a < b, support consistent with the
    returned subgraph.
    """
    if k < 3:
        raise ValueError(f"k_truss: k must be >= 3, got {k}")
    e = (
        _sym_edges(edges, src, dst)
        .where(F.col("a") < F.col("b"))
        .transform(stage, eager=True)
    )
    n_edges = e.count()
    supp = None
    cuts = LoopCuts()  # one cut per round -> keep two rounds
    for _ in range(max_rounds):
        sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        n1 = sym.select(F.col("a").alias("__u"), F.col("b").alias("__w"))
        n2 = sym.select(F.col("a").alias("__v"), F.col("b").alias("__w2"))
        tri = (
            e.join(n1, F.col("a") == F.col("__u"))
            .join(n2, (F.col("b") == F.col("__v")) & (F.col("__w2") == F.col("__w")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        # lazy cut + counting read (round-15 fusion, the CC pattern):
        # one job materializes the scored checkpoint AND returns the
        # surviving-edge count; the peel filter is a plain projection
        # over the cached cut (no second checkpoint per round)
        scored = (
            e.join(tri, ["a", "b"], "left")
            .select("a", "b", F.coalesce(F.col("support"), F.lit(0)).alias("support"))
            .transform(cuts.cut, eager=False)
        )
        n2_edges = scored.agg(
            F.count_if(F.col("support") >= k - 2).alias("n")
        ).collect()[0].n
        e2 = scored.where(F.col("support") >= k - 2)
        supp = e2
        e = e2.select("a", "b")
        if n2_edges == n_edges:
            break
        n_edges = n2_edges
    return supp if supp is not None else e.withColumn("support", F.lit(0).cast("long"))


def personalized_pagerank(
    edges: DataFrame,
    sources: "list[int] | list[str]",
    src: str = "src",
    dst: str = "dst",
    alpha: float = 0.85,
    max_iter: int = 10,
    round_to: int | None = 6,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the ``sources``
    set instead of uniformly — the locality-aware ranking behind
    seed-expansion (grow a labeled seed set into a community),
    similar-entity retrieval, and trust propagation, where plain
    PageRank's global stationary distribution is the wrong question.
    Same undirected matched-pairs-graph semantics, damping and
    iteration shape as :func:`pagerank`; the ONLY change is the
    teleport vector (uniform ``1/|S|`` over the seeds, 0 elsewhere),
    which is also the start distribution.  Runs exactly ``max_iter``
    synchronous power iterations (no tol early-exit: the fixed trace
    is what the cross-engine oracle reproduces).

    Scale shape: per iteration ONE node-keyed equi-join + ONE hash
    aggregate (map-side combinable), lineage truncated each round with
    an eager localCheckpoint — identical shuffle budget to
    :func:`pagerank`; the teleport set is a broadcast literal, never a
    join.  Returns (node, ppr) for every node of the graph.
    """
    if not sources:
        raise ValueError("personalized_pagerank: sources must be non-empty")
    seeds = sorted(set(sources))
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("__deg"))
    tele = F.when(F.col("node").isin(seeds), F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))
    ranks = deg.withColumn("__r", tele)
    cuts = LoopCuts()
    for _ in range(max_iter):
        contribs = (
            sym.join(ranks.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum(F.col("__r") / F.col("__deg")).alias("__in"))
        )
        # ranks carries __deg, so the loop never re-aggregates degrees
        # from the edge list (round-15; same rewrite as pagerank)
        ranks = (
            ranks.join(contribs, "node", "left")
            .select(
                "node",
                "__deg",
                (
                    F.lit(1.0 - alpha) * tele
                    + F.lit(alpha) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("__r"),
            )
            .transform(cuts.cut, eager=True)
        )
    out = ranks.select("node", F.col("__r").alias("ppr"))
    if round_to is not None:
        out = out.withColumn("ppr", F.round("ppr", round_to))
    return out


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 8,
    round_to: int | None = 6,
) -> DataFrame:
    """HITS hubs-and-authorities on the DIRECTED edge list (Kleinberg
    1999) — the link-graph quality signal for web-corpus curation:
    authorities are pages good sources point AT, hubs are pages that
    point at good sources; either score feeds document-quality
    weighting and crawl prioritization where PageRank's undirected
    stationary view is the wrong lens.

    Exactness device: the classic formulation renormalizes with a
    float norm EVERY iteration, compounding engine-specific ulp drift
    ``max_iter`` times.  Instead the power iteration runs
    **unnormalized in BIGINT** from the all-ones vector —
    ``a = Σ h(in-neighbors)`` then ``h = Σ a(out-neighbors)`` are pure
    integer sums (associative: exact at any partition count/order) —
    and normalizes ONCE at the end by the exact integer L1 totals (two
    correctly-rounded IEEE divides).  Keep ``max_iter`` modest: the
    vectors grow like (principal eigenvalue)^(2k); BIGINT holds ~2^62,
    so e.g. mean-degree-100 graphs cap at max_iter ≈ 4 — raise
    ``round_to`` precision questions, not correctness ones, beyond
    that (the guard below raises on overflow risk via ANSI sum).

    Scale shape: per half-iteration ONE node-keyed equi-join + ONE
    map-side-combinable hash aggregate, lineage cut each round —
    pagerank's shuffle budget exactly.  Returns (node, hub,
    authority), L1-normalized, rounded.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    e = e.transform(stage, eager=False)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .transform(stage, eager=False)
    )
    hv = nodes.withColumn("__h", F.lit(1).cast("long"))
    av = None
    cuts = LoopCuts(keep=4)  # av + hv cuts per round -> keep two rounds
    for _ in range(max_iter):
        a_in = (
            e.join(hv.withColumnRenamed("node", "s"), "s")
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("__h").alias("__a"))
        )
        av = (
            nodes.join(a_in, "node", "left")
            .select("node", F.coalesce(F.col("__a"), F.lit(0)).cast("long").alias("__a"))
            # lazy: hv's eager cut below reads av, so ONE action per
            # round materializes both checkpoints (round-15 fusion)
            .transform(cuts.cut, eager=False)
        )
        h_out = (
            e.join(av.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("__a").alias("__h"))
        )
        hv = (
            nodes.join(h_out, "node", "left")
            .select("node", F.coalesce(F.col("__h"), F.lit(0)).cast("long").alias("__h"))
            .transform(cuts.cut, eager=True)
        )
    joined = hv.join(av, "node")
    totals = joined.agg(
        F.sum("__h").alias("__th"), F.sum("__a").alias("__ta")
    )
    out = joined.join(F.broadcast(totals)).select(
        "node",
        F.when(F.col("__th") > 0, F.col("__h") / F.col("__th")).otherwise(F.lit(0.0)).alias("hub"),
        F.when(F.col("__ta") > 0, F.col("__a") / F.col("__ta")).otherwise(F.lit(0.0)).alias(
            "authority"
        ),
    )
    if round_to is not None:
        out = out.withColumn("hub", F.round("hub", round_to)).withColumn(
            "authority", F.round("authority", round_to)
        )
    return out


def op_clique(
    df: DataFrame,
    select: list[str],
    metrics: list[str] | None = None,
    prefix: str = "graph_",
) -> DataFrame:
    """Reference internal_clique (code/recipes.py:1989-2062): build the
    undirected graph whose edges are the two selected columns (matched
    pairs), compute connected components, and left-join back — every
    row gains ``graph_clique_id`` (component id = min node),
    ``graph_clique_size`` (distinct nodes in the component) and any of
    the optional per-node ``metrics``: ``degree``, ``triangles``,
    ``clustering`` (see :func:`node_metrics`) and ``pagerank`` (see
    :func:`pagerank`) — the reference's networkx ``compute`` list
    (code/recipes.py:2003-2034).

    Join-back key is the *first* selected column, like the reference
    (code/recipes.py:2056-2060).  ``metrics`` may be a list, a single
    metric name, or ``"all"`` — the reference's full eight-metric list
    (code/recipes.py:2005-2007); normalizing here keeps direct callers
    and the recipe compiler consistent.
    """
    if isinstance(metrics, str):
        metrics = [metrics]
    if metrics and "all" in metrics:
        metrics = [
            "clique_list", "degree", "clustering", "triangles",
            "closeness_centrality", "pagerank", "square_clustering",
            "eigenvector_centrality_numpy",
        ]
    elif metrics and "clique_list" not in metrics:
        # the reference always includes membership for an explicit list:
        # set(['clique_list'] + compute), code/recipes.py:2009-2011
        metrics = ["clique_list", *metrics]
    a, b = select[0], select[1]
    cc = connected_components(df.select(a, b), src=a, dst=b)
    sizes = cc.groupBy("comp").agg(F.countDistinct("node").alias(f"{prefix}clique_size"))
    node_info = (
        cc.join(sizes, "comp")
        .select(
            F.col("node"),
            F.col("comp").alias(f"{prefix}clique_id"),
            F.col(f"{prefix}clique_size"),
        )
    )
    structural = tuple(m for m in (metrics or []) if m in ("degree", "triangles", "clustering"))
    if structural:
        nm = node_metrics(df.select(a, b), src=a, dst=b, metrics=structural)
        node_info = node_info.join(
            nm.select("node", *[F.col(m).alias(f"{prefix}{m}") for m in structural]),
            "node",
            "left",
        )
    if metrics and "pagerank" in metrics:
        pr = pagerank(df.select(a, b), src=a, dst=b)
        node_info = node_info.join(
            pr.select("node", F.col("pagerank").alias(f"{prefix}pagerank")), "node", "left"
        )
    if metrics and "closeness_centrality" in metrics:
        cl = closeness_centrality(df.select(a, b), src=a, dst=b)
        node_info = node_info.join(
            cl.select("node", F.col("closeness").alias(f"{prefix}closeness_centrality")),
            "node",
            "left",
        )
    # the rest of the reference compute list (code/recipes.py:2003-2034):
    # eigenvector_centrality_numpy == the same fixed point our power
    # iteration converges to; square_clustering per Lind et al.
    ev_requested = [m for m in (metrics or []) if m.startswith("eigenvector_centrality")]
    if ev_requested:
        # column named after the requested compute method, like the
        # reference (so 'eigenvector_centrality_numpy' in a ported
        # recipe yields graph_eigenvector_centrality_numpy verbatim)
        ev = eigenvector_centrality(df.select(a, b), src=a, dst=b)
        node_info = node_info.join(
            ev.select(
                "node", F.col("eigenvector").alias(f"{prefix}{ev_requested[0]}")
            ),
            "node",
            "left",
        )
    if metrics and "square_clustering" in metrics:
        sq = square_clustering(df.select(a, b), src=a, dst=b)
        node_info = node_info.join(
            sq.select(
                "node", F.col("square_clustering").alias(f"{prefix}square_clustering")
            ),
            "node",
            "left",
        )
    if metrics and "clique_list" in metrics:
        # sorted component membership (reference clique_list,
        # code/recipes.py:2030-2034).  The list lands on every member
        # row — sized for entity-resolution cliques (small components),
        # like the reference; not for web-scale giant components.
        lists = cc.groupBy("comp").agg(
            F.array_sort(F.collect_set("node")).alias(f"{prefix}clique_list")
        )
        node_info = node_info.join(
            lists, node_info[f"{prefix}clique_id"] == lists["comp"], "left"
        ).drop("comp")
    joined = df.join(node_info, df[a] == node_info["node"], "left").drop("node")
    return joined


def closeness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 30,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact closeness centrality for every node (networkx default
    semantics, i.e. Wasserman-Faust improved:
    ``C(u) = ((r-1)/(n-1)) * ((r-1)/Σdist)`` with ``r`` the nodes
    reachable from ``u`` and ``n`` the graph size) — the remaining
    metric of the reference's clique ``compute`` list
    (code/recipes.py:2014-2034).

    All-pairs BFS as iterated frontier joins: state is the set of known
    (source, node, dist) triples, each hop one equi-join + anti-join,
    lineage truncated per round, terminating when no new pairs appear
    (≤ graph diameter rounds).  State is O(Σ component²) — sized for
    entity-resolution components (near-cliques, diameter 2-4), like the
    reference's per-group networkx call; for graphs with a giant
    component use :func:`closeness_centrality_approx` (ANF sketches,
    O(nodes) state).  Returns (node, closeness).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    nodes = sym.select(F.col("a").alias("node")).distinct().transform(stage, eager=True)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("closeness"))
    known = nodes.select(
        F.col("node").alias("s"), F.col("node").alias("v"), F.lit(0).alias("d")
    ).transform(stage, eager=True)
    frontier = known
    cuts = LoopCuts(keep=4)  # nxt + known cuts per hop -> keep two hops
    for hop in range(1, max_hops + 1):
        # lazy cuts + ONE counting action per hop (round-15 fusion):
        # nxt.count() materializes the nxt checkpoint — and, because
        # nxt anti-joins against known, the previous hop's lazy known
        # cut — in the same job; the old shape paid eager-cut + isEmpty
        # + eager-cut (3 scheduler round-trips per hop)
        nxt = (
            frontier.join(sym, frontier["v"] == sym["a"])
            .select("s", F.col("b").alias("v"), F.lit(hop).alias("d"))
            .distinct()
            .join(known.select("s", "v"), ["s", "v"], "left_anti")
            .transform(cuts.cut, eager=False)
        )
        if nxt.count() == 0:
            break
        known = known.unionByName(nxt).transform(cuts.cut, eager=False)
        frontier = nxt
    per_src = known.groupBy("s").agg(
        F.count(F.lit(1)).alias("__r"), F.sum("d").alias("__sum")
    )
    c = (
        F.when(F.col("__sum") > 0,
               ((F.col("__r") - 1) / F.lit(n_nodes - 1))
               * ((F.col("__r") - 1) / F.col("__sum")))
        .otherwise(F.lit(0.0))
    )
    if round_to is not None:
        c = F.round(c, round_to)
    return per_src.select(F.col("s").alias("node"), c.alias("closeness"))


def _norm_divisor(norm: Column) -> Column:
    """Power-iteration L2 divisor, one rule for a literal (tol=0) or
    in-plan (tol>0) norm: a positive norm divides, a zero or null norm
    leaves the vector as is, and a NaN norm propagates (Spark orders
    NaN above every number).  A literal norm constant-folds, so tol=0
    keeps its literal division."""
    return F.when(norm > 0, norm).otherwise(F.lit(1.0))


def eigenvector_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    tol: float = 1.0e-6,
    round_to: int | None = 6,
) -> DataFrame:
    """Eigenvector centrality by power iteration (networkx
    ``eigenvector_centrality`` semantics: uniform 1/N start,
    ``x' = x + A·x`` per round, L2 normalization, L1 convergence at
    N·tol; the reference's clique ``compute`` list calls the ``_numpy``
    variant of the same fixed point, code/recipes.py:2014-2034).

    Exactness posture: every float reduction is a fixed-order fold —
    per-node neighbor contributions fold over the node's sorted
    adjacency (``F.aggregate`` over ``array_sort(collect_list(...))``),
    and the L2 norm folds over the sorted node vector — so the result is
    bit-identical at any parallelism and reproducible by an oracle that
    sums with ``ORDER BY``.  The per-node adjacency array makes a hub
    node's row O(degree); sized for entity-resolution components
    (bounded-degree near-cliques), same caveat as
    :func:`closeness_centrality`.  With ``tol=0`` runs exactly
    ``max_iter`` rounds (oracle-friendly); with ``tol>0`` raises
    ``RuntimeError`` if the L1 delta never drops below ``n*tol`` within
    ``max_iter`` rounds, mirroring networkx's
    ``PowerIterationFailedConvergence`` (an unconverged vector is
    silently wrong).  Returns (node, eigenvector).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    nodes = sym.select(F.col("a").alias("node")).distinct().transform(stage, eager=True)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("eigenvector"))

    x = nodes.withColumn("__x", F.lit(1.0 / n_nodes)).transform(stage, eager=True)
    ordered_sum = lambda col: F.aggregate(  # noqa: E731 — fixed-order float fold
        F.array_sort(F.collect_list(col)), F.lit(0.0), lambda a, v: a + v["v"]
    )
    cuts = LoopCuts()
    for _ in range(max_iter):
        contrib = (
            sym.join(x.select(F.col("node").alias("a"), "__x"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(ordered_sum(F.struct(F.col("a").alias("k"), F.col("__x").alias("v"))).alias("__in"))
        )
        unnorm_cols = ["node", (F.col("__x") + F.coalesce(F.col("__in"), F.lit(0.0))).alias("__u")]
        if tol > 0:
            # carry the old value so the L1 delta is computed inline —
            # no separate new×old join + collect per round (round-15)
            unnorm_cols.append(F.col("__x").alias("__old"))
        unnorm = x.join(contrib, "node", "left").select(*unnorm_cols)
        # round-16: cut UNNORM, not just the round output — the norm
        # aggregate and the normalized projection both read it, and
        # without the cut the whole contrib-join subtree is planned
        # (and its exchanges executed) TWICE per round (verified in the
        # executed plan: duplicated SortMergeJoin/Exchange chains).
        # One cut computes it once and bounds the plan, so the round
        # output needs no cut of its own in fixed-round mode.
        unnorm = cuts.cut(unnorm, eager=False)
        norm_df = unnorm.agg(
            F.sqrt(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct(F.col("node").alias("k"),
                                                         (F.col("__u") * F.col("__u")).alias("v")))),
                    F.lit(0.0),
                    lambda a, v: a + v["v"],
                )
            ).alias("__norm")
        )
        if tol <= 0:
            # fixed-round mode has no per-round driver read, so the
            # norm collect IS the round's single action — it doubles as
            # the unnorm checkpoint materializer, and the normalized
            # vector becomes a literal-division projection (no 1-row
            # broadcast machinery per round).  Exact: Double.toString /
            # float round-trips bit-identically, and the division tree
            # is unchanged.
            norm_v = norm_df.collect()[0]["__norm"]
            x = unnorm.select("node", (F.col("__u") / _norm_divisor(F.lit(norm_v))).alias("__x"))
            continue
        # tol>0: norm stays in-plan (broadcast 1-row cross join) so the
        # delta read below stays the round's only driver action
        norm_x = F.col("__u") / _norm_divisor(F.col("__norm"))
        new_cols = ["node", norm_x.alias("__x")]
        if tol > 0:
            new_cols.append(F.abs(norm_x - F.col("__old")).alias("__d"))
        new_x = unnorm.crossJoin(F.broadcast(norm_df)).select(*new_cols)
        if tol > 0:
            # lazy cut + summing convergence read: ONE job per round
            # materializes the checkpoint and returns the L1 delta
            new_x = cuts.cut(new_x, eager=False)
            delta = new_x.agg(F.sum("__d").alias("d")).collect()[0].d
            x = new_x.drop("__d")
            if delta is not None and delta < n_nodes * tol:
                converged = True
                break
    else:
        converged = tol <= 0  # tol=0 is the explicit fixed-round mode
    if not converged:
        # networkx raises PowerIterationFailedConvergence here; an
        # unconverged vector is silently wrong, same policy as k_core
        raise RuntimeError(
            f"eigenvector_centrality: no convergence within max_iter={max_iter} "
            f"(L1 delta never dropped below n*tol); raise max_iter or pass "
            f"tol=0 for an explicit fixed-round run"
        )
    out = x.select("node", F.col("__x").alias("eigenvector"))
    if round_to is not None:
        out = out.withColumn("eigenvector", F.round("eigenvector", round_to))
    return out


def square_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int | None = 6,
) -> DataFrame:
    """Square (C4) clustering coefficient per node — networkx
    ``square_clustering`` (Lind et al. 2005), the last metric of the
    reference's clique ``compute`` list (code/recipes.py:2014-2034):
    over unordered neighbor pairs (u, w) of v,

        sq(u,w)  = |N(u) ∩ N(w)| − 1          (common neighbors minus v)
        degm     = sq + 1 + [u ~ w]
        C4(v)    = Σ sq / Σ ((k_u − degm) + (k_w − degm) + sq)

    with C4 = 0 when the denominator is 0 (e.g. degree < 2).

    Plan: a two-path count table P2(u, w) (adjacency self-joined on the
    middle node, one integer aggregate), joined to the neighbor-pair
    enumeration of each v — all counting stays in integer arithmetic,
    so there is no float-order nondeterminism anywhere; the single
    division happens once per node at the end.  Work is O(Σ deg²) like
    triangle counting, spread by equi-join shuffles, no per-node
    adjacency materialization.  Returns (node, square_clustering).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("k"))

    # P2(u, w): number of length-2 paths u—z—w (u ≠ w) == |N(u) ∩ N(w)|
    p2 = (
        sym.select(F.col("a").alias("z"), F.col("b").alias("u"))
        .join(sym.select(F.col("a").alias("z"), F.col("b").alias("w")), "z")
        .where(F.col("u") != F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    # unordered neighbor pairs (u < w) around each v
    pairs = (
        sym.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .join(sym.select(F.col("a").alias("v"), F.col("b").alias("w")), "v")
        .where(F.col("u") < F.col("w"))
    )
    canon = sym.where(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("w"), F.lit(1).alias("e")
    )
    per_pair = (
        pairs.join(p2, ["u", "w"])  # u,w share v, so cn ≥ 1 always
        .join(canon, ["u", "w"], "left")
        .join(deg.select(F.col("node").alias("u"), F.col("k").alias("ku")), "u")
        .join(deg.select(F.col("node").alias("w"), F.col("k").alias("kw")), "w")
        .select(
            "v",
            (F.col("cn") - 1).alias("sq"),
            (F.col("cn") - 1 + 1 + F.coalesce(F.col("e"), F.lit(0))).alias("degm"),
            "ku",
            "kw",
        )
    )
    agg = per_pair.groupBy(F.col("v").alias("node")).agg(
        F.sum("sq").alias("num"),
        F.sum(F.col("ku") - F.col("degm") + F.col("kw") - F.col("degm") + F.col("sq")).alias("pot"),
    )
    c = F.when(F.col("pot") > 0, F.col("num") / F.col("pot")).otherwise(F.lit(0.0))
    if round_to is not None:
        c = F.round(c, round_to)
    return (
        deg.join(agg, "node", "left")
        .select("node", F.coalesce(c, F.lit(0.0)).alias("square_clustering"))
    )


def closeness_centrality_approx(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 30,
    lg_config_k: int = 12,
    round_to: int | None = 6,
    exact_sets: bool = False,
) -> DataFrame:
    """Approximate closeness centrality via the ANF/HyperANF
    neighborhood-function algorithm (Palmer et al. 2002, Boldi et al.
    2011): each node carries a mergeable HLL sketch of its ≤h-hop
    neighborhood; one hop is one equi-join + one ``hll_union_agg`` —
    state is **O(nodes · sketch)** instead of the exact
    :func:`closeness_centrality`'s O(Σ component²) pair frontier, which
    is the 100 TB path for graphs with giant components.

    ``Σdist ≈ Σ_h h · (|N_h| − |N_{h-1}|)`` from the per-hop estimates,
    then Wasserman-Faust normalization like the exact kernel.  HLL
    merges are max-register (commutative, associative), so results are
    partition-order deterministic — approximate in value (relative
    error ~1.6%/√2^lg_config_k) but stable run-to-run.  Terminates when
    no node's estimate grew in a round (≤ diameter rounds).

    ``exact_sets=True`` swaps the HLL sketch for the actual neighbor-id
    set (``array_union`` merges, ``size`` estimates): the neighborhood
    function becomes exact, so the output equals
    :func:`closeness_centrality` and is reproducible by an unrolled-BFS
    SQL oracle — the correctness mode for the same recursion the HLL
    path runs at scale (per-node state grows to O(component), so it is
    a small-graph/oracle mode, not the 100 TB path).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    if exact_sets:
        # sym has one row per incident edge: dedup to the singleton {node}
        init_sk = F.array_distinct(F.array_agg("node"))
        estimate = lambda c: F.size(c).cast("double")  # noqa: E731
        union_agg = lambda c: F.array_distinct(F.flatten(F.collect_list(c)))  # noqa: E731
        union2 = lambda a, b: F.array_union(a, b)  # noqa: E731
    else:
        init_sk = F.hll_sketch_agg("node", F.lit(lg_config_k))
        estimate = F.hll_sketch_estimate
        union_agg = lambda c: F.hll_union_agg(c, True)  # noqa: E731
        union2 = lambda a, b: F.hll_union(a, b, True)  # noqa: E731
    state = (
        sym.select(F.col("a").alias("node"))
        .groupBy("node")  # the groupBy dedups; a prior distinct would be a second exchange
        .agg(init_sk.alias("__sk"))
        .withColumn("__est", estimate(F.col("__sk")))
        .withColumn("__sumdist", F.lit(0.0))
        .transform(stage, eager=True)
    )
    n_nodes = state.count()
    if n_nodes == 0:
        return state.select("node", F.lit(0.0).alias("closeness"))
    cuts = LoopCuts()
    for hop in range(1, max_hops + 1):
        nbr = (
            sym.join(state.select(F.col("node").alias("a"), "__sk"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(union_agg(F.col("__sk")).alias("__nsk"))
        )
        # __prev stays aboard through the cut: the growth check is an
        # inline count_if in the SAME job that materializes the
        # checkpoint — the old shape paid an eager cut plus a
        # new×old join + isEmpty action per hop (round-15 fusion)
        new_state = (
            state.join(nbr, "node", "left")
            .select(
                "node",
                F.when(
                    F.col("__nsk").isNotNull(), union2(F.col("__sk"), F.col("__nsk"))
                ).otherwise(F.col("__sk")).alias("__sk"),
                F.col("__est").alias("__prev"),
                "__sumdist",
            )
            .withColumn("__est", estimate(F.col("__sk")))
            .withColumn(
                "__sumdist",
                F.col("__sumdist")
                + F.lit(float(hop)) * F.greatest(F.col("__est") - F.col("__prev"), F.lit(0)),
            )
            .transform(cuts.cut, eager=False)
        )
        n_grew = new_state.agg(
            F.count_if(F.col("__est") > F.col("__prev")).alias("n")
        ).collect()[0].n
        state = new_state.drop("__prev")
        if n_grew == 0:  # no sketch grew -> every neighborhood is complete
            break
    c = (
        F.when(F.col("__sumdist") > 0,
               ((F.col("__est") - 1) / F.lit(float(n_nodes - 1)))
               * ((F.col("__est") - 1) / F.col("__sumdist")))
        .otherwise(F.lit(0.0))
    )
    if round_to is not None:
        c = F.round(c, round_to)
    return state.select("node", c.alias("closeness"))


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    max_iter: int = 20,
) -> DataFrame:
    """The k-core of the matched-pairs graph: the maximal subgraph in
    which every node has degree ≥ k (Seidman 1983) — dense-community /
    spam-cluster extraction over entity-resolution graphs; networkx
    ``k_core`` semantics on the same simple undirected graph as the
    other kernels.

    Iterative peeling: each round one integer degree aggregate and two
    semi-joins that keep only edges whose both endpoints survive —
    peeling is monotone, so extra rounds past convergence are no-ops,
    which lets a fixed-round oracle reproduce the fixpoint exactly.
    All arithmetic is integer counting; no float-order exposure.
    Core membership is discrete, so a truncated answer would be wrong,
    not approximate: the loop runs to the fixpoint and raises if
    ``max_iter`` rounds don't reach it (each round peels at least one
    node, so ``max_iter`` bounds the node count peeled, not hops).
    Returns (node, core_degree) for the surviving nodes.
    """
    alive = _sym_edges(edges, src, dst).transform(stage, eager=True)
    n_alive = alive.count()
    cuts = LoopCuts()
    for _ in range(max_iter):
        deg = alive.groupBy("a").agg(F.count(F.lit(1)).alias("__d"))
        keep = deg.where(F.col("__d") >= k).select("a")
        pruned = (
            alive.join(keep, "a")
            .join(keep.withColumnRenamed("a", "b"), "b")
            .select("a", "b")
            # lazy: the count below materializes the checkpoint in the
            # same job (round-15 fusion; was eager cut + count)
            .transform(cuts.cut, eager=False)
        )
        n_pruned = pruned.count()
        converged = n_pruned == n_alive
        alive, n_alive = pruned, n_pruned
        if converged:
            break
    else:
        raise RuntimeError(
            f"k_core did not reach its fixpoint in {max_iter} rounds; "
            "raise max_iter (a correct-but-truncated core does not exist)"
        )
    return alive.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007; networkx ``label_propagation_communities`` is the
    async variant — reference has no community op, this extends the
    §2.7 graph toolbox).  Every node starts labeled with its own id;
    each round every node simultaneously adopts the most frequent
    label among its neighbors, ties broken by the smallest label.

    Deterministic by construction (no random visit order), which is
    what makes an exact oracle possible — and because *synchronous*
    LPA can oscillate on bipartite structures, the contract is a fixed
    ``n_rounds``, mirrored by an unrolled-round oracle (the same
    pattern as :func:`pagerank` with ``tol=0``).

    Each round costs one equi-join on neighbor id plus one (node,
    label) count aggregate and one per-node arg-max — all keyed
    on node ids, map-side combinable, no driver-side state; lineage is
    truncated per round.  Returns (node, community).
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .transform(stage, eager=True)
    )
    cuts = LoopCuts()
    for _ in range(n_rounds):
        freq = (
            sym.join(labels.select(F.col("node").alias("b"), "lbl"), "b")
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # arg-max as a min(struct) hash aggregate (round-15; the
        # fuzzy_match pattern): min over (-count, label) picks the
        # most frequent label, smallest label on ties — identical to
        # the old row_number window pick, but map-side combinable and
        # sort-free (guide §2.3)
        labels = (
            freq.groupBy("a")
            .agg(
                F.min(
                    F.struct((-F.col("__c")).alias("c"), F.col("lbl").alias("l"))
                ).alias("__m")
            )
            .select(F.col("a").alias("node"), F.col("__m.l").alias("lbl"))
            .transform(cuts.cut, eager=True)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Common-neighbor link prediction over the undirected simple
    graph: for every NON-adjacent pair (u < v) sharing at least one
    neighbor, return ``common_neighbors`` |Γu∩Γv|, ``jaccard``
    |Γu∩Γv| / |Γu∪Γv| and ``adamic_adar`` Σ_{w∈Γu∩Γv} 1/ln(deg w)
    (Liben-Nowell & Kleinberg 2003) — "probable missed matches" over
    an entity-resolution graph, the question the reference's clique
    step leaves to the analyst.

    Distributed as wedge enumeration: each common neighbor w emits its
    neighbor pairs via a self-equi-join of the (w, u) adjacency on w —
    an O(Σ_w deg(w)²) candidate stream, dominated by hubs.  That
    quadratic-in-hub-degree term is the known cost of exact common
    neighbors at scale; ``max_degree`` drops wedges through nodes
    above the cap (the standard production mitigation — a hub shared
    by everyone carries no linkage signal, same spirit as dropping
    too-common shingles in MinHash blocking).  Everything else is
    keyed joins/aggregates on node ids: no crossJoin, no collect.
    """
    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    deg = sym.groupBy(F.col("a").alias("w")).agg(F.count(F.lit(1)).alias("dw"))
    # (w, u) adjacency annotated with deg(w), the wedge midpoint
    adj = sym.select(F.col("a").alias("u"), F.col("b").alias("w")).join(deg, "w")
    if max_degree is not None:
        adj = adj.where(F.col("dw") <= max_degree)
    pairs = (
        adj.join(
            adj.select(F.col("w").alias("w"), F.col("u").alias("v")),
            "w",
        )
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log(F.col("dw").cast("double"))).alias("adamic_adar"),
        )
    )
    # non-adjacent pairs only: (u, v) with u<v never appears in sym both ways
    pairs = pairs.join(
        sym.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("w").alias("u"), F.col("dw").alias("__du"))
    dv = deg.select(F.col("w").alias("v"), F.col("dw").alias("__dv"))
    out = pairs.join(du, "u").join(dv, "v").select(
        "u",
        "v",
        "common_neighbors",
        (
            F.col("common_neighbors").cast("double")
            / (F.col("__du") + F.col("__dv") - F.col("common_neighbors"))
        ).alias("jaccard"),
        "adamic_adar",
    )
    if round_to is not None:
        out = out.withColumn("jaccard", F.round("jaccard", round_to)).withColumn(
            "adamic_adar", F.round("adamic_adar", round_to)
        )
    return out


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    ndigits: int = 6,
) -> DataFrame:
    """Newman modularity Q of a community assignment over the
    undirected simple graph: Q = Σ_c (e_c / m − (d_c / 2m)²), with
    ``e_c`` intra-community edges, ``d_c`` the community's total
    degree and ``m`` the edge count — the standard quality score for
    the partition :func:`label_propagation` (or any clustering)
    produces, so partitions are comparable run-to-run and across
    parameter sweeps.

    One degree aggregate, one edges-to-communities equi-join (the
    community table is node-keyed, same partitioning as every other
    kernel here), and a one-row global fold in community order (fixed
    float order, hash-stable).  Returns a single row
    (n_communities, n_edges, modularity).
    """
    sym = _sym_edges(edges, src, dst)
    com = communities.select(
        F.col(node_col).alias("__n"), F.col(community_col).alias("__c")
    )
    # each undirected edge appears twice in sym: intra pairs count /2,
    # and 2m is exactly count(sym)
    lab = (
        sym.join(com.withColumnRenamed("__n", "a").withColumnRenamed("__c", "__ca"), "a")
        .join(com.withColumnRenamed("__n", "b").withColumnRenamed("__c", "__cb"), "b")
    )
    per_c = (
        lab.groupBy("__ca")
        .agg(
            F.count(F.lit(1)).alias("__deg2"),  # Σ degrees in c (= 2·e_c + cut edges)
            F.sum((F.col("__ca") == F.col("__cb")).cast("long")).alias("__intra2"),
        )
    )
    tot = per_c.agg(
        F.sum("__deg2").alias("__2m"), F.count(F.lit(1)).alias("n_communities")
    )
    terms = per_c.crossJoin(F.broadcast(tot)).select(
        "__ca",
        "n_communities",
        "__2m",
        # (d/2m)² as an explicit product — pow() implementations differ
        # across engines in the last ulp; x*x does not
        (
            F.col("__intra2") / F.col("__2m")
            - (F.col("__deg2") / F.col("__2m")) * (F.col("__deg2") / F.col("__2m"))
        ).alias("__term"),
    )
    return terms.agg(
        F.first("n_communities").alias("n_communities"),
        (F.first("__2m") / 2).cast("long").alias("n_edges"),
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__ca").alias("k"), F.col("__term").alias("v")))
                ),
                F.lit(0.0),
                lambda a, x: a + x["v"],
            ),
            ndigits,
        ).alias("modularity"),
    )


def shortest_paths(
    edges: DataFrame,
    sources: list,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distance (Pregel-style frontier expansion;
    extends the §2.7 graph toolbox the same way ``label_propagation``
    does — the reference's networkx usage stops at components and
    per-node metrics, code/recipes.py:1989-2062).  Returns (node, dist)
    for every node reachable from ANY of ``sources`` within
    ``max_iter`` hops; unreachable nodes are omitted (mirror of
    networkx ``multi_source_shortest_path_length``).

    Deterministic: distances are exact minima, independent of
    iteration interleave.

    Scale shape: the frontier loop is the :func:`connected_components`
    pattern — each round ONE equi-join of the current frontier against
    the edge list on the neighbor id plus one min-aggregate, both
    keyed on node ids and map-side combinable; no driver-side state
    beyond the ``sources`` literal; lineage truncated per round with
    ``localCheckpoint``.  Rounds run = eccentricity of the source set
    (graph diameter worst-case), each touching only edges incident to
    the newly-settled frontier, so total work is O(E) across the whole
    run like any BFS.
    """
    if not sources:
        raise ValueError("shortest_paths: sources must be non-empty")
    if directed:
        sym = (
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
            .distinct()
        )
    else:
        sym = _sym_edges(edges, src, dst)
    sym = sym.transform(stage, eager=False)
    spark = edges.sparkSession

    # both endpoints: in directed mode a sink-only node is still a
    # valid source (undirected sym already contains both directions)
    nodes = (
        sym.select(F.col("a").alias("node"))
        .unionByName(sym.select(F.col("b").alias("node")))
        .distinct()
    )
    seed = spark.createDataFrame([(s,) for s in sources], ["node"])
    # keep only sources that exist in the graph (contract: graph nodes)
    dist = (
        nodes.join(seed.distinct(), "node", "left_semi")
        .withColumn("dist", F.lit(0).cast("long"))
        .transform(stage, eager=True)
    )
    frontier = dist
    n_frontier = frontier.count()
    cuts = LoopCuts(keep=4)  # frontier + dist cuts per round -> keep two rounds
    for _ in range(max_iter):
        if n_frontier == 0:
            break
        reached = (
            sym.join(frontier.select(F.col("node").alias("a"), "dist"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg((F.min("dist") + 1).alias("dist"))
        )
        # BFS layers: every frontier node carries the same dist, so an
        # unseen neighbor's min is exactly layer+1 — the only check
        # needed is "not settled yet" (one anti-join).  Lazy cuts +
        # ONE counting action per round (round-15 fusion): the count
        # materializes the frontier checkpoint and — through the
        # anti-join — the previous round's lazy dist cut in the same
        # job; the old shape paid eager cut + count + eager cut.
        frontier = (
            reached.join(dist.select("node"), "node", "left_anti")
            .transform(cuts.cut, eager=False)
        )
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        dist = dist.unionByName(frontier).transform(cuts.cut, eager=False)
    return dist


def negative_edges(
    edges: DataFrame,
    k: int = 2,
    oversample: int = 4,
    salt: str = "neg",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic negative sampling for link-prediction training
    sets (the standard companion to :func:`link_prediction`: positives
    are the observed edges, negatives are sampled non-edges): for each
    node ``u``, propose ``k·oversample`` hash-selected partner nodes,
    drop real neighbors and self-pairs, keep the first ``k`` by
    proposal index.  Every choice comes from
    :func:`~backend_spark.functions.md5_long` over (salt, u, i) mapped
    through a dense node ranking — no RNG, so the sample is identical
    on every engine, partitioning, and rerun (the property that makes
    a training set reproducible AND oracle-checkable).

    Returns (u, v, neg_rank 1..k).  High-degree nodes in tiny graphs
    may yield fewer than ``k`` negatives (all proposals were real
    neighbors) — raise ``oversample`` if exactness matters; expected
    shortfall decays like (degree/n)^oversample.

    Scale shape: the node ranking is one aggregate + join (node count
    is the driver-side scalar); proposals explode k·oversample rows
    per node; membership removal is ONE anti-join against the
    symmetric edge list on (u, v) — all keyed equi-joins, nothing
    quadratic, cost linear in |V|·k·oversample + |E|.
    """
    if k < 1 or oversample < 1:
        raise ValueError(f"negative_edges: k and oversample must be >= 1, got {k}/{oversample}")
    from backend_spark import functions as fn

    sym = _sym_edges(edges, src, dst).transform(stage, eager=False)
    nodes = (
        sym.select(F.col("a").alias("node"))
        .distinct()
    )
    # dense 0-based rank in node order -> hash values index nodes;
    # assign_row_ids is the distributed ranking (range repartition +
    # broadcast offsets), NOT a single-partition row_number sort
    from pyspark.sql import Window

    from backend_spark.scale import assign_row_ids

    n_nodes = nodes.count()
    ranked = assign_row_ids(nodes, "node", out_col="__r1").select(
        "node", (F.col("__r1") - 1).alias("__r")
    ).transform(stage, eager=False)
    props = (
        ranked.select(F.col("node").alias("u"))
        .select("u", F.explode(F.array(*[F.lit(i) for i in range(k * oversample)])).alias("__i"))
        .withColumn(
            "__r",
            fn.md5_long(
                F.concat_ws(":", F.lit(salt), F.col("u").cast("string"), F.col("__i").cast("string"))
            ) % n_nodes,
        )
    )
    cand = (
        props.join(ranked, "__r")  # |V|-row side: AQE picks the strategy
        .select("u", F.col("node").alias("v"), "__i")
        .where(F.col("u") != F.col("v"))
    )
    non_edges = cand.join(
        sym.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    # hash collisions can propose the same partner twice — keep each
    # (u, v) once at its earliest proposal index
    non_edges = non_edges.groupBy("u", "v").agg(F.min("__i").alias("__i"))
    w = Window.partitionBy("u").orderBy("__i")
    return (
        non_edges.withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select("u", "v", "neg_rank")
    )


def bipartite_projection(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    min_common: int = 2,
    max_left_degree: "int | None" = None,
    round_to: int = 6,
) -> DataFrame:
    """Project a bipartite incidence (user-item, order-part,
    doc-entity) onto its RIGHT side: for every pair of right nodes
    sharing at least ``min_common`` left neighbors, emit the
    co-occurrence count and the Jaccard similarity of their left
    neighbor sets — the co-purchase / co-click graph every
    recommendation and substitutability analysis starts from (the
    graph-shaped sibling of :func:`~backend_spark.features
    .assoc_rules`, which scores directed rules instead of edges).

    Distributed as wedge enumeration keyed by the left node (the
    :func:`link_prediction` shape on a bipartite graph): cost is
    O(Σ_l deg(l)²), dominated by hub left-nodes — ``max_left_degree``
    drops wedges through lefts above the cap (a user who bought
    everything co-occurs with everything and carries no signal; same
    mitigation as link_prediction's) — under the cap BOTH the common
    counts and the jaccard denominators are computed over the capped
    edge set, so the similarity stays a true Jaccard of the surviving
    neighbor sets.  Edges are deduplicated first
    (simple-graph semantics), so multiplicities don't inflate counts.
    Jaccard is a single division of exact integers (rounded
    ``round_to``).  No cross product, no collect.
    """
    if min_common < 1:
        raise ValueError(f"bipartite_projection: min_common must be >= 1, got {min_common}")
    missing = [c for c in (left_col, right_col) if c not in edges.columns]
    if missing:
        raise ValueError(f"bipartite_projection: column(s) not in edges: {missing}")
    e = (
        edges.select(F.col(left_col).alias("__l"), F.col(right_col).alias("__r"))
        .where(F.col("__l").isNotNull() & F.col("__r").isNotNull())
        .distinct()
        .transform(stage, eager=False)
    )
    dl = e.groupBy("__l").agg(F.count(F.lit(1)).alias("__dl"))
    adj = e.join(dl, "__l")
    if max_left_degree is not None:
        adj = adj.where(F.col("__dl") <= max_left_degree)
    # right-degrees over the SAME (capped) edge set the wedges come
    # from — so jaccard = |A∩B| / |A∪B| of consistent neighbor sets
    # even when max_left_degree drops hub wedges (degrees over the
    # uncapped set would systematically understate similarity)
    dr = adj.groupBy("__r").agg(F.count(F.lit(1)).alias("__dr"))
    pairs = (
        adj.select("__l", F.col("__r").alias("item_i"))
        .join(adj.select("__l", F.col("__r").alias("item_j")), "__l")
        .where(F.col("item_i") < F.col("item_j"))
        .groupBy("item_i", "item_j")
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    return (
        pairs.join(dr.select(F.col("__r").alias("item_i"), F.col("__dr").alias("__da")), "item_i")
        .join(dr.select(F.col("__r").alias("item_j"), F.col("__dr").alias("__db")), "item_j")
        .select(
            "item_i",
            "item_j",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("common")).cast("double"),
                round_to,
            ).alias("jaccard"),
        )
    )
