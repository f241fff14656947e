"""Plan audit: assert the physical-plan properties the 100 TB design
depends on (see README "Design rules") over the driver queries.

* filters/projections reach the parquet scan (PushedFilters/ReadSchema)
* referential joins are BroadcastHashJoin
* no CartesianProduct anywhere except the intended broadcast
  brute-force ANN (BroadcastNestedLoopJoin on the tiny query side)

Usage: python tools/explain_audit.py   (exit 1 on violation)
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from backend_spark.session import get_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

EXPECT = {
    # name: (must_contain, must_not_contain)
    "keep_where": (["PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal"], ["CartesianProduct"]),
    "join_strict": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # dictionary side broadcast (forced, bounded); the per-key result
    # join is AQE-decided — equi-join in both regimes, never an NLJ
    "join_fuzzy": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "join_topk": (["BroadcastHashJoin"], ["CartesianProduct"]),
    "minhash_pairs": ([], ["CartesianProduct"]),
    "clique": ([], ["CartesianProduct"]),
    "ann_topk": (["BroadcastNestedLoopJoin"], ["CartesianProduct"]),
    "ann_lsh": ([], ["CartesianProduct"]),  # bucket equi-join, never NLJ
    "ngram_jaccard": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "simhash_neardup": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "groupby_agg": (["partial"], ["CartesianProduct"]),  # map-side combine
    "recipe_pipeline": (["PushedFilters", "BroadcastHashJoin"], ["CartesianProduct"]),
    # banded LSH near-dup: bucket equi-join only — the quadratic
    # cross-join must never appear on the default path, and a pair
    # sharing several buckets is kept in its first agreeing band
    # (array_position), not by a candidate distinct
    "embed_banded": (["array_position"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "graph_metrics": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two-path counting + pair enumeration: equi-joins only
    "square_clustering": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # the returned merge table is driver-assembled (bounded: n_merges
    # rows); the per-round vocabulary aggregates run inside the loop and
    # are covered by bpe_pairs' audit of the same pair-count shape
    "bpe_train": (["Scan ExistingRDD"], ["CartesianProduct", "Exchange"]),
    # benchmark gram set is tiny by construction -> must broadcast
    "decontaminate": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    "repetition_stats": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # scan+project; ONE round-robin exchange allowed — spread_scan fires
    # on the 1-row-group testdata layout so the 8 regex passes
    # parallelize (r15; no-op on well-split input, so not pinned present)
    "pii_scan": ([], ["CartesianProduct", "SortMergeJoin"]),
    "quality_filter": ([], ["CartesianProduct", "Exchange"]),  # shuffle-free gate
    "dedup_lines": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # one shuffle+sort then a running window — never a range join blowup
    "asof_join": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # binned interval join: hash equi-join on the bin key, never a
    # nested-loop on the range predicate
    "range_join": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # keep-latest compaction: two-phase max_by (map-side combine; struct
    # buffers force SortAggregate, but its sorts are partition-local) —
    # the one shuffle carries compacted per-key state, never the whole
    # log through a global window sort
    "compact_latest": (["partial_max_by"], ["CartesianProduct", "Window"]),
    # per-group thresholds broadcast back; the corpus never shuffles
    "percentile_gate": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # broadcast per-group stats onto the scan — no sort-merge, no window
    "zscore": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin", "Window"]),
    "quantile_bins": (["BroadcastHashJoin"], ["CartesianProduct", "Window"]),
    # global top-k must lower to TakeOrderedAndProject, not a
    # single-partition sort of the whole vocabulary
    "build_vocab": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    "bpe_pairs": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    # melt is a pure stack projection over the scan
    "melt": ([], ["Exchange", "CartesianProduct"]),
    # signature anti-join: hash join, never a nested loop
    "dedup_incremental": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "tfidf_topk": ([], ["CartesianProduct"]),
    "unigram_logprob": ([], ["CartesianProduct"]),
    "row_ids": ([], ["CartesianProduct"]),
    # chunker is a pure explode projection over the scan — no shuffle
    "chunk_documents": ([], ["Exchange", "CartesianProduct"]),
    # one keyed agg + broadcast 1-row total; big side never sort-merges
    "source_mix": (["partial"], ["CartesianProduct", "SortMergeJoin"]),
    # pair stream is a narrow zip_with — the only joins are the
    # vocabulary count joins, never a self-join on (id, pos)
    "bigram_logprob": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # word->pieces map joins back to the token stream; no nested loop
    # (the merge replay happens on the distinct-word projection)
    "bpe_encode": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # frequency-rank dim joins must broadcast; the fact side never sorts
    "model_features": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # Morton key is pure Column bit-arithmetic over the scan — no shuffle
    "zorder": ([], ["Exchange", "CartesianProduct"]),
    # global shuffle rank: range-repartition + broadcast offsets, NEVER
    # the single-task global Window.orderBy funnel.  The range exchange
    # itself sits behind assign_row_ids' localCheckpoint (lineage cut ->
    # Scan ExistingRDD), so pin the visible half: the offset table joins
    # back via broadcast, and no sort-merge/cartesian appears.  The two
    # WindowExec single-partition warnings are the per-partition offset
    # table (rows = partition count, bounded), not the corpus.
    "shuffle_order": (["BroadcastHashJoin", "Scan ExistingRDD"], ["CartesianProduct", "SortMergeJoin"]),
    # per-stratum window over one keyed shuffle; no global sort
    "stratified_topn": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # ids-only CC loop + one window on cluster label; no nested loop
    "dedup_keep_best": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # grams hashed before every shuffle; dup-table joins keyed; rebuild
    # is a keyed agg — never a nested loop or global window
    "trim_dup_spans": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # scorer aggs + ONE language-partitioned window; no nested loop
    "perplexity_buckets": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # pure Column regex/replace chain over the scan — shuffle-free
    "strip_html": ([], ["Exchange", "CartesianProduct"]),
    # per-vector affine quantize: array transforms over the scan; ONE
    # round-robin exchange allowed — spread_scan fires on the
    # 1-row-group testdata layout so the transform/to_json chain
    # parallelizes (r15; no-op on well-split input, so not pinned
    # present)
    "quantize_emb": ([], ["CartesianProduct", "SortMergeJoin"]),
    # per-row explode + hash gate — the copy blow-up is the contract,
    # but it must stay a narrow map stage, never a shuffle
    "oversample": ([], ["Exchange", "CartesianProduct"]),
    # round-15: assignment is a map-side literal-centroid argmin —
    # join-free by design; nothing may shuffle or cartesian
    "kmeans": ([], ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window"]),
    # both are pure array-Column projections over the scan
    "c4_lines": ([], ["Exchange", "CartesianProduct"]),
    "blocklist": ([], ["Exchange", "CartesianProduct"]),
    # per-round neighbor join + keyed count + per-node window; keyed only
    "label_prop": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # wedge self-join and degree joins are all equi-joins on node ids
    "link_predict": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two bucket distributions broadcast into the per-doc join
    "dsir": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # bitset broadcast into the probe; no benchmark-corpus shuffle join
    "bloom_decontaminate": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # keyed count agg + TakeOrdered top-k; global stats broadcast back.
    # The one-row stats crossJoin lowers to a nested-loop broadcast —
    # scalar-sized by construction, so only CartesianProduct is banned
    "skew_report": (["TakeOrderedAndProject"], ["CartesianProduct", "SortMergeJoin"]),
    # all KN counts are keyed joins/aggs on token ids; the in-plan type
    # count is a one-row broadcast (scalar NLJ, like skew_report)
    "kn_bigram": ([], ["CartesianProduct", "SortMergeJoin"]),
    # prefix-to-index equi-join + exact verify join — keyed throughout
    "containment": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # one percentile agg broadcast back; the data itself never shuffles
    "winsorize": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # label-pair count table is tiny; only cartesians are banned (the
    # full-outer label join may legitimately sort-merge)
    "classifier_eval": ([], ["CartesianProduct"]),
    # one keyed register agg (map-side combined) + per-group fold
    "hll_distinct": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # round-15: fused multi-subspace literal-centroid argmin — the
    # per-subspace broadcast joins are gone; corpus must never sort-merge
    "pq_encode": ([], ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"]),
    # code join against the broadcast distance table is keyed
    "ann_pq": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # QI-keyed aggregate only
    "k_anonymity": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # one full-outer key join; no hashing pass, no window
    "snapshot_diff": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # first-activity agg joins back (AQE may broadcast); keyed only
    "retention": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # global min/max broadcast back onto the scan (scalar NLJ), keyed count
    "histogram": ([], ["CartesianProduct", "SortMergeJoin"]),
    # one distributed sort + manifest agg over the written shards
    "training_shards": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # pure regexp-chain projection over the scan
    "soundex": ([], ["Exchange", "CartesianProduct"]),
    # pure hash-bucket projection — zero shuffle
    "split_corpus": ([], ["Exchange", "CartesianProduct"]),
    # one keyed (row, cell) integer agg; query join keyed on the cells
    "cms": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # min-owner agg + gram-keyed join back, the dup_ngrams shape
    "ngram_novelty": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # (lat_cell, lon_cell) equi-join blocking — never a cross product
    "geo_join": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two tiny per-group stat aggs broadcast back; data never shuffles
    "robust_scale": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # one keyed shuffle+sort; the RANGE frame runs inside the window
    "rolling_agg": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # edges-to-communities is a node-keyed join of comparable-size
    # tables (SMJ is the right plan at scale); one-row totals broadcast
    # back as a scalar NLJ — so only true cartesians are banned
    "modularity": ([], ["CartesianProduct"]),
    # closed-form ridge: weights are plan literals; scoring is a pure
    # projection over the scan — zero shuffle, zero join
    "ridge_score": ([], ["Exchange", "CartesianProduct"]),
    "ridge_apply": ([], ["Exchange", "CartesianProduct"]),
    # pure Column regex/array chain over the scan — shuffle-free
    "url_normalize": ([], ["Exchange", "CartesianProduct"]),
    # ONE keyed window partitioning shared by every filled column
    "fill_forward": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # lead window + map-side-combined (src,dst) agg; the probability
    # window runs over the |states|^2 aggregate, not the data
    "transition_counts": (["Window", "partial"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # explode + one keyed count agg; no vocabulary pass, no join
    "feature_hash": (["partial"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # three regexp_count projections in one codegen span — shuffle-free
    "readability": ([], ["Exchange", "CartesianProduct"]),
    # ONE keyed window shuffle for the per-group rank transform
    "cdf_normalize": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two tiny percentile aggs broadcast back; data never sorts
    "mad_outliers": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin", "Window"]),
    # pure split + posexplode projection over the scan — shuffle-free
    "sentence_split": ([], ["Exchange", "CartesianProduct"]),
    # binned hash equi-join on 2^16 address bins, never ip x cidr NLJ
    "cidr_filter": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # ONE keyed window cumsum; the budget gate is a pure Column filter
    "budget_select": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # posexplode + map-side-combined (group, dim) long sums; no window
    "group_centroid": (["partial"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # two keyed record-id joins + pure feature projections (jw is the
    # documented Arrow-UDF boundary); no nested loop, no window
    "pair_features": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # four running series share ONE (key, order) window partitioning
    "interpolate": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # block -> features -> ridge -> closure -> survivorship: keyed joins
    # and aggregates end to end; the CC loop is lineage-cut (ExistingRDD)
    "er_pipeline": ([], ["CartesianProduct"]),
    # pure regexp_extract_all + posexplode projection — shuffle-free
    "extract_links": ([], ["Exchange", "CartesianProduct"]),
    # gram source-sets bounded by |sources|; no gram-keyed self-join
    "source_overlap": (["partial"], ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"]),
    # regexp chain over the distinct vocabulary — no join at all
    "refined_soundex": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # explode x |thresholds| + ONE map-side-combined count pass
    "threshold_sweep": (["partial"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # one map-side-combined bin aggregate; exact quantized means
    "calibration_bins": (["partial"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # the one ordered window runs over the bounded DISTINCT-SCORE table
    # (quantized to 6 decimals), never a global sort of the data
    "auc": (["partial", "Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # two bin-count aggregates joined on the n_bins-row bin table; the
    # one-row totals attach as a broadcast scalar NLJ (crossJoin by
    # construction), so only true cartesians are banned
    "psi": (["partial"], ["CartesianProduct", "SortMergeJoin"]),
    # BFS frontier loop: the returned plan is the settled union (each
    # round's joins already ran behind localCheckpoint -> ExistingRDD);
    # nothing quadratic may appear in the final assembly either
    "sssp": (["Scan ExistingRDD"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # rank-bucket equi-join on __k — the window predicate itself must
    # NOT appear as a join condition (that would be the quadratic NLJ)
    "sorted_neighborhood": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # explode -> distinct -> ONE (group,line) count agg + broadcast of
    # the |groups|-row totals
    "boilerplate": (["partial", "BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # pure regexp projection — shuffle-free
    "standardize": ([], ["Exchange", "CartesianProduct"]),
    # corpus explodes once; the vocab membership lookup must broadcast
    # (vocab is bounded), then ONE map-side-combined per-doc aggregate
    "oov_rate": (["BroadcastHashJoin", "partial"], ["CartesianProduct", "SortMergeJoin"]),
    # all three DECIMAL running sums share ONE (key, order) window —
    # a single keyed shuffle, no join
    "rolling_anomaly": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"]),
    # suffix-block candidate generation is a hash EQUI-join — the score
    # predicate must never become the join condition
    "er_incremental": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # pure bit-arithmetic projection inside ONE codegen span ("*(1)"
    # marks the whole-stage-codegen'd project; the conv/translate digit
    # map keeps the interleave tree single-copy so codegen succeeds)
    "geohash": (["*(1) Project"], ["Exchange", "CartesianProduct"]),
    # keyed equi-joins only: rank join + real-edge anti-join; the node
    # ranking comes from assign_row_ids, never a global window sort
    "negative_edges": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # grouped top-k: map-side priority arithmetic + ONE keyed window —
    # no join, no cartesian, no global unpartitioned sort funnel
    "priority_sample": (["Window"], ["CartesianProduct", "Join"]),
    # char-class counting is one codegen'd projection over the scan —
    # the union injects literal rows, the documents side never shuffles
    "script_mix": ([], ["Exchange", "CartesianProduct", "Join"]),
    # two-phase skyline: mapInPandas local prune, then the pruned
    # candidate set verifies against its own broadcast copy (grouped
    # mode = hash equi-join on the group key, dominance as residual) —
    # the corpus itself never enters a quadratic stage
    "pareto_front": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # inverted-index cosine: posting-list equi-join on term + keyed
    # aggregates — never an all-pairs/NLJ stage; the df cap bounds the
    # hottest posting list
    "tfidf_cosine": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # strided-span report: one explode + one hash aggregate — no join
    # stage at all, and the distinct-doc gate is a HAVING, not a shuffle
    "cross_dup_spans": ([], ["CartesianProduct", "Join"]),
    # tokenize + posexplode + slice is pure projection work: chunking
    # must never shuffle or call out of the JVM
    "chunk_text": ([], ["Exchange", "CartesianProduct", "Join", "Python"]),
    # 1-row global-max broadcast + ONE map-side-combinable keyed agg —
    # no window, no sort-merge
    "decay_agg": (["partial"], ["Window", "SortMergeJoin", "CartesianProduct"]),
    # category stats + 1-row prior both broadcast back onto the scan —
    # the fact side never sorts, shuffles into a merge join, or windows
    "target_encode": (["BroadcastHashJoin"], ["SortMergeJoin", "Window", "CartesianProduct"]),
    # ONE global aggregate folded to a 1-row explode — no join, no
    # window, no per-feature jobs
    "fs_weights": ([], ["Join", "Window", "CartesianProduct"]),
    # weights fold into a pure Column projection over the pair scan —
    # scoring itself must not join or shuffle (the single Exchange in
    # the plan belongs to the upstream weights aggregate, so pin joins)
    "fs_score": ([], ["Join", "Window", "CartesianProduct"]),
    # cumulative sum + running min share ONE (key, order) sort — a
    # second Exchange or a join would mean the closed form regressed
    "cusum": (["Window"], ["Join", "CartesianProduct", "SortMergeJoin"]),
    # both rank axes and the final agg reuse one hash(g) exchange; the
    # RANGE-count tie trick must not introduce a join
    "rank_corr": (["Window", "partial"], ["Join", "CartesianProduct"]),
    # one map-side-combined aggregate to n_buckets rows — no join, no
    # window, no Python boundary
    "table_checksum": (["partial"], ["Join", "Window", "CartesianProduct", "Python"]),
    # per-level counts + killer equi-join — the corpus never self-joins
    # into an NLJ and phrase strings never cross a Python boundary
    "freq_phrases": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Python"]),
    # one melt + map-side cell counts; marginal joins stay keyed
    "mutual_info": (["partial"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # pairs come from the basket-keyed equi-join, never an item NLJ
    "assoc_rules": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"]),
    # two keyed aggregates, pure-Column fingerprinting — no join, no
    # Python boundary
    "key_collision": (["partial"], ["Join", "CartesianProduct", "Python"]),
    # assign_row_ids range sort + 1-row total broadcast + one keyed
    # agg; the only Window is the per-partition offset table (row_ids
    # shape) — never a corpus-wide single-partition sort, no Python
    "shard_stats": (["BroadcastExchange"], ["CartesianProduct", "Python", "SortMergeJoin"]),
    # phase/group stats broadcast back onto the scan — the zscore shape
    "seasonal_adjust": (["BroadcastHashJoin"], ["SortMergeJoin", "Window", "CartesianProduct"]),
    # one keyed count + broadcast totals; digit extraction is pure Column
    "benford": (["partial"], ["SortMergeJoin", "Window", "CartesianProduct", "Python"]),
    # the returned weights table is driver-assembled (bounded: one row
    # per feature; EM ran on the 2^k pattern counts) — bpe_train shape
    "fs_em": ([], ["Exchange", "CartesianProduct"]),
    # driver-assembled loading table (bounded by dim); the Gram pass ran
    # eagerly through mapInPandas at build time — bpe_train shape
    "pca_top": ([], ["Exchange", "CartesianProduct"]),
    # driver-assembled per-group weight table (moment agg ran eagerly)
    "ridge_by": ([], ["Exchange", "CartesianProduct"]),
    # per-segment scoring: weight pivot broadcast onto the fact scan —
    # never a sort-merge, never a window
    "ridge_apply_by": (["BroadcastHashJoin"], ["SortMergeJoin", "Window", "CartesianProduct"]),
    # the pair minimax runs on the <= n_bins-row bin table (its theta
    # join/windows are bounded there); the corpus side is one
    # map-side-combined bin count — no corpus join, no Python
    "isotonic": (["partial"], ["SortMergeJoin", "Python", "CartesianProduct"]),
    # latest-change pick is a map-side-combined max_by aggregate over
    # the CHANGELOG only (r15: replaced the row_number window — no sort,
    # partial combine); the base meets the touched-key set in one
    # anti-join (AQE broadcasts small batches) — the base is never
    # window-sorted, no Python
    "cdc_apply": (["partial_max_by"], ["CartesianProduct", "Python", "Window"]),
    # two map-side-combined partial-state aggs + one merge agg on
    # aggregate rows — no join, no window, no Python
    "rollup_merge": (["partial"], ["Join", "Window", "CartesianProduct", "Python"]),
    # waterfall of keyed equi-joins over the shrinking remainder; the
    # per-pass referential dedupe is an aggregate, not a window —
    # no cross products, no Python, no window over the fact side
    "match_cascade": ([], ["CartesianProduct", "Python", "Window"]),
    # all lag windows share one (key, order) sort; decimal folds in one
    # map-side-combined aggregate; bounded per-key explode — no join
    "acf": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # one exchange shared by cumulative/total windows + one aggregate
    "weighted_median": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # rank window + aggregate on the same group-key exchange — no join
    "gini": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # keyed self-join (each group meets only itself) + median windows —
    # quadratic only within the capped group, never a cross product
    "theil_sen": (["Window"], ["CartesianProduct", "Python"]),
    # one map-side-combined arm aggregate + 1-row control broadcast
    "ab_test": (["partial", "BroadcastNestedLoopJoin"], ["SortMergeJoin", "Window", "Python"]),
    # keyed token count + TakeOrderedAndProject cut; the rank window
    # runs on <= top_n rows by construction
    "zipf_fit": (["TakeOrderedAndProject"], ["SortMergeJoin", "CartesianProduct", "Python"]),
    # lead windows share one (key, order) sort; pattern groupBy +
    # 1-row total broadcast — no corpus self-join
    "seq_patterns": (["Window", "partial"], ["SortMergeJoin", "CartesianProduct", "Python"]),
    # one (key, order) window partitioning + two keyed aggregates; the
    # linear model's credit join is journey-keyed — never a corpus
    # self-join, no explode, no Python
    "attribution": (["Window", "partial"], ["CartesianProduct", "Python"]),
    # distributed prefix sum: range exchange + partition-local windows +
    # one-row-per-partition offsets broadcast — never a global
    # single-partition sort of the manifest, no Python
    "compaction_plan": (["BroadcastExchange"], ["CartesianProduct", "Python", "SortMergeJoin"]),
    # dictionary rank runs on the bounded distinct table; the corpus
    # joins it keyed (broadcast) and never sorts — no Python
    "label_encode": (["BroadcastHashJoin"], ["CartesianProduct", "Python", "SortMergeJoin"]),
    # point-in-time lookup = keyed hash join + validity filter — never
    # a range-predicate NLJ; the scd2_build windows ride one key sort
    "scd2_lookup": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin", "Python"]),
    # global KS: distinct-value count agg + distributed prefix sums
    # (range exchange, partition-local windows, broadcast offsets) —
    # no sort-merge join, no Python; the BNLJ is the bounded 1-row
    # totals broadcast, same as ab_test
    "ks_test": (["BroadcastExchange"], ["SortMergeJoin", "Python"]),
    # wedge enumeration keyed by the left node — equi-joins only
    "bipartite": ([], ["CartesianProduct", "BroadcastNestedLoopJoin", "Python"]),
    # one (key, ts) window + one map-side-combined aggregate
    "twap": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # event aggregate first; each score axis ranks via assign_row_ids
    # (range exchange behind localCheckpoint -> ExistingRDD, broadcast
    # offset joins) — never a global single-task ntile window; the BNLJ
    # is the bounded 1-row N broadcast (ab_test shape)
    "rfm": (["partial", "BroadcastHashJoin", "Scan ExistingRDD"], ["CartesianProduct", "SortMergeJoin", "Python"]),
    # rank + count windows share one group-key exchange; no join
    "bucket_quantiles": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # the bloom stage is k BROADCAST joins of the fact side against the
    # bitset (zero fact shuffles before the exact join); no NLJ on the
    # fact path, no Python
    "bloom_join": (["BroadcastHashJoin"], ["CartesianProduct", "Python"]),
    # one aggregate + 1-row reference broadcast (ab_test shape)
    "disparate_impact": (["partial", "BroadcastNestedLoopJoin"], ["SortMergeJoin", "Window", "Python"]),
    # one aggregate + 1-row global-max broadcast
    "freshness": (["partial"], ["SortMergeJoin", "Window", "CartesianProduct", "Python"]),
    # one aggregate to <= n_bins rows; fold runs on those
    "ece": (["partial"], ["Join", "Window", "CartesianProduct", "Python"]),
    # pure replace-chain projection over the scan — shuffle-free
    "mojibake": ([], ["Exchange", "CartesianProduct", "Python"]),
    # running-max + island windows + aggregate on ONE key exchange
    "merge_intervals": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # anti-join vs distinct dim keys + keyed count + TakeOrdered; the
    # summary is a driver-assembled 2-row LocalTableScan
    "ri_check": (["TakeOrderedAndProject"], ["CartesianProduct", "Python", "SortMergeJoin"]),
    # two one-aggregate checksums + a bounded n_buckets-row outer diff
    "sync_plan": (["partial"], ["CartesianProduct", "Python", "Window"]),
    # lead spacing + per-key rank share one (key, ts) exchange
    "gap_report": (["Window"], ["Join", "CartesianProduct", "Python"]),
    # LSH pair stage + CC loop, then |clusters|-row aggregates — the
    # dedup_near shape with a histogram epilogue; the BNLJ is the
    # bounded 1-row corpus-total broadcast (ab_test shape)
    "dup_report": (["BroadcastNestedLoopJoin"], ["CartesianProduct", "Python"]),
    # one fact aggregate, lag window over the bounded (key, period) table
    "pop_change": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # lag + running counter + aggregate on ONE (key, ts) exchange
    "session_stats": (["Window", "partial"], ["Join", "CartesianProduct", "Python"]),
    # --- round-10 coverage batch: the rfm lesson is that an operator's
    # scale claim only holds if a pin watches it, so the remaining
    # high-claim unpinned queries get their intended shapes here ---
    # pure Column projections over the scan — ZERO shuffle; a future
    # edit that sneaks an Exchange into these hot paths fails loudly
    "map": ([], ["Exchange", "CartesianProduct"]),
    "rename": ([], ["Exchange", "CartesianProduct"]),
    "delete": ([], ["Exchange", "CartesianProduct"]),
    "fillna": ([], ["Exchange", "CartesianProduct"]),
    "to_integer": ([], ["Exchange", "CartesianProduct"]),
    "to_float": ([], ["Exchange", "CartesianProduct"]),
    "parsedate": ([], ["Exchange", "CartesianProduct"]),
    "replace": ([], ["Exchange", "CartesianProduct"]),
    "normalize": ([], ["Exchange", "CartesianProduct"]),
    "eval_tier1": ([], ["Exchange", "CartesianProduct"]),
    # scan+project; one spread_scan round-robin exchange allowed (r15,
    # same rationale as pii_scan)
    "text_stats": ([], ["CartesianProduct", "SortMergeJoin"]),
    "language_id": ([], ["Exchange", "CartesianProduct"]),
    "token_count": ([], ["Exchange", "CartesianProduct"]),
    "det_sample": ([], ["Exchange", "CartesianProduct"]),
    # explode/struct reshapes stay scan-local projections
    "unfold": ([], ["Exchange", "CartesianProduct"]),
    "unnest": ([], ["Exchange", "CartesianProduct"]),
    "nest": ([], ["Exchange", "CartesianProduct"]),
    "ngram": ([], ["Exchange", "CartesianProduct"]),
    # Arrow-UDF boundaries (tier-2 eval, exec barrier, multimodal
    # decode) move batches, never shuffle rows
    "eval_tier2": ([], ["Exchange", "CartesianProduct"]),
    "exec": ([], ["Exchange", "CartesianProduct"]),
    "multimodal": ([], ["Exchange", "CartesianProduct"]),
    "audio_features": ([], ["Exchange", "CartesianProduct"]),
    "video_frames": ([], ["Exchange", "CartesianProduct"]),
    # map-side-combined keyed aggregates; no window, no nested loop
    "groupby_agg_list": (["partial"], ["CartesianProduct", "Window", "SortMergeJoin"]),
    "cube": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    "rollup": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    "dq_check": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    "salted_agg": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    "profile": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    "char_entropy": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    # time-window aggregates (F.window / F.session_window), NOT window
    # functions: one keyed exchange, no per-row Window node
    "win_agg": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    "sessionize": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    # vocabulary distinct only — never a join or window
    "caverphone": ([], ["CartesianProduct", "Window", "SortMergeJoin"]),
    # per-key window transforms share ONE keyed exchange
    "groupby_transform": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "groupby_rank": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "scd2": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "pack_sequences": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "stream_topk": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "review_queue": (["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # survivorship is ONE aggregate: the mode rule is an aggregate, not a window
    "er_golden": (["partial_mode"], ["CartesianProduct", "Window"]),
    # bin-blocked interval equi-join — keyed, never a nested loop
    "interval_join": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # hash-groupBy dedup + keyed survivor join
    "dedup_exact": (["partial"], ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"]),
    # min-owner gram agg + keyed join back (dup_ngrams family)
    "dup_ngrams": (["BroadcastHashJoin", "partial"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # banded candidates re-join the corpus on id — no corpus self-NLJ
    "decontaminate_fuzzy": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # query side broadcast into the keyed posting join
    "bm25_topk": (["BroadcastHashJoin", "Window"], ["CartesianProduct", "SortMergeJoin"]),
    # 1-row totals ride a scalar NLJ; the gram joins stay keyed
    "collocations": (["BroadcastHashJoin", "partial"], ["CartesianProduct", "SortMergeJoin"]),
    # centroid table broadcast (kmeans pattern); corpus never sort-merges
    "ann_ivf": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    "ann_ivf_index": (["BroadcastHashJoin"], ["CartesianProduct", "SortMergeJoin"]),
    # iterative kernels are lineage-cut each round: the final plan must
    # read the checkpointed RDD, not replay the join tree
    "minhash_sig": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "fingerprint": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "kcenter": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "mmr": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "ridge_train": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "closeness_anf_exact": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "clique_list": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "dedup_near": (["Scan ExistingRDD"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # one lazy plan: the gold pairs hash-semi-join the candidates and the
    # three global counts cross-join as 1-row broadcasts; no count runs
    # at build time, so no scan of locally built rows appears
    "blocking_eval": (["LeftSemi"], ["CartesianProduct", "Scan ExistingRDD"]),
    # keyed node joins + map-side combine (graph kernels without a cut
    # in the final plan)
    "k_core": (["partial"], ["CartesianProduct"]),
    "closeness": (["partial"], ["CartesianProduct"]),
}


def audit_query(spark, qs, name: str) -> list[str]:
    """Plan-property failures for one driver query ([] = clean)."""
    must, must_not = EXPECT[name]
    plan = qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    failures = []
    for frag in must:
        if frag not in plan:
            failures.append(f"{name}: missing {frag!r}")
    for frag in must_not:
        if frag in plan:
            failures.append(f"{name}: contains forbidden {frag!r}")
    return failures


def main() -> int:
    spark = get_session("plan-audit")
    qs = entry_mod.queries()
    failures = []
    for name in EXPECT:
        fails = audit_query(spark, qs, name)
        failures.extend(fails)
        print(("FAIL " if fails else "OK   ") + name)
    for f in failures:
        print("  !!", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
