from backend_spark.operators.columns import (
    op_delete,
    op_eval,
    op_exec,
    op_fillna,
    op_keep,
    op_list_to_tuple,
    op_map,
    op_normalize,
    op_parsedate,
    op_pause,
    op_rename,
    op_replace,
    op_shuffle,
    op_to_float,
    op_to_integer,
    op_tuple_to_list,
)
from backend_spark.operators.groupby import op_groupby
from backend_spark.operators.joins import (
    asof_join,
    fuzzy_dictionary,
    interval_join,
    join_strict,
    join_fuzzy,
    join_topk,
    range_join,
)
from backend_spark.operators.groupby import compact_latest, rollup_agg
from backend_spark.operators.reshape import (
    op_melt,
    op_nest,
    op_ngram,
    op_pivot,
    op_unfold,
    op_unnest,
)
from backend_spark.operators.er import (
    blocking_eval,
    er_resolve,
    fs_em,
    fs_score,
    fs_weights,
    key_collision,
    match_cascade,
    pair_features,
    sorted_neighborhood,
)
from backend_spark.operators.graph import (
    connected_components,
    label_propagation,
    link_prediction,
    modularity,
    negative_edges,
    op_clique,
    shortest_paths,
)

__all__ = [
    "op_map", "op_rename", "op_keep", "op_delete", "op_fillna",
    "op_to_integer", "op_to_float", "op_parsedate", "op_replace",
    "op_normalize", "op_eval", "op_exec", "op_shuffle", "op_pause",
    "op_groupby", "op_unfold", "op_unnest", "op_nest", "op_ngram",
    "op_pivot", "op_melt", "rollup_agg",
    "op_list_to_tuple", "op_tuple_to_list",
    "join_strict", "join_fuzzy", "fuzzy_dictionary", "join_topk", "asof_join", "range_join",
    "interval_join",
    "compact_latest",
    "connected_components", "op_clique", "er_resolve", "pair_features", "blocking_eval",
    "fs_weights", "fs_score", "fs_em", "key_collision", "match_cascade",
    "label_propagation", "link_prediction", "modularity",
    "shortest_paths", "sorted_neighborhood", "negative_edges",
]
