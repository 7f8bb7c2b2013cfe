"""aces_spark — a PySpark-native temporal cohort-extraction engine.

A from-scratch, Spark-first reimplementation of the query and
data-processing capabilities of the reference engine (justin13601/ACES):
declarative YAML task configs → predicates DataFrame → windowed
aggregation kernels → recursive window-tree extraction, plus a
``datapipe`` module of large-scale training-data operators (dedup,
similarity search, text analysis, multimodal plumbing).
"""

from .config import (
    DerivedPredicateConfig,
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    WindowConfig,
)
from .operators.aggregate import (
    aggregate_event_bound_window,
    aggregate_temporal_window,
    boolean_expr_bound_sum,
)
from .operators.bloom import bloom_join
from .operators.constraints import check_constraints, check_static_variables
from .operators.graph import (
    k_core,
    label_propagation,
    pagerank,
    pagerank_topk,
    personalized_pagerank,
    triangle_count,
)
from .operators.timeseries import (
    asof_join,
    asof_join_chunked,
    gapfill_locf,
    interval_overlap_join,
    range_join,
    rolling_stats,
    time_rollup,
)
from .query import query
from .sources.layout import zorder_key, zorder_layout
from .sources.predicates import (
    direct_load_plain_predicates,
    generate_plain_predicates_from_meds,
    get_predicates_df,
)
from .types import (
    ANY_EVENT_COLUMN,
    END_OF_RECORD_KEY,
    START_OF_RECORD_KEY,
    TemporalWindowBounds,
    ToEventWindowBounds,
)
from .utils import Node, parse_timedelta, preorder_iter

__version__ = "0.1.0"

__all__ = [
    "ANY_EVENT_COLUMN",
    "END_OF_RECORD_KEY",
    "START_OF_RECORD_KEY",
    "DerivedPredicateConfig",
    "EventConfig",
    "Node",
    "PlainPredicateConfig",
    "TaskExtractorConfig",
    "TemporalWindowBounds",
    "ToEventWindowBounds",
    "WindowConfig",
    "aggregate_event_bound_window",
    "aggregate_temporal_window",
    "bloom_join",
    "boolean_expr_bound_sum",
    "check_constraints",
    "check_static_variables",
    "direct_load_plain_predicates",
    "generate_plain_predicates_from_meds",
    "get_predicates_df",
    "k_core",
    "label_propagation",
    "pagerank",
    "pagerank_topk",
    "personalized_pagerank",
    "triangle_count",
    "parse_timedelta",
    "preorder_iter",
    "query",
    "zorder_key",
    "zorder_layout",
]
