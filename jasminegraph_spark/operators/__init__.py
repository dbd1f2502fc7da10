"""Cypher operator inventory as DataFrame combinators (SURVEY §2.1)."""

from jasminegraph_spark.operators.cypher_ops import (  # noqa: F401
    all_node_scan,
    node_scan_by_label,
    multiple_node_scan_by_label,
    node_by_id_seek,
    relationship_scan,
    expand_all,
    filter_rows,
    project,
    produce_results,
    distinct,
    order_by,
    limit_skip,
    aggregate,
    cartesian_product,
    union_rows,
    intersect_rows,
)
from jasminegraph_spark.operators.predicates import prop, coerced_compare  # noqa: F401
from jasminegraph_spark.operators.temporal import (  # noqa: F401
    apply_cdc,
    as_of_join,
    interval_join,
)
