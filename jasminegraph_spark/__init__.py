"""jasminegraph_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of miyurud/jasminegraph.

The reference is a C++ distributed property-graph server (master/worker over
TCP, Cypher subset, graph analytics, streaming ingest). This package
re-expresses the same capabilities Spark-first:

- property graphs are a pair of DataFrames (nodes, edges) — see ``graph``
- the Cypher operator inventory (reference
  src/query/processor/cypher/queryplanner/Operators.h) maps to DataFrame
  combinators — see ``operators``
- graph analytics (triangles, PageRank, degree, egonet — reference
  src/frontend/JasmineGraphFrontEnd.cpp:230-346) are DataFrame jobs — see
  ``analytics``
- streaming ingest (reference src/util/kafka/StreamHandler.cpp) is
  Structured Streaming — see ``streaming``
- plus large-scale training-data pipeline operators (dedup, similarity
  search, text analysis) — see ``pipeline``
"""

__version__ = "0.1.0"

from jasminegraph_spark.session import get_spark  # noqa: F401
from jasminegraph_spark.graph import PropertyGraph  # noqa: F401
