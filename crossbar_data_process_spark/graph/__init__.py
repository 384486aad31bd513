"""Graph-analytics layer (BASELINE.json: "GraphX for analytics portion").

GraphFrames/GraphX bindings aren't available in this environment, so the
algorithms are implemented directly as iterative DataFrame programs — the
same Pregel-style message passing GraphX would run, expressed as joins that
Catalyst/AQE optimize. ``pregel.supersteps`` is the one iteration loop:
components, PageRank and closure are ``step`` functions on top of it, and it
alone holds the persist/checkpoint/release policy and the convergence test
(a count of the rows a superstep flagged active).
"""

from crossbar_data_process_spark.graph.components import connected_components
from crossbar_data_process_spark.graph.hierarchy import transitive_closure
from crossbar_data_process_spark.graph.pagerank import pagerank

__all__ = ["connected_components", "pagerank", "transitive_closure"]
