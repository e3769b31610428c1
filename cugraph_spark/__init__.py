"""cugraph_spark — a PySpark-native link-graph analytics engine.

Re-creates the core capabilities of RAPIDS cuGraph (reference at
/root/reference, surveyed in SURVEY.md) with idiomatic Spark: the graph
is an edge DataFrame (src, dst, weight); algorithms are declarative
DataFrame plans driven by a superstep loop; the heavy per-partition
work runs in Arrow-vectorized pandas UDFs; skew/partitioning/shuffle
are handled explicitly for 100 TB-scale inputs.
"""

from . import zipcache

zipcache.install()

from .graph import (  # noqa: F401
    Graph,
    relabel,
    renumber,
    replicate_edgelist,
    symmetrize,
    symmetrize_df,
    unrenumber,
    remove_self_loops,
    drop_multi_edges,
)
from .operators.pagerank import FailedToConvergeError, pagerank  # noqa: F401
from .operators.wcc import (  # noqa: F401
    connected_components,
    weakly_connected_components,
)
from .operators.label_propagation import label_propagation  # noqa: F401
from .operators.triangle_count import edge_triangle_count, triangle_count  # noqa: F401
from .operators.centrality import (  # noqa: F401
    degree_centrality,
    eigenvector_centrality,
    hits,
    katz_centrality,
)
from .operators.traversal import (  # noqa: F401
    bfs,
    bfs_edges,
    concurrent_bfs,
    filter_unreachable,
    k_hop_neighbors,
    multi_source_bfs,
    shortest_path,
    shortest_path_length,
    sssp,
)
from .operators.cores import core_number, k_core  # noqa: F401
from .operators.similarity import (  # noqa: F401
    jaccard,
    jaccard_coefficient,
    overlap,
    overlap_coefficient,
    sorensen,
    sorensen_coefficient,
)
from .operators.sampling import (  # noqa: F401
    node2vec_walks,
    random_walks,
    rw_path,
    uniform_neighbor_sample,
    uniform_neighbor_sample_batched,
)
from . import gnn  # noqa: F401
from .operators.community import (  # noqa: F401
    batched_ego_graphs,
    coarsen_graph,
    ecg,
    ego_graph,
    k_truss,
    ktruss_subgraph,
    leiden,
    louvain,
    modularity,
)
from .operators.spectral import (  # noqa: F401
    analyze_clustering_edge_cut,
    analyze_clustering_modularity,
    analyze_clustering_ratio_cut,
    spectral_clustering,
    spectral_modularity_maximization_clustering,
)
from .operators.matching import approximate_weighted_matching  # noqa: F401
from .operators.tree import maximum_spanning_tree, minimum_spanning_tree  # noqa: F401
from .operators.betweenness import (  # noqa: F401
    betweenness_centrality,
    edge_betweenness_centrality,
)
from .property_graph import PropertyGraph, hypergraph  # noqa: F401
from .operators.mis import maximal_independent_set, vertex_coloring  # noqa: F401
from .operators.scc import strongly_connected_components  # noqa: F401
from .operators.assignment import dense_hungarian, hungarian  # noqa: F401
from .operators.layout import force_atlas2  # noqa: F401
from .utilities import (  # noqa: F401
    df_score_to_dictionary,
    ensure_graph_obj,
    harmonize_scores,
)
from .graph import (  # noqa: F401
    BiPartiteGraph,
    MultiGraph,
    NPartiteGraph,
    Tree,
)
from . import exceptions  # noqa: F401
from .compat import (  # noqa: F401
    analyzeClustering_edge_cut,
    analyzeClustering_modularity,
    analyzeClustering_ratio_cut,
    from_adjlist,
    from_cudf_edgelist,
    from_edgelist,
    from_numpy_array,
    from_numpy_matrix,
    from_pandas_adjacency,
    from_pandas_edgelist,
    induced_subgraph,
    is_bipartite,
    is_directed,
    is_multigraph,
    is_multipartite,
    is_weighted,
    node2vec,
    spectralBalancedCutClustering,
    spectralModularityMaximizationClustering,
    subgraph,
    to_numpy_array,
    to_numpy_matrix,
    to_pandas_adjacency,
    to_pandas_edgelist,
)

# dask-alias spelling of the symmetrize helper (cugraph symmetrize_ddf)
symmetrize_ddf = symmetrize_df

__version__ = "0.1.0"
