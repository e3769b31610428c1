"""Graph data model: an edge DataFrame ``(src, dst, weight)`` holder.

Re-creates the reference's COO-edge-list graph abstraction
(cugraph ``simpleGraph.py:43-75``: srcCol="src", dstCol="dst",
edgeWeightCol="weights") with idiomatic Spark DataFrames. There is no
CSR materialization at the Graph level — per-partition CSR blocks are
an execution detail of the iterative operators (see
``operators/pagerank.py`` csr mode), exactly as the reference builds
CSR inside graph_t, not in the user-facing edge list.

Semantics carried over from the reference:

- undirected == symmetrized directed: union with the reversed edge list
  then dedup keeping the *minimum* weight on conflicting duplicates
  (cugraph ``structure/symmetrize.py:85-100,305-323``).
- renumbering maps arbitrary external ids (any type) to dense internal
  ``[0, V)`` longs (cugraph ``structure/number_map.py:464-601``). We use a
  deterministic dense assignment (ordered by external id) so results are
  exactly reproducible across runs and engines; the reference orders by
  degree descending as a GPU kernel optimization
  (``renumber_edgelist_impl.cuh:538-545``) — a placement choice, not a
  semantic one.
- multi-edge dedup / self-loop removal mirror
  ``structure/remove_multi_edges.cu`` / ``remove_self_loops_impl.cuh``.

Scale notes (100 TB target): every op below is a pure DataFrame plan —
Catalyst handles pushdown/pruning; the only shuffles are the groupBys
and the renumber join, all keyed on vertex id which is the engine-wide
partitioning key, so successive stages reuse the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SRC = "src"
DST = "dst"
WGT = "weight"


_NUMERIC_ID_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
)


def _check_edge_cols(
    edges: DataFrame, weighted: bool, keep_int_ids: bool = False
) -> DataFrame:
    cols = set(edges.columns)
    if SRC not in cols or DST not in cols:
        raise ValueError(f"edge DataFrame needs columns '{SRC}','{DST}'; got {edges.columns}")
    dtypes = dict(edges.dtypes)
    for c in (SRC, DST):
        if not str(dtypes[c]).startswith(_NUMERIC_ID_PREFIXES):
            # cast("long") of a non-numeric id yields NULL (non-ANSI),
            # which would silently collapse every edge onto (NULL,NULL)
            raise ValueError(
                f"vertex id column {c!r} has non-numeric type "
                f"{dtypes[c]!r}; renumber first (Graph.from_edgelist("
                "..., do_renumber=True) or cugraph_spark.renumber)"
            )
    # keep_int_ids (set for pre_partitioned graphs): a bucketed table
    # stored with int32 ids must flow through UNCAST — an int→long cast
    # rewrites the bucket column, so Catalyst can no longer match the
    # scan's hashpartitioning and every superstep would re-exchange the
    # O(E) side, defeating the write-once zero-exchange layout
    # (sources/bucketed.py). Only when BOTH ids are int32 — mixed
    # widths would push casts into every join key instead.
    id_type = (
        "int" if keep_int_ids and dtypes[SRC] == "int" and dtypes[DST] == "int"
        else "long"
    )
    out = [F.col(SRC).cast(id_type).alias(SRC), F.col(DST).cast(id_type).alias(DST)]
    if weighted:
        if WGT in cols:
            out.append(F.col(WGT).cast("double").alias(WGT))
        else:
            out.append(F.lit(1.0).alias(WGT))
    else:
        out.append(F.lit(1.0).alias(WGT))
    return edges.select(*out)


def symmetrize(edges: DataFrame) -> DataFrame:
    """Union with reversed edges, dedup keeping min weight.

    Exact semantics of cugraph ``symmetrize.py:85-100`` (groupby
    [src,dst].min() after `_add_reverse_edges` :305-323). One shuffle on
    (src,dst); Catalyst partial-aggregates map-side.
    """
    rev = edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(WGT))
    return (
        edges.select(SRC, DST, WGT)
        .unionByName(rev)
        .groupBy(SRC, DST)
        .agg(F.min(WGT).alias(WGT))
    )


def symmetrize_multi(edges: DataFrame) -> DataFrame:
    """Multigraph symmetrize: union with reversed edges WITHOUT the
    min-weight dedup (cugraph ``symmetrize(..., multi=True)`` keeps
    duplicates). Self-loops are not mirrored, so each parallel
    self-loop stays one stored row — the same per-edge storage count
    as the simple path's groupBy dedup, which keeps
    ``number_of_edges`` one formula for both."""
    rev = edges.filter(F.col(SRC) != F.col(DST)).select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(WGT)
    )
    return edges.select(SRC, DST, WGT).unionByName(rev)


def remove_self_loops(edges: DataFrame) -> DataFrame:
    """cugraph ``structure/remove_self_loops_impl.cuh`` → a plain filter
    (pushed into the scan by Catalyst)."""
    return edges.filter(F.col(SRC) != F.col(DST))


def symmetrize_df(edges: DataFrame) -> DataFrame:
    """Reference ``symmetrize_df`` export — symmetrize on a plain edge
    DataFrame (same thing in this engine; kept for API parity)."""
    return symmetrize(edges)


def drop_multi_edges(edges: DataFrame, keep: str = "min") -> DataFrame:
    """Dedup parallel edges (cugraph ``remove_multi_edges.cu``;
    invoked from ``simpleGraph.py:307``). keep='min'|'sum' weight policy."""
    agg = F.min(WGT) if keep == "min" else F.sum(WGT)
    return edges.groupBy(SRC, DST).agg(agg.alias(WGT))


def renumber(
    edges: DataFrame, src_col: str = SRC, dst_col: str = DST
) -> tuple[DataFrame, DataFrame]:
    """Map external ids (any type) to dense internal longs ``[0, V)``.

    Mirrors cugraph ``NumberMap.renumber`` (number_map.py:111-139:
    distinct union of endpoints + dense sequential assignment, then join
    back onto the edge list via add_internal_vertex_id :185-210).

    Returns (renumbered_edges(src,dst[,weight]), mapping(id, external)).

    Dense ids are assigned deterministically in external-id order using a
    global row_number. At 100 TB scale the window-over-everything variant
    would be a single-partition sort; we instead use zipWithIndex over a
    sorted distinct-vertex RDD (distributed sort + per-partition offsets
    — the classic dense-rank-without-a-window idiom, and the engine's
    only RDD use, cf. SURVEY.md §7.2).
    """
    verts = (
        edges.select(F.col(src_col).alias("external"))
        .unionByName(edges.select(F.col(dst_col).alias("external")))
        .distinct()
        .sort("external")
    )
    schema = "external " + dict(verts.dtypes)["external"] + ", id long"
    mapping = verts.rdd.map(lambda r: r[0]).zipWithIndex().map(lambda t: (t[0], t[1]))
    mapping_df = verts.sparkSession.createDataFrame(mapping, schema=schema).select("id", "external")

    other = [c for c in edges.columns if c not in (src_col, dst_col)]
    out = (
        edges.join(mapping_df.withColumnRenamed("external", src_col), src_col)
        .withColumnRenamed("id", "__src_id")
        .join(mapping_df.withColumnRenamed("external", dst_col), dst_col)
        .withColumnRenamed("id", "__dst_id")
        .select(
            F.col("__src_id").alias(SRC), F.col("__dst_id").alias(DST), *[F.col(c) for c in other]
        )
    )
    return out, mapping_df


def unrenumber(result: DataFrame, mapping: DataFrame, col: str = "vertex") -> DataFrame:
    """Join internal ids back to external ids (number_map.py:603)."""
    out_cols = [
        F.col("external").alias(col) if c == col else F.col(c)
        for c in result.columns
    ]
    return result.join(mapping, result[col] == mapping["id"]).select(*out_cols)


def relabel(
    df: DataFrame, mapping: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Apply an old→new label mapping to the given columns (standalone
    analog of cugraph ``structure/relabel_impl.cuh``, used e.g. by WCC's
    label push-down at weakly_connected_components_impl.cuh:739-754).

    ``mapping``: DataFrame [old, new]; values absent from the mapping
    pass through unchanged. One broadcast-or-shuffle join per column."""
    cols = cols if cols is not None else [df.columns[0]]
    m = mapping.select(F.col(mapping.columns[0]).alias("__old"),
                       F.col(mapping.columns[1]).alias("__new"))
    out = df
    for c in cols:
        out = (
            out.join(m, out[c] == m["__old"], "left")
            .withColumn(c, F.coalesce("__new", F.col(c)))
            .drop("__old", "__new")
        )
    return out


def replicate_edgelist(edges: DataFrame) -> DataFrame:
    """Mark the edge list for replication to every worker — the Spark
    analog of cugraph ``structure/replicate_edgelist.py`` /
    ``pylibcugraph/replicate_edgelist.pyx`` (broadcast to all GPUs) is
    simply the broadcast-join hint: downstream joins against the
    returned DataFrame ship the whole edge list to each task instead of
    shuffling. Only sensible for small edge lists (Spark enforces the
    broadcast size limit)."""
    return F.broadcast(edges)


class Graph:
    """Property-less directed/undirected multigraph over an edge DataFrame.

    Spark-native analog of ``cugraph.Graph`` (graph_classes.py:59-62):
    holds the COO edge DataFrame; undirected graphs are physically the
    symmetrized directed edge list (§1.4 of SURVEY.md).
    """

    # class-level defaults so Graph.__new__-built views (induced_subgraph,
    # reverse, community._as_graph) are safe without re-running __init__
    pre_partitioned = False
    _nv_cache = None
    _ne_cache = None
    # default directedness when the class is used as a create_using
    # factory (compat.from_edgelist etc.) — matches each class's
    # __init__ default
    DIRECTED = True

    def __init__(
        self,
        edges: DataFrame,
        directed: bool = True,
        weighted: bool = True,
        multi_edge: bool = False,
        renumbered_mapping: DataFrame | None = None,
        pre_partitioned: bool = False,
        assume_symmetric: bool = False,
        pre_partition_key: str = SRC,
    ):
        e = _check_edge_cols(edges, weighted, keep_int_ids=pre_partitioned)
        transformed = False
        if not multi_edge:
            e = drop_multi_edges(e, keep="min")
            transformed = True
        if not directed and not assume_symmetric:
            # assume_symmetric declares the input is ALREADY the
            # symmetrized physical form (e.g. a bucketed table written
            # from Graph.edges of an undirected graph) — skipping the
            # re-symmetrize keeps the on-disk layout usable. Multigraphs
            # must keep parallel edges: the simple symmetrize's
            # min-weight groupBy would silently collapse them.
            # CONTRACT: under assume_symmetric=True every vertex must
            # appear as dst (true of any symmetrized list). WCC/LPA
            # fuse superstep 0 on that property; an asymmetric list
            # passed with the flag drops src-only vertices from their
            # output instead of merely mislabeling them.
            e = symmetrize_multi(e) if multi_edge else symmetrize(e)
            transformed = True
        self.edges = e
        self.directed = directed
        self.weighted = weighted
        self.mapping = renumbered_mapping
        # pre_partitioned declares the edges arrive hash-partitioned on
        # pre_partition_key ('src' default; 'dst' for tables bucketed
        # for the broadcast-mode zero-exchange superstep — see
        # sources/bucketed.py) so superstep operators skip the matching
        # repartition. Any constructor transform re-shuffles and voids
        # that layout.
        if pre_partition_key not in (SRC, DST):
            raise ValueError(f"pre_partition_key must be {SRC!r} or {DST!r}")
        self.pre_partitioned = pre_partitioned and not transformed
        self.pre_partition_key = pre_partition_key

    def partitioned_on(self, key: str) -> bool:
        """True when the edges are declared hash-partitioned on ``key``
        (operators skip the matching repartition)."""
        return self.pre_partitioned and self.pre_partition_key == key

    # ---- construction helpers (cugraph from_*_edgelist analogs) ----

    @classmethod
    def from_edgelist(
        cls,
        edges: DataFrame,
        src_col: str = SRC,
        dst_col: str = DST,
        weight_col: str | None = None,
        directed: bool = True,
        do_renumber: bool = False,
    ) -> "Graph":
        """cugraph ``from_cudf_edgelist`` analog (graph_classes.py:107-205).

        With ``do_renumber=True`` external ids of any type are mapped to
        dense longs and the mapping retained for ``unrenumber``.
        """
        sel = [F.col(src_col).alias(SRC), F.col(dst_col).alias(DST)]
        if weight_col is not None:
            sel.append(F.col(weight_col).cast("double").alias(WGT))
        e = edges.select(*sel)
        mapping = None
        if do_renumber:
            e, mapping = renumber(e)
        return cls(e, directed=directed, weighted=weight_col is not None,
                   renumbered_mapping=mapping)

    @classmethod
    def from_pandas_edgelist(cls, spark, pdf, **kw) -> "Graph":
        return cls.from_edgelist(spark.createDataFrame(pdf), **kw)

    @classmethod
    def from_adjlist(
        cls,
        spark,
        offsets,
        indices,
        weights=None,
        directed: bool = True,
    ) -> "Graph":
        """CSR ingest (cugraph ``from_cudf_adjlist``,
        graph_classes.py:206-272 / simpleGraph.py:538-556): ``offsets``
        is the length-(V+1) row-pointer array, ``indices`` the column
        ids, ``weights`` optional. Like the reference this is a
        driver-side array convenience constructor — the arrays are
        decompressed to the COO edge DataFrame the engine runs on
        (CSR at scale is an internal per-partition execution artifact,
        SURVEY.md §1.6, never a user-facing ingest format)."""
        rows = []
        for v in range(len(offsets) - 1):
            for p in range(int(offsets[v]), int(offsets[v + 1])):
                w = float(weights[p]) if weights is not None else 1.0
                rows.append((v, int(indices[p]), w))
        e = spark.createDataFrame(rows, schema="src long, dst long, weight double")
        return cls(e, directed=directed, weighted=weights is not None)

    @classmethod
    def from_pandas_adjacency(cls, spark, pdf, directed: bool = True) -> "Graph":
        """cugraph ``from_pandas_adjacency`` analog (graph_classes.py):
        dense V×V adjacency (index/columns = vertex labels, 0 = no
        edge) → COO edge DataFrame. Driver-side convenience for small
        graphs, like the reference."""
        labels = list(pdf.index)
        rows = []
        vals = pdf.values
        for i, u in enumerate(labels):
            for j, v in enumerate(labels):
                w = float(vals[i][j])
                if w != 0.0:
                    rows.append((int(u), int(v), w))
        e = spark.createDataFrame(rows, schema="src long, dst long, weight double")
        return cls(e, directed=directed, weighted=True)

    @classmethod
    def from_numpy_array(cls, spark, arr, directed: bool = True) -> "Graph":
        """cugraph ``from_numpy_array`` analog: dense adjacency ndarray
        (vertex ids = row/col positions) → COO edges."""
        import pandas as pd

        n = arr.shape[0]
        return cls.from_pandas_adjacency(
            spark, pd.DataFrame(arr, index=range(n), columns=range(n)),
            directed=directed,
        )

    # reference keeps the deprecated *_matrix spellings as aliases
    from_numpy_matrix = from_numpy_array

    def to_pandas_edgelist(self):
        """cugraph ``to_pandas_edgelist`` analog — driver-side collect;
        intended for small (sub)graphs like the reference's."""
        return self.edges.toPandas()

    def to_pandas_adjacency(self):
        """cugraph ``to_pandas_adjacency`` analog: dense V×V weight
        matrix indexed by sorted vertex id. Driver-side; O(V²)."""
        import numpy as np
        import pandas as pd

        vs = sorted(r["vertex"] for r in self.vertices().collect())
        idx = {v: i for i, v in enumerate(vs)}
        m = np.zeros((len(vs), len(vs)))
        for r in self.edges.collect():
            m[idx[r[SRC]], idx[r[DST]]] = r[WGT] if self.weighted else 1.0
        return pd.DataFrame(m, index=vs, columns=vs)

    def to_numpy_array(self):
        """cugraph ``to_numpy_array`` analog (dense adjacency)."""
        return self.to_pandas_adjacency().values

    to_numpy_matrix = to_numpy_array

    # ---- predicates (graph_classes.py is_* surface) ----

    def is_weighted(self) -> bool:
        return self.weighted

    def is_directed(self) -> bool:
        return self.directed

    def is_renumbered(self) -> bool:
        return self.mapping is not None

    def is_multigraph(self) -> bool:
        """Always False: parallel edges are deduped at construction
        (drop_multi_edges) unless multi_edge=True was passed — mirror
        of cugraph Graph vs MultiGraph split."""
        return False

    def is_bipartite(self) -> bool:
        """False for the plain Graph, like the reference (bipartite
        handling lives in PropertyGraph/hypergraph here)."""
        return False

    def is_multipartite(self) -> bool:
        return False

    # ---- introspection (simpleGraph.py:808-855,1278-1369) ----

    def vertices(self) -> DataFrame:
        return (
            self.edges.select(F.col(SRC).alias("vertex"))
            .unionByName(self.edges.select(F.col(DST).alias("vertex")))
            .distinct()
        )

    def number_of_vertices(self) -> int:
        """Memoized per edge-DataFrame: V is renumber/table metadata on a
        real deployment, not something to re-derive with a full distinct
        over E for every operator call (the distinct over a scale-22
        edge list costs more than all WCC supersteps combined — see
        BENCH/e2e_scaling.jsonl superstep_walls)."""
        return self.vertex_stats()[0]

    def vertex_stats(self) -> tuple:
        """Memoized ``(count, min_id, max_id)`` over the vertex set —
        ONE job shared by every caller that needs V (broadcast-vs-shuffle
        join cutover) or the id bounds (int32 compaction in WCC/triangle
        count). On a real deployment all three are renumber/table
        metadata; deriving them per-operator would repeat the O(E)
        distinct. Keyed on the edges object identity so `g.edges = ...`
        rebinds invalidate it; the cache tuple holds the DataFrame ref,
        so the id cannot be recycled while cached. ``min_id``/``max_id``
        are whatever the vertex dtype orders by (lexicographic for
        string ids — compaction callers must check ``isinstance(int)``)."""
        cache = self._nv_cache
        if cache is None or cache[0] is not self.edges:
            row = self.vertices().agg(
                F.count("*").alias("n"),
                F.min("vertex").alias("lo"),
                F.max("vertex").alias("hi"),
            ).first()
            cache = (self.edges, int(row["n"]), row["lo"], row["hi"])
            self._nv_cache = cache
        return cache[1], cache[2], cache[3]

    def cached_vertex_stats(self) -> tuple | None:
        """``vertex_stats()`` if already memoized, else ``None`` —
        callers that only *opportunistically* want the bounds (triangle
        count's compaction pre-scan is a cheaper column-pruned agg than
        the distinct this memo costs cold) use this to share a warm
        memo without ever paying for a cold one."""
        cache = self._nv_cache
        if cache is None or cache[0] is not self.edges:
            return None
        return cache[1], cache[2], cache[3]

    def edge_rows(self) -> int:
        """Memoized row count of ``edges`` (an undirected edge's two
        directions are two rows): what the block store checks a reused
        pack against, so a session's csr calls on one graph count it
        once. Keyed on the edges object, like :meth:`vertex_stats`."""
        cache = self._ne_cache
        if cache is None or cache[0] is not self.edges:
            cache = (self.edges, self.edges.count())
            self._ne_cache = cache
        return cache[1]

    def number_of_edges(self) -> int:
        if self.directed:
            return self.edges.count()
        # self-loops are stored ONCE in the symmetrized layout (both the
        # simple dedup and symmetrize_multi keep one row per self-loop),
        # so a plain n//2 would halve them away
        row = self.edges.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.when(F.col(SRC) == F.col(DST), 1)), F.lit(0)
            ).alias("sl"),
        ).first()
        return (row["n"] - row["sl"]) // 2 + row["sl"]

    def has_node(self, v) -> bool:
        return self.vertices().filter(F.col("vertex") == v).limit(1).count() > 0

    def has_edge(self, u, v) -> bool:
        return (
            self.edges.filter((F.col(SRC) == u) & (F.col(DST) == v)).limit(1).count() > 0
        )

    def density(self) -> float:
        v = self.number_of_vertices()
        e = self.number_of_edges()
        if v <= 1:
            return 0.0
        d = e / (v * (v - 1))
        return d if self.directed else 2 * d

    # ---- degrees (simpleGraph.py:856-1129) ----

    def out_degree(self) -> DataFrame:
        return (
            self.vertices()
            .join(
                self.edges.groupBy(F.col(SRC).alias("vertex")).agg(F.count("*").alias("out_degree")),
                "vertex",
                "left",
            )
            .select("vertex", F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"))
        )

    def in_degree(self) -> DataFrame:
        return (
            self.vertices()
            .join(
                self.edges.groupBy(F.col(DST).alias("vertex")).agg(F.count("*").alias("in_degree")),
                "vertex",
                "left",
            )
            .select("vertex", F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"))
        )

    def degree(self) -> DataFrame:
        """in+out for directed; neighbor count counted once per direction
        for undirected (matching cugraph where undirected storage is
        symmetrized so degree == out_degree of the stored graph)."""
        if not self.directed:
            return self.out_degree().withColumnRenamed("out_degree", "degree")
        return (
            self.in_degree()
            .join(self.out_degree(), "vertex")
            .select("vertex", (F.col("in_degree") + F.col("out_degree")).alias("degree"))
        )

    def out_weight_sums(self) -> DataFrame:
        """Σ outgoing weight per vertex — PageRank denominator
        (cugraph ``graph_weight_utils_impl.cuh:105-151``). Unweighted
        graphs behave as weight 1.0 so this equals out-degree
        (``pagerank_impl.cuh:196-205``)."""
        return (
            self.vertices()
            .join(
                self.edges.groupBy(F.col(SRC).alias("vertex")).agg(F.sum(WGT).alias("ows")),
                "vertex",
                "left",
            )
            .select("vertex", F.coalesce("ows", F.lit(0.0)).alias("ows"))
        )

    # ---- neighborhood ops ----

    def two_hop_neighbors(self) -> DataFrame:
        """Distinct vertex pairs exactly reachable in 2 hops
        (simpleGraph.py:726-770): edges self-join on e1.dst == e2.src."""
        e1 = self.edges.select(F.col(SRC).alias("first"), F.col(DST).alias("mid"))
        e2 = self.edges.select(F.col(SRC).alias("mid"), F.col(DST).alias("second"))
        return (
            e1.join(e2, "mid")
            .filter(F.col("first") != F.col("second"))
            .select("first", "second")
            .distinct()
        )

    def induced_subgraph(self, vertex_df: DataFrame, vcol: str = "vertex") -> "Graph":
        """Edges with both endpoints in the vertex set
        (cugraph ``induced_subgraph_impl.cuh``): two semi-joins."""
        vs = vertex_df.select(F.col(vcol).alias("vertex"))
        e = (
            self.edges.join(vs.withColumnRenamed("vertex", SRC), SRC, "left_semi")
            .join(vs.withColumnRenamed("vertex", DST), DST, "left_semi")
        )
        g = Graph.__new__(Graph)
        g.edges = e.select(SRC, DST, WGT)
        g.directed = self.directed
        g.weighted = self.weighted
        g.mapping = self.mapping
        return g

    def reverse(self) -> "Graph":
        """Transpose (cugraph ``transpose_graph_impl.cuh``) — a projection."""
        g = Graph.__new__(Graph)
        g.edges = self.edges.select(
            F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(WGT)
        )
        g.directed = self.directed
        g.weighted = self.weighted
        g.mapping = self.mapping
        return g


class MultiGraph(Graph):
    """cugraph ``MultiGraph`` (graph_classes.py:793-821): parallel edges
    are retained (``multi_edge=True`` forced); ``density`` is undefined
    (raises TypeError, mirroring the reference's contract)."""

    DIRECTED = False

    def __init__(self, edges: DataFrame, directed: bool = False, **kw):
        kw["multi_edge"] = True
        super().__init__(edges, directed=directed, **kw)

    def is_multigraph(self) -> bool:
        return True

    def density(self) -> float:
        raise TypeError("The density function is not supported on a MultiGraph.")


class Tree(Graph):
    """cugraph ``Tree`` (graph_classes.py:823-830) — a Graph flagged as
    a tree; the flag is advisory metadata, as in the reference."""

    DIRECTED = False

    def __init__(self, edges: DataFrame, directed: bool = False, **kw):
        super().__init__(edges, directed=directed, **kw)
        self.tree = True


class NPartiteGraph(Graph):
    """cugraph ``NPartiteGraph`` (graph_classes.py:833-1004): partition
    membership is user-declared via ``add_nodes_from(bipartite=...)``
    (the reference does not verify partiteness either — its
    ``is_bipartite`` 'solely relies on the user call')."""

    DIRECTED = False

    def __init__(self, edges: DataFrame, directed: bool = False,
                 bipartite: bool = False, **kw):
        super().__init__(edges, directed=directed, **kw)
        self._bipartite = bipartite
        self._partitions: dict[str, DataFrame] = {}

    def add_nodes_from(self, nodes, bipartite: str | None = None) -> None:
        """Declare a named vertex partition; ``nodes`` is a DataFrame
        with a ``vertex`` column or a python sequence of ids."""
        if bipartite is None:
            return
        if not isinstance(nodes, DataFrame):
            nodes = self.edges.sparkSession.createDataFrame(
                [(int(v),) for v in nodes], schema="vertex long"
            )
        self._partitions[str(bipartite)] = nodes.select("vertex")

    def sets(self) -> dict[str, DataFrame]:
        """The declared partitions (reference ``sets()``)."""
        return dict(self._partitions)

    def is_bipartite(self) -> bool:
        return self._bipartite

    def is_multipartite(self) -> bool:
        return True


class BiPartiteGraph(NPartiteGraph):
    """cugraph ``BiPartiteGraph`` (graph_classes.py:1006-1020)."""

    def __init__(self, edges: DataFrame, directed: bool = False, **kw):
        kw["bipartite"] = True
        super().__init__(edges, directed=directed, **kw)
