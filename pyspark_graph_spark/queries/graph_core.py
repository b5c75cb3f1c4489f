"""Reference-surface graph operators (SURVEY.md §2.1-2.19)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark_graph_spark.constants import ADJ, DEGREE, DST, ID, SRC
from pyspark_graph_spark.datalog import DatalogQuery, Edge, Vertex
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.similarity import (
    JaccardSimilarity,
    OverlapCoefficient,
)
from pyspark_graph_spark.operators.triangle_count import TriangleCount
from pyspark_graph_spark.sources.tables import (
    nation_graph,
    supplier_co_occurrence_graph,
)

from pyspark_graph_spark.queries._registry import query
from pyspark_graph_spark.queries._shared import (
    BIPARTITE_EDGES_CTE,
    NATION_EDGES_CTE,
    SUPPLIER_EDGES_CTE,
    _cust_supp_graph,
    _supplier_cooc_graph,
)


# ---------------------------------------------------------------------------
# M2 — iterative operators: connected components, BFS, messaging
# ---------------------------------------------------------------------------
_CC_ORACLE = f"""
WITH RECURSIVE {BIPARTITE_EDGES_CTE.strip()},
bipartite_sym AS (
    SELECT src, dst FROM bipartite_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM bipartite_edges
),
verts AS (
    SELECT c_custkey * 2 AS id FROM customer
    UNION
    SELECT s_suppkey * 2 + 1 AS id FROM supplier
),
reach(id, r) AS (
    SELECT id, id FROM verts
    UNION
    SELECT e.dst, reach.r
    FROM reach JOIN bipartite_sym e ON e.src = reach.id
)
SELECT id, MIN(r) AS component FROM reach GROUP BY id
"""

def _lpa_sql(rounds: int) -> str:
    """Unrolled frontier label propagation mirroring Pregel semantics
    exactly: round i's messages come only from vertices whose label CHANGED
    in round i-1 (round 1: all); receivers adopt the deterministic mode
    (highest count, ties -> smallest label); vertices with no messages keep
    their label. MATERIALIZED per round (each CTE is referenced twice)."""
    ctes = [
        "l0 AS MATERIALIZED (SELECT CAST(s_suppkey AS BIGINT) AS id, "
        "CAST(s_suppkey AS BIGINT) AS label FROM supplier)",
        "ch0 AS MATERIALIZED (SELECT id, label FROM l0)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"m{i} AS (SELECT e.dst AS id, c.label "
            f"FROM supplier_edges e JOIN ch{p} c ON e.src = c.id "
            "UNION ALL "
            f"SELECT e.src AS id, c.label "
            f"FROM supplier_edges e JOIN ch{p} c ON e.dst = c.id)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT id, label FROM ("
            "SELECT id, label, ROW_NUMBER() OVER "
            "(PARTITION BY id ORDER BY n DESC, label ASC) AS rn "
            f"FROM (SELECT id, label, COUNT(*) AS n FROM m{i} "
            "GROUP BY id, label)) WHERE rn = 1)"
        )
        ctes.append(
            f"l{i} AS MATERIALIZED (SELECT l.id, "
            "COALESCE(a.label, l.label) AS label "
            f"FROM l{p} l LEFT JOIN a{i} a ON l.id = a.id)"
        )
        ctes.append(
            f"ch{i} AS MATERIALIZED (SELECT l.id, l.label FROM l{i} l "
            f"JOIN l{p} p ON l.id = p.id WHERE l.label <> p.label)"
        )
    return (
        f"WITH {SUPPLIER_EDGES_CTE.strip()},\n"
        + ",\n".join(ctes)
        + f"\nSELECT id, label FROM l{rounds}"
    )

def _wl_sql(rounds: int) -> str:
    """Unrolled WL relabeling with sha256 (the one 256-bit hash both Spark
    and DuckDB expose with identical hex output). Seed label = undirected
    distinct-neighbor degree as a string; per round each vertex's new label
    is sha256(old || '|' || sha256(sorted neighbor labels joined by ','))."""
    ctes = [
        "w0 AS MATERIALIZED (SELECT CAST(n.n_nationkey AS BIGINT) AS id, "
        "CAST(COALESCE(d.c, 0) AS VARCHAR) AS label "
        "FROM nation n LEFT JOIN (SELECT src, COUNT(DISTINCT dst) AS c "
        "FROM nation_sym GROUP BY src) d ON n.n_nationkey = d.src)"
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"w{i} AS MATERIALIZED (SELECT l.id, "
            "CASE WHEN m.agg IS NULL THEN l.label "
            "ELSE sha256(l.label || '|' || m.agg) END AS label "
            f"FROM w{p} l LEFT JOIN ("
            "SELECT e.src AS id, "
            "sha256(array_to_string(list_sort(list(x.label)), ',')) AS agg "
            f"FROM nation_sym e JOIN w{p} x ON e.dst = x.id "
            "GROUP BY e.src) m ON l.id = m.id)"
        )
    return (
        f"WITH {NATION_EDGES_CTE.strip()},\n"
        + ",\n".join(ctes)
        + "\nSELECT sha256(array_to_string(list_sort(list(label)), ',')) "
        f"AS graph_hash FROM w{rounds}"
    )

# ---------------------------------------------------------------------------
# M0 — core data model views
# ---------------------------------------------------------------------------
@query(
    "degrees",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()},
deg AS (
    SELECT src AS id, COUNT(DISTINCT dst) AS degree
    FROM supplier_sym GROUP BY src
)
SELECT s.s_suppkey AS id, CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree
FROM supplier s LEFT JOIN deg ON s.s_suppkey = deg.id
""",
)
def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected degrees (distinct neighbors) on the supplier co-occurrence
    graph; isolated suppliers included with degree 0."""
    g = _supplier_cooc_graph(spark, sf_dir)
    return g.degrees.select(ID, F.col(DEGREE).cast("long").alias(DEGREE))

@query(
    "out_degrees",
    oracle=f"""
WITH {BIPARTITE_EDGES_CTE.strip()}
SELECT src AS id, COUNT(*) AS out_degree
FROM bipartite_edges GROUP BY src
""",
)
def q_out_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _cust_supp_graph(spark, sf_dir)
    return g.out_degrees

@query(
    "in_degrees",
    oracle=f"""
WITH {BIPARTITE_EDGES_CTE.strip()}
SELECT dst AS id, COUNT(*) AS in_degree
FROM bipartite_edges GROUP BY dst
""",
)
def q_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _cust_supp_graph(spark, sf_dir)
    return g.in_degrees

@query(
    "adjacency",
    oracle=f"""
WITH {NATION_EDGES_CTE.strip()},
adj AS (
    SELECT src AS id,
           array_to_string(list_sort(list(DISTINCT dst)), ',') AS adjacent
    FROM nation_sym GROUP BY src
)
SELECT CAST(n.n_nationkey AS BIGINT) AS id,
       COALESCE(adj.adjacent, '') AS adjacent
FROM nation n LEFT JOIN adj ON n.n_nationkey = adj.id
""",
)
def q_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency lists serialized to comma-joined strings: the driver's
    pandas canonicalizer cannot factorize array columns, so both sides
    emit scalar strings (sorted, deterministic)."""
    g = nation_graph(spark, sf_dir)
    return g.adjacency.select(
        ID,
        F.array_join(F.col(ADJ).cast("array<string>"), ",").alias(ADJ),
    )

@query(
    "triplets",
    oracle=f"""
WITH {NATION_EDGES_CTE.strip()}
SELECT e.src, e.dst, a.n_name AS src_name, b.n_name AS dst_name
FROM nation_edges e
JOIN nation a ON e.src = a.n_nationkey
JOIN nation b ON e.dst = b.n_nationkey
""",
)
def q_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = nation_graph(spark, sf_dir)
    return g.triplets().select(
        "src",
        "dst",
        F.col("src_n_name").alias("src_name"),
        F.col("dst_n_name").alias("dst_name"),
    )

@query(
    "degree_topk",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()},
deg AS (
    SELECT src AS id, COUNT(DISTINCT dst) AS degree
    FROM supplier_sym GROUP BY src
)
SELECT id, CAST(degree AS BIGINT) AS degree
FROM deg ORDER BY degree DESC, id ASC LIMIT 20
""",
)
def q_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship M0 query: top-20 most-connected suppliers by co-occurrence
    degree. Deterministic tie-break on id."""
    g = _supplier_cooc_graph(spark, sf_dir)
    return (
        g.degrees.filter(F.col(DEGREE) > 0)
        .select(ID, F.col(DEGREE).cast("long").alias(DEGREE))
        .orderBy(F.desc(DEGREE), F.asc(ID))
        .limit(20)
    )

# ---------------------------------------------------------------------------
# M1 — one-shot operators: triangle count, similarity, datalog
# ---------------------------------------------------------------------------
@query(
    "triangle_count",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM supplier_edges e1
JOIN supplier_edges e2 ON e1.dst = e2.src
JOIN supplier_edges e3 ON e1.src = e3.src AND e2.dst = e3.dst
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the supplier co-occurrence graph (single-row count).
    Uses run(): the graph is dense but below the 1M-row batch bound
    (453,588 edge rows at sf0.1), so ``auto`` counts it with the numpy
    driver kernel from one Arrow fetch."""
    # shared per-application census (_shared_triangle_count, bench family
    # "supplier_triangles"): transitivity needs the identical count
    from pyspark_graph_spark.queries._shared import _shared_triangle_count

    n = _shared_triangle_count(spark, sf_dir)
    return spark.createDataFrame([(n,)], "n_triangles long")

@query(
    "jaccard",
    oracle=f"""
WITH {NATION_EDGES_CTE.strip()},
deg AS (
    SELECT src AS id, COUNT(DISTINCT dst) AS d FROM nation_sym GROUP BY src
),
common AS (
    SELECT a.src AS src, b.src AS dst, COUNT(*) AS common
    FROM nation_sym a
    JOIN nation_sym b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src
)
SELECT c.src, c.dst,
       c.common * 1.0 / (da.d + db.d - c.common) AS jaccard
FROM common c
JOIN deg da ON c.src = da.id
JOIN deg db ON c.dst = db.id
""",
)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard neighbor similarity on the nation graph (pairs sharing ≥1
    neighbor, canonical src<dst)."""
    g = nation_graph(spark, sf_dir)
    return JaccardSimilarity().run(g)

@query(
    "overlap",
    oracle=f"""
WITH {NATION_EDGES_CTE.strip()},
deg AS (
    SELECT src AS id, COUNT(DISTINCT dst) AS d FROM nation_sym GROUP BY src
),
common AS (
    SELECT a.src AS src, b.src AS dst, COUNT(*) AS common
    FROM nation_sym a
    JOIN nation_sym b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src
)
SELECT c.src, c.dst,
       c.common * 1.0 / LEAST(da.d, db.d) AS overlap
FROM common c
JOIN deg da ON c.src = da.id
JOIN deg db ON c.dst = db.id
""",
)
def q_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = nation_graph(spark, sf_dir)
    return OverlapCoefficient().run(g)

@query(
    "jaccard_suppliers",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()},
deg AS (
    SELECT src AS id, COUNT(DISTINCT dst) AS d FROM supplier_sym GROUP BY src
),
common AS (
    SELECT a.src AS src, b.src AS dst, COUNT(*) AS common
    FROM supplier_sym a
    JOIN supplier_sym b ON a.dst = b.dst AND a.src < b.src
    GROUP BY a.src, b.src
)
SELECT c.src, c.dst,
       c.common * 1.0 / (da.d + db.d - c.common) AS jaccard
FROM common c
JOIN deg da ON c.src = da.id
JOIN deg db ON c.dst = db.id
WHERE c.common * 1.0 / (da.d + db.d - c.common) >= 0.5
""",
)
def q_jaccard_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard at supplier-graph scale with a similarity threshold."""
    g = _supplier_cooc_graph(spark, sf_dir)
    return JaccardSimilarity(min_similarity=0.5).run(g)

@query(
    "datalog_non_adjacent",
    oracle=f"""
WITH {BIPARTITE_EDGES_CTE.strip()}
SELECT c.c_custkey * 2 AS a, s.s_suppkey * 2 + 1 AS b
FROM customer c
JOIN supplier s ON c.c_nationkey = s.s_nationkey
WHERE NOT EXISTS (
    SELECT 1 FROM bipartite_edges e
    WHERE e.src = c.c_custkey * 2 AND e.dst = s.s_suppkey * 2 + 1
)
""",
)
def q_datalog_non_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog with negation: same-nation (customer, supplier) pairs where
    the customer never bought from the supplier."""
    g = _cust_supp_graph(spark, sf_dir)
    q = DatalogQuery(
        projection=["a", "b"],
        premises=[
            Vertex("a", F.col("kind") == "customer", nk="nationkey"),
            Vertex("b", F.col("kind") == "supplier", nk="nationkey"),
        ],
        negated_premises=[Edge("a", "b")],
    )
    return q.apply(g)

@query(
    "datalog_triangles",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()}
SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
FROM supplier_edges e1
JOIN supplier_edges e2 ON e1.dst = e2.src
JOIN supplier_edges e3 ON e1.src = e3.src AND e2.dst = e3.dst
JOIN supplier s ON s.s_suppkey = e1.src
WHERE s.s_nationkey < 13
""",
)
def q_datalog_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog motif: triangles whose lowest vertex is a sub-13-nation
    supplier (vertex condition + 3 edge premises)."""
    g = _supplier_cooc_graph(spark, sf_dir)
    q = DatalogQuery(
        projection=["a", "b", "c"],
        premises=[
            Vertex("a", F.col("s_nationkey") < 13),
            Edge("a", "b"),
            Edge("b", "c"),
            Edge("a", "c"),
        ],
    )
    return q.apply(g)

@query("connected_components", oracle=_CC_ORACLE)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly connected components of the customer-supplier graph via the
    O(log n)-round alternating large-star/small-star algorithm."""
    from pyspark_graph_spark.operators import AlternatingConnectedComponents

    g = _cust_supp_graph(spark, sf_dir)
    return AlternatingConnectedComponents().run(g)

@query("connected_components_pregel", oracle=_CC_ORACLE)
def q_connected_components_pregel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via Pregel min-label propagation (diameter-bound rounds)."""
    from pyspark_graph_spark.operators import ConnectedComponents

    g = _cust_supp_graph(spark, sf_dir)
    return ConnectedComponents(max_iterations=30).run(g)

@query(
    "bfs",
    oracle=f"""
WITH {BIPARTITE_EDGES_CTE.strip()}
SELECT CAST(2 AS BIGINT) AS start_id, e.dst AS end_id,
       '2,' || CAST(e.dst AS VARCHAR) AS vertices
FROM bipartite_edges e WHERE e.src = 2
""",
)
def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS from customer #1 to any supplier. Path vertex arrays are
    serialized to comma-joined strings (the driver's pandas canonicalizer
    cannot factorize array columns); edge-id arrays projected out."""
    from pyspark_graph_spark.operators import BreadthFirstSearch

    g = _cust_supp_graph(spark, sf_dir)
    bfs = BreadthFirstSearch(
        (F.col("kind") == "customer") & (F.col(ID) == 2),
        F.col("kind") == "supplier",
    )
    return bfs.run(g).select(
        F.col("start").alias("start_id"),
        F.col("end").alias("end_id"),
        F.array_join(F.col("vertices").cast("array<string>"), ",").alias(
            "vertices"
        ),
    )

@query(
    "aggregate_messages",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()}
SELECT e.src AS id, CAST(SUM(sup.s_nationkey) AS BIGINT) AS msg
FROM supplier_sym e JOIN supplier sup ON sup.s_suppkey = e.dst
GROUP BY e.src
""",
)
def q_aggregate_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of triplet messaging: per supplier, the sum of its
    co-occurrence neighbors' nation keys."""
    from pyspark_graph_spark.operators import AggregateMessages

    g = _supplier_cooc_graph(spark, sf_dir)
    am = AggregateMessages(
        agg=F.sum("msg").cast("long"),
        to_dst=F.col("src_s_nationkey"),
        to_src=F.col("dst_s_nationkey"),
    )
    return am.run(g)

@query("label_propagation", oracle=_lpa_sql(rounds=5))
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LPA, exact-oracled: the frontier semantics (changed
    vertices message; mode with smallest-label ties; silent vertices keep
    state) are unrolled round-for-round in SQL."""
    from pyspark_graph_spark.operators import LabelPropagation

    g = _supplier_cooc_graph(spark, sf_dir)
    return LabelPropagation(max_iterations=5).run(g)

@query("wl_kernel", oracle=_wl_sql(rounds=3))
def q_wl_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WL graph hash with sha256 as the pluggable hashfunc (cross-engine;
    the operator's default stays sha1). The oracle replays all 3 relabeling
    rounds and the final multiset hash in SQL — any divergence in sorting,
    concatenation, or messaging breaks the single output value."""
    from pyspark_graph_spark.operators import WLKernel

    g = nation_graph(spark, sf_dir)
    h = WLKernel(hashfunc=lambda c: F.sha2(c, 256)).run(g)
    return spark.createDataFrame([(h,)], "graph_hash string")

# ---------------------------------------------------------------------------
# M3 — shortest paths (landmarks) and Katz index
# ---------------------------------------------------------------------------
@query(
    "shortest_paths",
    oracle=f"""
WITH RECURSIVE {BIPARTITE_EDGES_CTE.strip()},
bipartite_sym AS (
    SELECT src, dst FROM bipartite_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM bipartite_edges
),
lm(id) AS (
    SELECT CAST(2 AS BIGINT) UNION ALL SELECT 3 UNION ALL SELECT 5
),
walk(id, landmark, d) AS (
    SELECT id, id, 0 FROM lm
    UNION
    SELECT e.src, walk.landmark, walk.d + 1
    FROM walk JOIN bipartite_sym e ON e.dst = walk.id
    WHERE walk.d < 15
)
SELECT id, landmark, CAST(MIN(d) AS INTEGER) AS distance
FROM walk GROUP BY id, landmark
""",
)
def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distances from every vertex to landmarks {customer #1,
    supplier #1, supplier #2} on the undirected customer-supplier graph,
    exploded to (id, landmark, distance) rows."""
    from pyspark_graph_spark.operators import ShortestPaths

    g = _cust_supp_graph(spark, sf_dir, directed=False)
    return ShortestPaths([2, 3, 5], max_iterations=15).run_exploded(g)

@query(
    "katz",
    oracle=f"""
WITH RECURSIVE {NATION_EDGES_CTE.strip()},
walks(src, dst, k) AS (
    SELECT src, dst, 1 FROM nation_sym
    UNION ALL
    SELECT w.src, e.dst, w.k + 1
    FROM walks w JOIN nation_sym e ON w.dst = e.src
    WHERE w.k < 3
)
SELECT src, dst, SUM(POWER(0.125, k)) AS katz_index
FROM walks GROUP BY src, dst
""",
)
def q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz index (beta=1/8, K=3) on the nation graph. Dyadic
    beta makes every partial sum exact, so values are bit-comparable."""
    from pyspark_graph_spark.operators import KatzIndex

    g = nation_graph(spark, sf_dir)
    return KatzIndex(beta=0.125, max_iterations=3).run(g)

# ---------------------------------------------------------------------------
# Graph utilities: summary, bipartite projection, containment, weighted SP
# ---------------------------------------------------------------------------
@query(
    "graph_summary",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()},
deg AS (
    SELECT s.s_suppkey AS id,
           (SELECT COUNT(DISTINCT dst) FROM supplier_sym y WHERE y.src = s.s_suppkey) AS d
    FROM supplier s
)
SELECT (SELECT COUNT(*) FROM supplier) AS n_vertices,
       (SELECT COUNT(*) FROM supplier_edges) AS n_edges,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       AVG(d) AS avg_degree
FROM deg
""",
)
def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary of the supplier co-occurrence graph."""
    from pyspark_graph_spark.operators import graph_summary

    return graph_summary(_supplier_cooc_graph(spark, sf_dir))

@query(
    "motif_find",
    oracle=f"""
WITH {BIPARTITE_EDGES_CTE.strip()}
SELECT a.src AS c1, b.src AS c2, a.dst AS s
FROM bipartite_edges a
JOIN bipartite_edges b ON a.dst = b.dst AND a.src < b.src
JOIN supplier sup
  ON sup.s_suppkey * 2 + 1 = a.dst AND sup.s_nationkey = 0
""",
)
def q_motif_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphFrames-style motif string on the bipartite graph: customer
    pairs sharing a nation-0 supplier. The selective vertex predicate
    rides in via vertex_filters so each edge leg is semi-joined down to
    nation-0 suppliers BEFORE the wedge self-join enumerates pairs (a
    post-find filter would sit above the join: Catalyst pushes it into
    the vertex scan but not below the motif's self-join). Cross-variable
    predicates (c1.id < c2.id) stay post-find by necessity."""
    from pyspark_graph_spark.motif import find

    g = _cust_supp_graph(spark, sf_dir)
    out = find(
        g,
        "(c1)-[]->(s); (c2)-[]->(s)",
        vertex_filters={
            "s": (F.col("kind") == "supplier") & (F.col("nationkey") == 0)
        },
    ).filter(F.col("c1.id") < F.col("c2.id"))
    return out.select(
        F.col("c1.id").alias("c1"),
        F.col("c2.id").alias("c2"),
        F.col("s.id").alias("s"),
    )

@query(
    "adamic_adar",
    oracle="""
WITH bulk AS (
    SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_quantity >= 48
),
deg AS (SELECT dst, COUNT(*) AS d FROM bulk GROUP BY dst),
pairs AS (
    SELECT a.src AS u, b.src AS v, a.dst AS shared
    FROM bulk a JOIN bulk b ON a.dst = b.dst AND a.src < b.src
)
SELECT u, v, COUNT(*) AS n_common,
       ROUND(SUM(1.0 / ln(deg.d)), 6) AS adamic_adar
FROM pairs JOIN deg ON pairs.shared = deg.dst
GROUP BY u, v
""",
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the bulk-order bipartite graph: Adamic-Adar
    affinity between customer pairs, Σ 1/ln(deg(s)) over shared suppliers
    (rarely-shared suppliers weigh more). Same selective-predicate scale
    story as two_hop_counts: the quantity filter pushes into the parquet
    scan and keeps the pair expansion off the Θ(V²) regime; shared
    suppliers always have deg >= 2, so ln never hits zero."""
    from pyspark_graph_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
    )
    e = (
        orders.join(li, on=orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        on=[F.col("a.dst") == F.col("b.dst"), F.col("a.src") < F.col("b.src")],
    ).select(
        F.col("a.src").alias("u"),
        F.col("b.src").alias("v"),
        F.col("a.dst").alias("shared"),
    )
    return (
        pairs.join(deg, on=F.col("shared") == F.col("dst"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log("d")), 6).alias("adamic_adar"),
        )
    )

# ---------------------------------------------------------------------------
# Subgraph induction + global transitivity (graph.py, triangle_count.py)
# ---------------------------------------------------------------------------
@query(
    "induced_subgraph",
    oracle=f"""
WITH {BIPARTITE_EDGES_CTE.strip()},
keep AS (
    SELECT CAST(c_custkey * 2 AS BIGINT) AS id, c_nationkey AS nk FROM customer
    UNION ALL
    SELECT CAST(s_suppkey * 2 + 1 AS BIGINT) AS id, s_nationkey AS nk FROM supplier
),
kept AS (SELECT id FROM keep WHERE nk < 12),
induced AS (
    SELECT e.src, e.dst FROM bipartite_edges e
    JOIN kept a ON e.src = a.id
    JOIN kept b ON e.dst = b.id
)
SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS out_degree
FROM induced GROUP BY src
""",
)
def q_induced_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-induced subgraph (GraphFrames filterVertices semantics):
    restrict the bipartite graph to nations 0-11 and report the surviving
    out-degrees. Induction is two semi-joins of the edge list against the
    projected survivor-id column — AQE broadcasts it when small."""

    g = _cust_supp_graph(spark, sf_dir)
    sub = g.filter_vertices(F.col("nationkey") < 12)
    return sub.out_degrees

@query(
    "transitive_closure",
    oracle=f"""
WITH RECURSIVE {NATION_EDGES_CTE.strip()},
r(src, dst) AS (
    SELECT src, dst FROM nation_edges
    UNION
    SELECT r.src, e.dst FROM r JOIN nation_edges e ON e.src = r.dst
)
SELECT src, dst FROM r WHERE src <> dst
""",
)
def q_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive datalog (semi-naive fixpoint): the full reachability
    closure R(x,z) :- E(x,z) | R(x,y),E(y,z) of the canonical nation DAG.
    Each round joins only the new delta against the edge list and
    anti-joins the known closure — work per round tracks NEW facts. The
    reference's datalog is non-recursive; this is the fixpoint operator
    on the same premise algebra."""
    from pyspark_graph_spark.datalog import TransitiveClosure

    g = nation_graph(spark, sf_dir)
    # nation_graph is undirected-symmetric; closure over the canonical
    # DAG orientation (src < dst) keeps the result finite and acyclic
    canon = Graph(
        g.vertices,
        g.edges.filter(F.col(SRC) < F.col(DST)),
        directed=True,
        indexed=True,
    )
    return TransitiveClosure(max_iterations=10).apply(canon)

# ---------------------------------------------------------------------------
# Round 5 (cont.): dedicated gate entries for SURVEY §2.5 / §2.7
# ---------------------------------------------------------------------------
# with_vertex_column and multiple_union were the last two §2 items with
# only unit-test coverage; these queries give each a driver-checkable
# oracle path through the real Graph API.
@query(
    "vertex_annotation",
    oracle=f"""
WITH {SUPPLIER_EDGES_CTE.strip()}
SELECT CAST(src % 2 AS BIGINT) AS src_parity,
       CAST(dst % 2 AS BIGINT) AS dst_parity,
       COUNT(*) AS n_edges
FROM supplier_edges GROUP BY 1, 2
""",
)
def q_vertex_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.5 through the public API: ``Graph.with_vertex_column``
    annotates supplier vertices with a computed parity column, then
    ``triplets`` (§2.4) carries the annotation onto both edge endpoints
    and the edges are counted per (src_parity, dst_parity) mixing cell.
    The triplet join projects vertices to (id, parity) before the two
    id-equi-joins, so the attribute attach stays broadcast-sized."""
    from pyspark_graph_spark.sources.tables import (
        supplier_co_occurrence_graph,
    )

    g = _supplier_cooc_graph(spark, sf_dir)
    annotated = Graph(
        g.vertices.select(ID),
        g.edges,
        directed=g.directed,
        indexed=True,
    ).with_vertex_column("parity", (F.col(ID) % 2).cast("long"))
    t = annotated.triplets()
    return t.groupBy(
        F.col("src_parity"), F.col("dst_parity")
    ).agg(F.count(F.lit(1)).alias("n_edges"))

@query(
    "party_union",
    oracle="""
WITH parties AS (
    SELECT c_custkey AS key, 'customer' AS kind,
           CAST(c_nationkey AS INT) AS nationkey, c_acctbal AS acctbal
    FROM customer
    UNION ALL
    SELECT s_suppkey AS key, 'supplier' AS kind,
           CAST(s_nationkey AS INT) AS nationkey, s_acctbal AS acctbal
    FROM supplier
)
SELECT kind, nationkey, COUNT(*) AS n_parties,
       CAST(SUM(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM parties GROUP BY 1, 2
""",
)
def q_party_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 through the public API: ``multiple_union`` merges
    customer and supplier projections whose column ORDERS deliberately
    differ — the by-name contract is the point (the reference's
    positional union would silently mis-align them). Account balances
    sum in DECIMAL so both engines agree bit-for-bit."""
    from pyspark_graph_spark.sources.tables import load_table
    from pyspark_graph_spark.util import multiple_union

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.lit("customer").alias("kind"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_suppkey").alias("key"),
        F.lit("supplier").alias("kind"),
    )
    u = multiple_union([c, s])
    return u.groupBy("kind", "nationkey").agg(
        F.count(F.lit(1)).alias("n_parties"),
        F.sum(F.col("acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_acctbal"),
    )
