"""Minimum spanning forest — distributed Borůvka over DataFrames.

The reference has no MST operator (its graph surface stops at components /
paths / centrality; SURVEY.md §2), but a spanning forest is the canonical
"contract the graph in O(log V) rounds" algorithm and the natural companion
to :class:`AlternatingConnectedComponents` — same star-contraction machinery,
now weight-guided.

Algorithm (Borůvka 1926, the provably parallel MST):

1. every component picks its minimum incident cross-edge,
2. the picked edges are added to the forest and their endpoint components
   are contracted,
3. repeat until no cross-component edge remains.

Components at least halve per round, so rounds ≤ log2(V) regardless of
weights or topology.

Determinism: edges are compared by the total order ``(weight, src, dst)``
(canonical ``src < dst``), which makes every "minimum" unique — the result
is THE minimum spanning forest under that order (equivalently: the MSF of
perturbed-to-distinct weights), identical across runs, partitionings, and
engines. An external oracle can therefore replay it exactly via the cycle
rule: an edge belongs to the forest iff no path between its endpoints uses
only strictly smaller edges (min-max path closure; see the gate query).

Scale notes (100 TB design):

- The per-component minimum is a ``min(struct(weight, src, dst, ...))``
  hash aggregation — partial (map-side) aggregation absorbs hub skew, unlike
  a window rank which would sort each component's full incident edge list on
  one task.
- Contraction reuses the Kiveris star-contraction CC on the picked-edge
  graph, whose size is ≤ #components and shrinks geometrically.
- Each round shuffles the surviving edge list twice (component relabel on
  src and dst) — edges that became intra-component are dropped *before* the
  next round, so shuffled bytes shrink with the contraction.
- Per-round ``localCheckpoint`` truncates lineage exactly like the other
  iterative operators here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import checkpoint_observed, driver_finish
from pyspark_graph_spark.operators.connected_components import (
    COMPONENT,
    AlternatingConnectedComponents,
    _batch_union_find,
)

WEIGHT = "weight"


def _batch_kruskal(pdf):
    """Exact MSF of one bounded edge batch by Kruskal over the
    (weight, src, dst) total order. Distinct total order => the MSF is
    UNIQUE, so this equals the Borůvka fixpoint edge-for-edge (pinned by
    test) — the same provably-identical bounded-batch-finish contract as
    the union-find contraction."""
    import pandas as pd

    pdf = pdf.sort_values([WEIGHT, SRC, DST])
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for s, d, w in zip(pdf[SRC], pdf[DST], pdf[WEIGHT]):
        s, d = int(s), int(d)
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
            out.append((s, d, w))
    return pd.DataFrame(out, columns=[SRC, DST, WEIGHT])


def _kruskal_raw(pdf):
    """``_batch_kruskal`` over raw (src, dst, weight) rows, canonicalised as
    ``run`` does in Spark: (least, greatest) endpoints, loops dropped (a
    null endpoint makes one), the lightest copy of each pair kept —
    Kruskal meets it first, so the heavier copies are rejected as cycles.
    None on a null weight, which the distributed minima skip."""
    import numpy as np

    if pdf[WEIGHT].isna().any():
        return None
    pdf = pdf.dropna(subset=[SRC, DST])
    s = pdf[SRC].to_numpy(dtype=np.int64)
    d = pdf[DST].to_numpy(dtype=np.int64)
    pdf = pdf.assign(**{SRC: np.minimum(s, d), DST: np.maximum(s, d)})
    return _batch_kruskal(pdf[s != d])


class BoruvkaMST:
    """Minimum spanning forest of an undirected weighted graph.

    ``run`` returns the forest's edge list ``(src, dst, weight)`` in
    canonical ``src < dst`` orientation. Vertices with no incident edges
    contribute no rows (a forest has no edges there). Parallel edges are
    collapsed to their minimum weight; self-loops are dropped.
    """

    def __init__(
        self,
        weight: str = WEIGHT,
        max_iterations: int = 20,
        batch_cc: int = 1_000_000,
    ):
        self.weight = weight
        self.max_iterations = max_iterations
        # the contraction graph has <= #components rows (halving per
        # round); once it fits this bound, label it with a union-find in
        # the driver (one Arrow fetch) instead of a full AlternatingCC
        # fixpoint (each inner CC run is itself O(log n) rounds of fixed-
        # overhead jobs — the dominant cost of Boruvka at gate scale,
        # same adjudicated bounded-batch-finish contract as matching/MIS/
        # multilevel partition). 1M rows x 16 B ≈ 16 MB in the driver.
        # 0 disables (pure distributed contraction — the asymptotic path
        # for the first rounds of a billion-vertex forest).
        self.batch_cc = batch_cc

    def _contract(self, cverts, cedges):
        """Component relabelling of one Borůvka round by the driver
        union-find, or None when the components exceed ``batch_cc``."""
        import numpy as np
        import pandas as pd

        if len(cverts) > self.batch_cc:
            return None
        c = cverts[ID].to_numpy(dtype=np.int64)
        ids, comp = _batch_union_find(
            np.concatenate([c, cedges[SRC].to_numpy(dtype=np.int64)]),
            np.concatenate([c, cedges[DST].to_numpy(dtype=np.int64)]),
        )
        return pd.DataFrame({ID: ids, COMPONENT: comp})

    def run(self, g: Graph) -> DataFrame:
        w = F.col(self.weight).alias(WEIGHT)
        raw = g.edges.select(SRC, DST, w)
        # the whole edge list fits the bound: the unique MSF in the driver
        # (Kruskal over the same total order) instead of log(V) rounds of
        # ~8 fixed-overhead jobs each — weight dtype is preserved from the
        # input schema
        out = driver_finish(
            self.batch_cc,
            _kruskal_raw,
            f"{SRC} long, {DST} long, {WEIGHT} {dict(raw.dtypes)[WEIGHT]}",
            raw,
        )
        if out is not None:
            return out
        edges = (
            raw.select(
                F.least(SRC, DST).alias(SRC),
                F.greatest(SRC, DST).alias(DST),
                WEIGHT,
            )
            .filter(F.col(SRC) != F.col(DST))
            .groupBy(SRC, DST)
            .agg(F.min(WEIGHT).alias(WEIGHT))
            .localCheckpoint()
        )

        # component label per edge-incident vertex (isolated vertices can
        # never gain a forest edge, so they are not tracked)
        comp = (
            edges.select(F.col(SRC).alias(ID))
            .unionByName(edges.select(F.col(DST).alias(ID)))
            .distinct()
            .withColumn(COMPONENT, F.col(ID))
            .localCheckpoint()
        )

        forest: DataFrame | None = None
        for _ in range(self.max_iterations):
            # emptiness probe rides the checkpoint job (round 12)
            live, ml = checkpoint_observed(
                edges.join(
                    comp.select(
                        F.col(ID).alias(SRC), F.col(COMPONENT).alias("__cs")
                    ),
                    on=SRC,
                )
                .join(
                    comp.select(
                        F.col(ID).alias(DST), F.col(COMPONENT).alias("__cd")
                    ),
                    on=DST,
                )
                .filter(F.col("__cs") != F.col("__cd")),
                __n=F.count(F.lit(1)),
            )
            if not ml["__n"]:
                break
            # next round never revisits intra-component edges
            edges = live.select(SRC, DST, WEIGHT)

            # minimum incident cross-edge per component: min over a struct
            # whose leading fields are the (weight, src, dst) total order —
            # a hash aggregate with map-side combine, skew-immune
            pick = F.struct(WEIGHT, SRC, DST, "__cs", "__cd").alias("__e")
            incident = live.select(F.col("__cs").alias("__c"), pick).unionByName(
                live.select(F.col("__cd").alias("__c"), pick)
            )
            chosen = (
                incident.groupBy("__c")
                .agg(F.min("__e").alias("__e"))
                .select("__e.*")
                # one edge may be the minimum of both its endpoints
                .distinct()
                .localCheckpoint()
            )

            picked = chosen.select(SRC, DST, WEIGHT)
            forest = (
                picked
                if forest is None
                else forest.unionByName(picked).localCheckpoint()
            )

            # contract: CC over the picked component-graph (≤ #components
            # edges, shrinking geometrically), then relabel
            cverts = comp.select(F.col(COMPONENT).alias(ID)).distinct()
            cedges = chosen.select(
                F.col("__cs").alias(SRC), F.col("__cd").alias(DST)
            )
            # union-find over (self-loops ∪ picked edges) in the driver
            # once the component graph fits: singleton components keep
            # their label via the self-loop, union-by-min makes every root
            # the component's min id (the same representative
            # AlternatingCC converges to); each component picks at most
            # one edge, so the fetch holds at most 2 x batch_cc rows
            mapping = driver_finish(
                2 * self.batch_cc,
                self._contract,
                f"{ID} long, {COMPONENT} long",
                cverts,
                cedges,
            )
            if mapping is None:
                cgraph = Graph(
                    cverts,
                    cedges,
                    directed=False,
                    indexed=True,
                )
                mapping = AlternatingConnectedComponents(
                    max_iterations=self.max_iterations
                ).run(cgraph)
            comp = (
                comp.join(
                    mapping.select(
                        F.col(ID).alias(COMPONENT),
                        F.col(COMPONENT).alias("__new"),
                    ),
                    on=COMPONENT,
                )
                .select(ID, F.col("__new").alias(COMPONENT))
                .localCheckpoint()
            )

        if forest is None:
            return g.edges.select(SRC, DST, w).limit(0)
        return forest
