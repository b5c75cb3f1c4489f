"""The workloads: what each runs, how it is timed and how it is checked.

A workload runs *passes*. A pass is a fixed sequence of operations (calls
into the program). Each operation is timed alone; its output is checked
against an oracle outside the timed region. An operation fails when it
raises, when its output differs from the oracle, or when it ran on another
code path than the one the workload exists to measure. ``run.py`` repeats
passes until the measured time reaches ``--seconds``.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracles

ID_BITS = 20  # every workload's ids fit in 20 bits (scale <= 20)
MAX_DEGREE = 256  # Jaccard hub cap: uncapped, hub fan-out squares the pairs


@dataclass
class Op:
    """One operation as its user sees it: a request, or a whole batch job."""

    seconds: float
    edges: int  # input edge rows x calls into the program


@dataclass
class Pass:
    """The operations that completed in one pass."""

    ops: list[Op]
    steal: float = 0.0  # share of the host's CPU time the hypervisor took

    @property
    def seconds(self) -> float:
        return sum(op.seconds for op in self.ops)

    @property
    def ops_per_s(self) -> float:
        return len(self.ops) / self.seconds

    @property
    def edges_per_s(self) -> float:
        return sum(op.edges for op in self.ops) / self.seconds


@dataclass
class Outcome:
    """Everything a workload measured in its window."""

    passes: list[Pass] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    paths: dict = field(default_factory=dict)

    def add_pass(self, ops: list[Op]) -> None:
        if ops:
            self.passes.append(Pass(ops))

    def check(self, label: str, fn) -> None:
        """Count one operation; ``fn`` returns None when its output is right,
        else what is wrong."""
        self.attempted += 1
        try:
            problem = fn()
        except Exception:  # noqa: BLE001 — any failure is a failed operation
            problem = traceback.format_exc(limit=3)
        if problem:
            self.failures.append(f"{label}: {problem}")


def _cached(path: str, compute) -> dict:
    """The dict of arrays ``compute()`` returns, saved at ``path`` (an
    ``.npz``) on first use and read from there afterwards."""
    if os.path.exists(path):
        with np.load(path) as z:
            return {k: z[k] for k in z.files}
    out = compute()
    tmp = path + ".tmp.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _per_vertex(pdf, col: str, keys: np.ndarray) -> np.ndarray:
    """``pdf[col]`` ordered like ``keys``; exactly one row per key required."""
    ids = pdf["id"].to_numpy()
    order = np.argsort(keys, kind="stable")
    pos = np.minimum(np.searchsorted(keys[order], ids), len(keys) - 1)
    if not np.array_equal(keys[order][pos], ids):
        raise AssertionError("output holds ids that are not vertices")
    pos = order[pos]
    if len(pos) != len(keys) or len(np.unique(pos)) != len(keys):
        raise AssertionError(f"{len(pos)} rows for {len(keys)} vertices")
    got = np.empty(len(keys), dtype=pdf[col].dtype)
    got[pos] = pdf[col].to_numpy()
    return got


def _differs(got: np.ndarray, want: np.ndarray, exact: bool = True) -> str | None:
    same = np.array_equal(got, want) if exact else np.allclose(got, want, rtol=1e-9, atol=1e-12)
    return None if same else "output differs from the oracle"


def _digest_differs(got: tuple, want: tuple) -> str | None:
    """Jaccard digests: (pairs, sum of jaccard, id checksum)."""
    close = abs(got[1] - want[1]) <= 1e-9 * max(1.0, abs(want[1]))
    if got[0] == want[0] and got[2] == want[2] and close:
        return None
    return f"digest {got} != oracle {want}"


class Workload:
    name = ""  # as in BENCHMARK.json, which also says why each was chosen
    CORES = 0  # Spark task slots (local[N]); 0: every core this process may use
    DRIVER_MEM = "2g"  # heap of the Spark driver JVM

    def __init__(self, cache_dir: str, seed: int) -> None:
        self.cache_dir = cache_dir
        self.seed = seed

    def generate(self) -> None:
        """Write the parquet inputs (untimed)."""

    def load(self, spark) -> None:
        """Read the inputs into the session (part of set-up)."""

    def compute_oracles(self) -> None:
        """Expected outputs (untimed)."""

    def warm_up(self, spark, rec) -> None:
        """Untimed, unchecked run of the same code paths, so JIT and code
        generation finish before timing."""

    def run_pass(self, spark, rec, out: Outcome) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------------------


class PowerlawBsp(Workload):
    """One R-MAT graph above every batch bound, so the BSP loops run.

    The edge table holds each undirected edge in both orientations: ~1.05M
    rows, just above the 1M-row bounds of PageRank (edges + vertices) and
    alternating connected components (edges).
    """

    name = "powerlaw-bsp"
    SIZE = gen.GraphSize(16, 580_000)
    WARM = gen.GraphSize(8, 1_500)
    # iteration counts sized so one pass fits the per-run time budget
    PR_ITERATIONS = 5
    LP_ROUNDS = 2

    def generate(self) -> None:
        self.path = gen.cached_graph(self.cache_dir, self.name, self.seed, self.SIZE, True)
        self.warm_path = gen.cached_graph(
            self.cache_dir, self.name + "-warm", self.seed, self.WARM, True
        )

    def _read(self, spark, path: str):
        v = spark.read.parquet(os.path.join(path, "vertices.parquet"))
        return v, spark.read.parquet(os.path.join(path, "edges.parquet"))

    def load(self, spark) -> None:
        # not persisted: reading the files is part of the timed index
        self.v, self.e = self._read(spark, self.path)
        self.n_vertices, self.n_edges = self.v.count(), self.e.count()

    def compute_oracles(self) -> None:
        a = gen.read_graph(self.path)
        self.ids = a["ids"]  # == arange(n): each raw id is its own position
        self.src, self.dst = a["src"], a["dst"]
        n, canon = len(self.ids), self.src < self.dst
        want = _cached(
            os.path.join(self.path, f"oracle-pr{self.PR_ITERATIONS}.npz"),
            lambda: {
                "out_degree": oracles.out_degrees(self.ids, self.src, self.dst),
                "pr": oracles.pagerank(n, self.src, self.dst, iterations=self.PR_ITERATIONS),
                "comp": oracles.component_index(n, self.src[canon], self.dst[canon]),
            },
        )
        self.out_degree, self.pr, self.comp = want["out_degree"], want["pr"], want["comp"]
        self.lp_cache = os.path.join(self.path, f"oracle-lp{self.LP_ROUNDS}.npz")

    def _pass(self, rec, v, e, out: Outcome | None, warm: bool = False):
        """Time every operation of one pass; returns the indexed frames and
        ``{layer: (operator, result)}`` for the operations that completed."""
        from pyspark.sql import functions as F

        from pyspark_graph_spark.graph import Graph
        from pyspark_graph_spark.operators.connected_components import (
            AlternatingConnectedComponents,
        )
        from pyspark_graph_spark.operators.label_propagation import LabelPropagation
        from pyspark_graph_spark.operators.pagerank import PageRank

        with rec.span("graph.index", warm_up=warm) as s:
            g = Graph(v, e, directed=True, indexed=False)
            gv, ge = g.vertices.persist(), g.edges.persist()
            gv.count(), ge.count()
        g = Graph(gv, ge, directed=True, indexed=True)
        # label propagation messages both ways along every edge, so it runs
        # on the undirected view that holds each edge once
        undirected = Graph(
            gv, ge.filter(F.col("old_src") < F.col("old_dst")), directed=False, indexed=True
        )
        if warm:  # the small warm-up graph takes the distributed paths too
            pr = PageRank(max_iterations=1, batch_finish=0)
            cc = AlternatingConnectedComponents(
                max_iterations=2, batch_finish=0, require_convergence=False
            )
            lp = LabelPropagation(max_iterations=1)
        else:
            pr = PageRank(max_iterations=self.PR_ITERATIONS)
            cc = AlternatingConnectedComponents()
            lp = LabelPropagation(max_iterations=self.LP_ROUNDS)
        spans = [s]
        results = {}
        for layer, op, graph in (
            ("graph.degrees", None, g),
            ("operators.pagerank", pr, g),
            ("operators.connected_components", cc, g),
            ("operators.label_propagation", lp, undirected),
        ):
            try:
                with rec.span(layer, warm_up=warm) as s:
                    df = graph.degrees if op is None else op.run(graph)
                    _noop(df)
            except Exception:  # noqa: BLE001
                if out is None:
                    raise
                out.check(layer, traceback.format_exc)
                continue
            spans.append(s)
            results[layer] = (op, df)
        if out is not None:
            # the pipeline is one batch job: a user waits for all of it
            job_s = sum(s["time_s"] for s in spans)
            out.add_pass([Op(job_s, self.n_edges * len(spans))])
        return gv, ge, results

    def warm_up(self, spark, rec) -> None:
        gv, ge, _ = self._pass(rec, *self._read(spark, self.warm_path), None, warm=True)
        gv.unpersist(), ge.unpersist()

    def run_pass(self, spark, rec, out: Outcome) -> None:
        from pyspark.sql import functions as F

        from pyspark_graph_spark.operators.pagerank import PageRank

        out.check("graph.index", lambda: None)  # checked through every output below
        gv, ge, results = self._pass(rec, self.v, self.e, out)

        # ---- checks, untimed. The oracles work on raw ids; the engine
        # hashed them, so look up each raw id's hashed id first.
        m = gv.select(F.col("old_id").alias("id"), F.col("id").alias("h")).toPandas()
        h = _per_vertex(m, "h", self.ids)
        distributed = self.n_edges + self.n_vertices > PageRank().batch_finish
        out.paths["pagerank_distributed"] = distributed

        def pagerank():
            if not distributed:
                return "input fits the batch bound: the distributed plan did not run"
            return _differs(
                _per_vertex(results["operators.pagerank"][1].toPandas(), "pagerank", h),
                self.pr,
                exact=False,
            )

        def components():
            rounds = getattr(results["operators.connected_components"][0], "rounds_run", 0)
            out.paths["connected_components_rounds"] = rounds
            if rounds < 1:
                return "the distributed fixpoint did not run"
            got = _per_vertex(
                results["operators.connected_components"][1].toPandas(), "component", h
            )
            return _differs(got, oracles.min_label(self.comp, h))

        def label_propagation():
            # the replay needs the engine's hashed ids as labels, so it runs
            # after the first pass and is cached per seed
            canon = self.src < self.dst
            z = _cached(
                self.lp_cache,
                lambda: dict(
                    zip(
                        ("labels", "rounds"),
                        oracles.label_propagation(
                            h, self.src[canon], self.dst[canon], self.LP_ROUNDS
                        ),
                    )
                ),
            )
            want, rounds = z["labels"], int(z["rounds"])
            # LabelPropagation exposes no round count; the replay's equals
            # the engine's whenever the labels match
            out.paths["label_propagation_rounds"] = rounds
            got = _per_vertex(results["operators.label_propagation"][1].toPandas(), "label", h)
            return _differs(got, want)

        def degrees():
            # out-degrees: one row per vertex with an outgoing edge
            has_out = self.out_degree > 0
            got = results["graph.degrees"][1].toPandas()
            return _differs(_per_vertex(got, "degree", h[has_out]), self.out_degree[has_out])

        for layer, fn in (
            ("graph.degrees", degrees),
            ("operators.pagerank", pagerank),
            ("operators.connected_components", components),
            ("operators.label_propagation", label_propagation),
        ):
            if layer in results:
                out.check(layer, fn)
        gv.unpersist(), ge.unpersist()


# ---------------------------------------------------------------------------


class SmallGraphRequests(Workload):
    """Closed loop, one client: read a small graph, run one operator, return."""

    name = "small-graph-requests"
    SIZE = gen.GraphSize(10, 8_000)
    OPS = (
        "operators.pagerank",
        "operators.connected_components",
        "operators.triangle_count",
        "operators.similarity",
    )
    GRAPHS = 3  # coprime to len(OPS), so every pairing occurs
    # the first pass is cold; request times settle during the second
    WARM_PASSES = 2
    CORES = 2
    DRIVER_MEM = "1g"

    def generate(self) -> None:
        self.paths = [
            gen.cached_graph(self.cache_dir, self.name, self.seed * 1000 + k, self.SIZE, False)
            for k in range(self.GRAPHS)
        ]
        self.next = 0

    def compute_oracles(self) -> None:
        from pyspark_graph_spark.operators.pagerank import PageRank

        self.expect = []
        for p in self.paths:
            a = gen.read_graph(p)
            ids, src, dst = a["ids"], a["src"], a["dst"]
            want = _cached(os.path.join(p, "oracle.npz"), lambda: self._oracles(ids, src, dst))
            want["operators.triangle_count"] = int(want["operators.triangle_count"])
            pairs, jsum = want.pop("jaccard").tolist()
            want["operators.similarity"] = (int(pairs), jsum, int(want.pop("jaccard_key")))
            self.expect.append({"ids": ids, "edges": len(src), **want})
        # PageRank's batch kernel runs while symmetric edges + vertices fit
        rows = max(2 * e["edges"] + len(e["ids"]) for e in self.expect)
        self.pagerank_batch = rows <= PageRank().batch_finish

    @staticmethod
    def _oracles(ids, src, dst) -> dict:
        n = len(ids)
        sym_s, sym_d = np.concatenate([src, dst]), np.concatenate([dst, src])
        pairs, jsum, key = oracles.jaccard_digest(src, dst, MAX_DEGREE, ID_BITS)
        return {
            "operators.pagerank": oracles.pagerank(n, sym_s, sym_d),
            "operators.connected_components": oracles.min_label(
                oracles.component_index(n, src, dst), ids
            ),
            "operators.triangle_count": oracles.triangle_count(src, dst),
            # the key sum is an exact integer; kept apart from the float sum
            "jaccard": np.array([pairs, jsum]),
            "jaccard_key": np.int64(key),
        }

    def _request(self, spark, rec, k: int, layer: str, warm_up: bool = False):
        """One request; returns (latency_s, result, operator)."""
        from pyspark_graph_spark.graph import Graph
        from pyspark_graph_spark.operators.connected_components import (
            AlternatingConnectedComponents,
        )
        from pyspark_graph_spark.operators.pagerank import PageRank
        from pyspark_graph_spark.operators.similarity import JaccardSimilarity
        from pyspark_graph_spark.operators.triangle_count import TriangleCount

        make = {
            "operators.pagerank": PageRank,
            "operators.connected_components": AlternatingConnectedComponents,
            "operators.triangle_count": TriangleCount,
            "operators.similarity": lambda: JaccardSimilarity(max_degree=MAX_DEGREE),
        }
        t0 = time.perf_counter()
        p = self.paths[k]
        g = Graph(
            spark.read.parquet(os.path.join(p, "vertices.parquet")),
            spark.read.parquet(os.path.join(p, "edges.parquet")),
            directed=False,
            indexed=True,
        )
        op = make[layer]()
        with rec.span(layer, warm_up=warm_up, graph=k):
            res = op.run(g)
            if layer != "operators.triangle_count":
                res = res.toPandas()
        return time.perf_counter() - t0, res, op

    def warm_up(self, spark, rec) -> None:
        for j in range(self.WARM_PASSES * len(self.OPS)):
            layer = self.OPS[j % len(self.OPS)]
            self._request(spark, rec, j % self.GRAPHS, layer, warm_up=True)

    def _problem(self, k: int, layer: str, res, op) -> str | None:
        want = self.expect[k]
        if layer == "operators.triangle_count":
            return None if res == want[layer] else f"{res} != oracle {want[layer]}"
        if layer == "operators.similarity":
            s, d = res["src"].to_numpy(), res["dst"].to_numpy()
            got = (len(res), float(res["jaccard"].sum()), int(((s << ID_BITS) + d).sum()))
            return _digest_differs(got, want[layer])
        if layer == "operators.pagerank":
            if not self.pagerank_batch:
                return "input exceeds the batch bound: the batch kernel did not run"
            got = _per_vertex(res, "pagerank", want["ids"])
            return _differs(got, want[layer], exact=False)
        # the single-batch union-find path keeps no round count
        if hasattr(op, "rounds_run"):
            return "the distributed fixpoint ran instead of the batch union-find"
        return _differs(_per_vertex(res, "component", want["ids"]), want[layer])

    def run_pass(self, spark, rec, out: Outcome) -> None:
        ops = []
        for layer in self.OPS:
            k = self.next % self.GRAPHS
            self.next += 1
            try:
                lat, res, op = self._request(spark, rec, k, layer)
            except Exception:  # noqa: BLE001
                out.check(layer, traceback.format_exc)
                continue
            ops.append(Op(lat, self.expect[k]["edges"]))
            out.check(f"{layer} on graph {k}", lambda: self._problem(k, layer, res, op))
            if layer == "operators.connected_components":
                batch = out.paths.get("connected_components_batch", True)
                out.paths["connected_components_batch"] = batch and not hasattr(op, "rounds_run")
        out.add_pass(ops)
        out.paths["pagerank_batch"] = self.pagerank_batch


WORKLOADS = {w.name: w for w in (SmallGraphRequests, PowerlawBsp)}
