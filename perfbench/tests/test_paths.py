"""Each workload stays on the code path it was chosen to measure.

``powerlaw-bsp`` must run the distributed fixpoints (alternating connected
components reports ``rounds_run >= 1``); ``small-graph-requests`` must take
the single-batch union-find and PageRank kernels. A change to a batch bound
that moves either workload onto the other path fails here. Each test runs
the benchmark end to end (about a minute each).
"""

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def _run(workload: str) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "11", "--seconds", "1"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_powerlaw_runs_the_distributed_iterative_paths():
    context, result = _run("powerlaw-bsp")
    assert result["correct"], context["failures"]
    paths = context["paths"]
    assert paths["connected_components_rounds"] >= 1
    assert paths["pagerank_distributed"]
    assert paths["label_propagation_rounds"] >= 1


def test_small_requests_take_the_batch_kernels():
    context, result = _run("small-graph-requests")
    assert result["correct"], context["failures"]
    assert context["paths"]["connected_components_batch"]
    assert context["paths"]["pagerank_batch"]
