"""Benchmark of ``pyspark_graph_spark`` on seeded R-MAT graph workloads.

Run from the repository root:

    python3 perfbench/run.py --workload powerlaw-bsp --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/workloads.py``):

- ``small-graph-requests``: a closed loop with one client; each request reads
  a small R-MAT graph, runs one operator of a round-robin mix (PageRank,
  alternating connected components, triangle count, capped Jaccard) and
  collects the answer. PageRank and components take their
  single-batch Arrow paths. Spark runs on two cores, which leaves the
  others to the Python driver and workers. Timing starts after two untimed
  passes of the mix.
- ``powerlaw-bsp``: index an R-MAT graph of ~1.05M directed edges, then
  degrees, PageRank, alternating connected components and label
  propagation, with PageRank and components on their distributed iterative
  paths. Timing starts after the same pass on a tiny graph.

End-to-end metrics (``--trace 0``), printed one per line and in the last
line's JSON object:

- ``setup_s``: process start to a warmed session with the inputs loaded,
  input generation excluded. One cold start per run.
- ``wall_s``: median time of one pass of the workload's operations (one
  request of each kind, or one run of the whole powerlaw pipeline).
- ``edges_per_s``: input edge rows x calls into the program, per second
  of a pass; the median over passes.
- ``latency_p50_ms`` / ``latency_tail_ms``: median and tail latency of one
  operation as its user sees it: a request, or the whole powerlaw batch
  job. The tail is
  the highest percentile with at least ten samples beyond it, or p90 when
  fewer than 21 samples leave no such percentile above the median; the
  percentile and the count beyond it are printed beside it.
- ``requests_per_s``: operations (requests or batch jobs) completed per
  second of a pass; the median over passes.
- ``peak_rss_mb``: summed ``VmHWM`` of the Spark JVM and its Python workers.
  The JVM heap is touched in full at start, so the figure moves with what
  a run adds beyond it: off-heap memory and the Python workers.

The error rate (failed / attempted, an operation fails if it raises or its
output differs from the oracle) is printed and carried by the ``attempted``
and ``failed`` keys. ``--trace 1`` runs the same workload with a Spark job
group per call and reports per-layer metrics instead (see ``trace.py``),
and writes every span to ``.perfbench/out/``.

``--steadiness N`` runs the workload N times with seeds 1..N in child
processes and prints each metric's median, quartiles and spread against the
bound in ``BENCHMARK.json``; with ``--trace 1`` it also runs N traced runs
and prints the tracing overhead on ``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TAIL_BEYOND = 10  # samples beyond the tail percentile


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, default=0, metavar="N")
    return ap.parse_args(argv)


def _environment(workload) -> int:
    """Point Spark, its workers and temp files into the checkout and size
    the driver JVM for ``workload``."""
    for d in ("cache", "out", "spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cores = str(workload.CORES or len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    # the whole heap is committed and touched at start, so the JVM's peak
    # RSS is the heap plus what the run adds off-heap, not a matter of when
    # G1 chose to grow the heap
    heap = workload.DRIVER_MEM
    java = f"-XX:-UsePerfData -Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cores,
            "SPARK_DRIVER_MEM": heap,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # no hsperfdata file in the system temp dir
            "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java)} pyspark-shell",
        }
    )
    return int(cores)


def _tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for sorted latencies.

    Below 2 x TAIL_BEYOND + 1 samples that percentile would sit at or under
    the median, so the tail falls back to p90, which is steadier than the
    maximum of a few samples.
    """
    n = len(lat)
    if n > 2 * TAIL_BEYOND:
        k = n - TAIL_BEYOND - 1
        return lat[k], 100.0 * (k + 1) / n, TAIL_BEYOND
    if n == 1:
        return lat[0], 100.0, 0
    p90 = statistics.quantiles(lat, n=10)[-1]
    return p90, 90.0, sum(x > p90 for x in lat)


def _stop(spark, started: list[int]) -> list[int]:
    """Stop Spark and its JVM; wait for every process this run started."""
    from pyspark import SparkContext

    from perfbench import host

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
    alive = host.wait_gone(started, timeout_s=30)
    for pid in alive:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    return host.wait_gone(alive, timeout_s=10)


def run_once(args, process_start: float) -> int:
    if not os.path.isfile(os.path.join(ROOT, "pyspark_graph_spark", "__init__.py")):
        print("pyspark_graph_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.trace import SpanRecorder
    from perfbench.workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = _environment(WORKLOADS[args.workload])
    sampler = host.HostSampler()
    from pyspark_graph_spark.session import get_spark

    setup_s = time.perf_counter() - process_start
    phases = {}
    wl = WORKLOADS[args.workload](os.path.join(WORK, "cache"), args.seed)
    t = time.perf_counter()
    wl.generate()
    phases["generate_s"] = time.perf_counter() - t

    rec = SpanRecorder(enabled=bool(args.trace), cores=cores)
    t0 = time.perf_counter()
    with rec.span("session.get_spark"):
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).selectExpr("sum(id)").collect()
    rec.sc = spark.sparkContext
    try:
        wl.load(spark)
        setup_s += time.perf_counter() - t0
        phases["setup_s"] = setup_s

        from pyspark.sql import functions as F

        t = time.perf_counter()
        spark.range(0, 2_000_000, 1, cores).select(
            F.sum(F.xxhash64("id") % 1000)
        ).collect()
        calibration_s = time.perf_counter() - t

        t = time.perf_counter()
        wl.compute_oracles()
        phases["oracles_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(spark, rec)
        phases["warm_up_s"] = time.perf_counter() - t

        out = Outcome()
        window_start = time.perf_counter()
        while True:
            ticks, done = host.cpu_ticks(), len(out.passes)
            try:
                wl.run_pass(spark, rec, out)
            except Exception as e:  # noqa: BLE001 — reported as a failure
                out.check("pass", lambda: f"{type(e).__name__}: {e}")
            if len(out.passes) > done:
                out.passes[-1].steal = host.steal_share(ticks)
            measured = sum(p.seconds for p in out.passes)
            # at least one pass; never run past the per-run time limit
            if measured >= args.seconds or time.perf_counter() - window_start > 90:
                break
        phases["window_s"] = time.perf_counter() - window_start
        started = host.descendants()
        rss_by_process = host.peak_rss_by_process(started)
    except BaseException:
        _stop(spark, host.descendants())
        raise
    t = time.perf_counter()
    leftover = _stop(spark, started)
    phases["stop_s"] = time.perf_counter() - t
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "host": sampler.stop(),
        "calibration_s": round(calibration_s, 4),
        "cores": cores,
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "paths": out.paths,
        "failures": out.failures[:5],
        "peak_rss_mb_by_process": {k: round(v, 1) for k, v in rss_by_process.items()},
        "processes_left": leftover,
    }
    if not out.passes:
        print(json.dumps(context), file=sys.stderr)
        print("no operation completed", file=sys.stderr)
        return 1

    wall_s = statistics.median(p.seconds for p in out.passes)
    lat = sorted(op.seconds for p in out.passes for op in p.ops)
    tail, pct, beyond = _tail(lat)
    context.update(
        {
            "pass_s": [round(p.seconds, 3) for p in out.passes],
            # share of the host's CPU time the hypervisor took in each pass
            "pass_steal": [round(p.steal, 4) for p in out.passes],
            "operations": len(lat),
            "latency_tail_percentile": round(pct, 2),
            "latency_tail_samples_beyond": beyond,
            "error_rate": len(out.failures) / max(out.attempted, 1),
        }
    )
    if args.trace:
        metrics = rec.layer_metrics()
        for layer, key in (
            ("operators.connected_components", "connected_components_rounds"),
            ("operators.label_propagation", "label_propagation_rounds"),
        ):
            metrics[f"{layer}.rounds"] = {"value": out.paths.get(key, 0), "unit": "count"}
        metrics["trace.wall_s"] = {"value": wall_s, "unit": "s"}
        trace_path = os.path.join(WORK, "out", f"trace-{args.workload}-s{args.seed}.json")
        rec.write(trace_path, context)
        context["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "edges_per_s": {"value": statistics.median(p.edges_per_s for p in out.passes), "unit": "1/s"},
            "latency_p50_ms": {"value": 1000.0 * statistics.median(lat), "unit": "ms"},
            "latency_tail_ms": {"value": 1000.0 * tail, "unit": "ms"},
            "requests_per_s": {"value": statistics.median(p.ops_per_s for p in out.passes), "unit": "1/s"},
            "peak_rss_mb": {"value": sum(rss_by_process.values()), "unit": "MB"},
        }
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {context['error_rate']:.6g} ({len(out.failures)}/{out.attempted})")
    print(json.dumps(context))
    for f in out.failures[:5]:
        print(f, file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not out.failures,
                "attempted": out.attempted,
                "failed": len(out.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


def steadiness(args) -> int:
    """Repeat the workload in child processes and report spread vs bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    traces = (0, 1) if args.trace else (0,)
    runs = {t: [] for t in traces}
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    for seed in range(1, args.steadiness + 1):
        for t in traces:
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(t),
            ]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            took = time.perf_counter() - t0
            last = (p.stdout.strip().splitlines() or [""])[-1]
            if p.returncode != 0 or not last.startswith("{"):
                print(p.stderr[-3000:], file=sys.stderr)
                return 1
            res = json.loads(last)
            runs[t].append(res)
            with open(os.path.join(WORK, "out", f"steadiness-{args.workload}.jsonl"), "a") as f:
                lines = p.stdout.splitlines()[-2:]
                f.write(json.dumps({"seed": seed, "trace": t, "stdout": lines}) + "\n")
            print(
                f"seed {seed} trace {t}: {took:.1f}s correct={res['correct']} "
                f"failed={res['failed']}/{res['attempted']}",
                flush=True,
            )
    summary = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in runs[0]]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        summary[name] = {
            "median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
            "bound": bound, "spread_over_bound": round(spread / bound, 3),
        }
        print(
            f"{name:16s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
            f"spread {spread:7.2%}  bound {bound:.0%}  ({spread / bound:.2f} of bound)"
        )
    if args.trace:
        untraced = statistics.median(r["metrics"]["wall_s"]["value"] for r in runs[0])
        traced = statistics.median(r["metrics"]["trace.wall_s"]["value"] for r in runs[1])
        summary["tracing_overhead_s"] = traced - untraced
        print(
            f"tracing overhead on wall_s: {traced - untraced:+.4f} s "
            f"({traced / untraced - 1:+.2%})"
        )
    print(json.dumps({"workload": args.workload, "runs": args.steadiness, "summary": summary}))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if args.steadiness:
        return steadiness(args)
    sys.path.insert(0, ROOT)
    from perfbench import host

    return run_once(args, time.perf_counter() - host.process_age_s())


if __name__ == "__main__":
    sys.exit(main())
