#!/usr/bin/env python3
"""Alternating parent/change pairs of ``perfbench/run.py`` from two checkouts.

    python3 tools/ab_perfbench.py --parent ../parent --change . \\
        --workload powerlaw-bsp --pairs 10 --seeds 1,2 --seconds 16

Pair ``i`` runs both checkouts on seed ``seeds[i % len(seeds)]`` with the
same arguments (``--trace 0``), the parent first in even pairs and the
change first in odd ones, so drift of the host's speed falls on both
sides. Every run's end-to-end metrics, failure count and host context are
appended to ``--out`` as one JSON line, so an interrupted series can be
continued and ``--summary`` reprints the table of a file.

The table gives, per metric of ``BENCHMARK.json``, each side's median and
quartiles, the pairs the change won (ties count for neither side), the
parent's interquartile range, and whether a gain could be claimed: the
change wins at least nine tenths of the pairs and its median is better
than the parent's by more than the parent's interquartile range.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run; its metrics, failures and host context."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode or len(lines) < 2:
        raise RuntimeError(f"{checkout}: exit {p.returncode}\n{p.stderr[-2000:]}")
    context, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "attempted": result["attempted"],
        "failed": result["failed"],
        "paths": context.get("paths"),
        "pass_s": context.get("pass_s"),
        "steal": context.get("host", {}).get("cpu_steal_share"),
        "calibration_s": context.get("calibration_s"),
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records: list[dict], spec: dict) -> list[str]:
    """The table described in the module docstring, one line per metric."""
    pairs: dict[int, dict] = {}
    for r in records:
        pairs.setdefault(r["pair"], {})[r["side"]] = r
    done = [p for _, p in sorted(pairs.items()) if len(p) == 2]
    out = [
        f"{len(done)} complete pairs; failed operations: parent "
        f"{sum(p['parent']['failed'] for p in done)}, change "
        f"{sum(p['change']['failed'] for p in done)}",
        f"{'metric':<16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
        f"{'won':>6} {'parent IQR':>11} {'diff':>8}  claim",
    ]
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name] for p in done if name in p["parent"]["metrics"]]
        b = [p["change"]["metrics"][name] for p in done if name in p["change"]["metrics"]]
        if not a or len(a) != len(b):
            continue
        won = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        qa, qb = _quartiles(a), _quartiles(b)
        iqr = qa[2] - qa[0]
        gain = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        claim = won >= 0.9 * len(a) and gain > iqr
        out.append(
            f"{name:<16} {'/'.join(f'{v:.4g}' for v in qa):>30} "
            f"{'/'.join(f'{v:.4g}' for v in qb):>30} {won:>3}/{len(a):<2} "
            f"{iqr:>11.4g} {100.0 * (qb[1] - qa[1]) / qa[1]:>+7.1f}%  "
            f"{'yes' if claim else 'no'}"
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1,2", help="comma-separated, used in turn")
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--out", help="JSON lines file (default: .perfbench/ab-<workload>.jsonl)")
    ap.add_argument("--summary", action="store_true", help="only print the table of --out")
    args = ap.parse_args(argv)
    out = args.out or os.path.join(ROOT, ".perfbench", f"ab-{args.workload}.jsonl")
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    records = []
    if os.path.exists(out):
        with open(out) as f:
            records = [r for r in map(json.loads, f) if r["workload"] == args.workload]
    if not args.summary:
        os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
        seeds = [int(s) for s in args.seeds.split(",")]
        start = 1 + max((r["pair"] for r in records), default=-1)
        for i in range(start, start + args.pairs):
            seed = seeds[i % len(seeds)]
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = _run(getattr(args, side), args.workload, seed, args.seconds)
                r.update(pair=i, side=side, seed=seed, workload=args.workload)
                records.append(r)
                with open(out, "a") as f:
                    f.write(json.dumps(r) + "\n")
                print(
                    f"pair {i} seed {seed} {side}: "
                    + " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items())
                    + f" failed={r['failed']}/{r['attempted']}",
                    flush=True,
                )
    print("\n".join(summarize(records, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
