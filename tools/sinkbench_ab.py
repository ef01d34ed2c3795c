"""Interleaved A/B of the sink benchmark: a parent checkout against this one.

Usage, from the repository root:

    git clone -q . /tmp/parent && git -C /tmp/parent checkout -q HEAD~
    python tools/sinkbench_ab.py --parent /tmp/parent --seed 201 --pairs 10
    python tools/sinkbench_ab.py --parent /tmp/parent --seed 301 --pairs 5 \\
        --workload nwic-lake --workload geo-stream

For every workload in ``BENCHMARK.json`` (or each ``--workload``), pair
``k`` runs the benchmark command untraced at seed ``seed + k`` once in
each tree, for the declared ``run_seconds``. Odd seeds run this checkout
first, even seeds the parent, so drift over the comparison falls on both
sides alike. The workloads, run length, end-to-end metrics and their
bounds all come from this checkout's ``BENCHMARK.json``.

For each end-to-end metric the report gives each side's median and
quartiles, the pairs the change won (ties count for neither side) and a
verdict:

* ``gain`` — the change won at least 9 in 10 pairs and its median is
  better than the parent's by more than the parent's interquartile range;
* ``unresolved`` — either side's interquartile range is wider than the
  metric's bound (relative to the parent median) and not every run of
  the change reads better than every run of the parent;
* ``worse`` — the change's median is worse than the parent's by more than
  the bound;
* ``within bound`` — none of the above.

The exit status is 1 if any run was not ``correct``, reported
``failed > 0`` or printed no result line; 0 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_SHARE = 0.9  # share of pairs the change must win to claim a gain


def run_once(tree: str, command: list[str], workload: str, seed: int, seconds: float) -> dict | None:
    """One untraced benchmark run in ``tree``; its parsed result line, or
    None when the run printed none."""
    argv = [*command, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(argv, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(f"{tree}: {workload} seed {seed} printed no result "
                         f"(exit {proc.returncode})\n{proc.stderr[-2000:]}\n")
        return None
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], higher_better: bool, bound: float) -> tuple[int, str]:
    """(pairs the change won, verdict) for one metric; the lists are
    aligned by pair."""
    sign = 1.0 if higher_better else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    if wins >= WIN_SHARE * len(parent) and sign * (cm - pm) > p3 - p1:
        return wins, "gain"
    all_better = min(change) > max(parent) if higher_better else max(change) < min(parent)
    if max(p3 - p1, c3 - c1) > bound * abs(pm) and not all_better:
        return wins, "unresolved"
    if -sign * (cm - pm) > bound * abs(pm):
        return wins, "worse"
    return wins, "within bound"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable); default: every BENCHMARK.json workload")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    trees = {"parent": os.path.abspath(args.parent), "change": ROOT}

    ok = True
    for workload in workloads:
        runs: dict[str, list[dict]] = {"parent": [], "change": []}
        print(f"== {workload}: {args.pairs} pairs from seed {args.seed}, "
              f"{bench['run_seconds']} s per run", flush=True)
        for k in range(args.pairs):
            seed = args.seed + k
            order = ("change", "parent") if seed % 2 else ("parent", "change")
            for side in order:
                result = run_once(trees[side], bench["command"], workload, seed, bench["run_seconds"])
                if result is None or not result["correct"] or result["failed"] > 0:
                    ok = False
                    sys.stderr.write(f"{side}: {workload} seed {seed} not correct: {result}\n")
                runs[side].append(result)
            if all(runs[side][-1] for side in runs):
                cells = "  ".join(
                    f"{m['name']} {runs['parent'][-1]['metrics'][m['name']]['value']:.4g}"
                    f"->{runs['change'][-1]['metrics'][m['name']]['value']:.4g}"
                    for m in metrics
                )
                print(f"  seed {seed} ({order[0]} first): {cells}", flush=True)

        pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
        if not pairs:
            continue
        print(f"  {'metric':<22}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
              f"{'wins':>8}{'bound':>7}  verdict")
        for m in metrics:
            name = m["name"]
            parent = [p["metrics"][name]["value"] for p, _ in pairs]
            change = [c["metrics"][name]["value"] for _, c in pairs]
            wins, word = verdict(parent, change, m["better"] == "higher", m["bound"])
            pq = "/".join(f"{v:.4g}" for v in quartiles(parent))
            cq = "/".join(f"{v:.4g}" for v in quartiles(change))
            print(f"  {name:<22}{pq:>30}{cq:>30}{f'{wins}/{len(pairs)}':>8}"
                  f"{m['bound']:>7.0%}  {word}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
