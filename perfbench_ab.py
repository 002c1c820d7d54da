#!/usr/bin/env python3
"""Interleaved A/B of a base commit against the working tree on one
``perfbench`` workload.

    python3 perfbench_ab.py --base <ref> --workload <name> --seeds "1 2 3" [--seconds 10]

``<ref>`` is checked out as a detached ``git worktree`` under
``.perfbench_runs/`` (gitignored) and removed afterwards. For each seed,
``perfbench/run.py`` runs once on each side, alternating which side goes
first. Prints, for every end-to-end metric of BENCHMARK.json, each side's
median and quartiles and how many seeds the working tree won; the raw runs
go to ``.perfbench_runs/ab-<workload>-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(ROOT, ".perfbench_runs")


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def _run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    try:
        return json.loads(out.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "error": out.stderr[-2000:], "metrics": {}}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='space-separated, e.g. "1 2 3"')
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split()]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    sha = _git("rev-parse", "--verify", f"{args.base}^{{commit}}")
    base_tree = os.path.join(RUNS, f"ab-base-{sha[:12]}")
    os.makedirs(RUNS, exist_ok=True)
    _git("worktree", "add", "--detach", "--force", base_tree, sha)
    runs: dict[str, list[dict]] = {"base": [], "head": []}
    try:
        for i, seed in enumerate(seeds):
            sides = [("base", base_tree), ("head", ROOT)]
            for side, tree in sides if i % 2 == 0 else sides[::-1]:
                got = _run(tree, args.workload, seed, args.seconds)
                runs[side].append({"seed": seed, **got})
                vals = {k: round(v["value"], 3) for k, v in got["metrics"].items()}
                print(f"seed {seed} {side}: correct={got.get('correct')} {vals}", flush=True)
    finally:
        _git("worktree", "remove", "--force", base_tree)

    report = os.path.join(RUNS, f"ab-{args.workload}-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(report, "w") as f:
        json.dump({"base": sha, "workload": args.workload, "seeds": seeds, "runs": runs}, f)
    print(f"\n{args.workload}: base {sha[:12]} vs working tree, {len(seeds)} seeds "
          f"(raw runs: {os.path.relpath(report, ROOT)})")
    print(f"{'metric':24s} {'base q1/median/q3':>28s} {'head q1/median/q3':>28s} "
          f"{'delta':>8s} {'head wins':>9s}")
    for m in metrics:
        name = m["name"]
        pairs = [(b["metrics"].get(name, {}).get("value"), h["metrics"].get(name, {}).get("value"))
                 for b, h in zip(runs["base"], runs["head"])]
        pairs = [(b, h) for b, h in pairs if b is not None and h is not None]
        if not pairs:
            continue
        lower = m["better"] == "lower"
        wins = sum((h < b) if lower else (h > b) for b, h in pairs)
        qb, qh = _quartiles([b for b, _ in pairs]), _quartiles([h for _, h in pairs])
        delta = (qh[1] - qb[1]) / qb[1] * 100 if qb[1] else float("nan")
        print(f"{name:24s} {'%.3f/%.3f/%.3f' % qb:>28s} {'%.3f/%.3f/%.3f' % qh:>28s} "
              f"{delta:+7.1f}% {wins:>5d}/{len(pairs)}")
    bad = [r["seed"] for side in runs.values() for r in side if not r.get("correct")]
    if bad:
        print(f"INCORRECT runs (seeds): {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
