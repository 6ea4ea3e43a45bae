#!/usr/bin/env python
"""Interleaved A/B of ``perfbench``: a base revision against the working tree.

Runs ``python3 perfbench/run.py --trace 0`` in ``--pairs`` alternating pairs
per workload: the committed files of ``--base`` (extracted with ``git
archive`` into a temporary directory) against the working tree, the base
first in even pairs and the working tree first in odd ones, so a host that
throttles over the session penalises neither side.  Prints, per workload and
end-to-end metric of ``BENCHMARK.json`` (read-only; it gives the metric
directions), each side's median and quartiles, the pairs the working tree
won (ties count for neither side), and whether a gain would be claimed: won
at least 9/10 of the pairs and medians apart by more than the base's
interquartile range.

Usage (from the repository root):

    python3 scripts/perfbench_ab.py --base HEAD --pairs 10 \\
        --workload stream_drops --seed 1 --seconds 5 [--json runs.json]
"""
from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def extract(rev: str, dest: Path) -> None:
    """The committed files of ``rev`` under ``dest``."""
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run_once(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """The result line of one untraced perfbench run in ``tree``."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"perfbench failed in {tree}:\n"
                           + out.stderr[-2000:])
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(spec: dict, runs: list[dict]) -> list[str]:
    """One line per end-to-end metric of ``runs`` (pairs of results)."""
    lines = []
    n = len(runs)
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        base = [r["base"]["metrics"][name]["value"] for r in runs]
        change = [r["change"]["metrics"][name]["value"] for r in runs]
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
        bq1, bmed, bq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(change)
        better = cmed < bmed if lower else cmed > bmed
        claim = better and wins >= 0.9 * n and abs(cmed - bmed) > bq3 - bq1
        delta = (cmed - bmed) / bmed * 100 if bmed else float("nan")
        lines.append(
            f"  {name:28s} base {bmed:.4g} [{bq1:.4g}, {bq3:.4g}]  "
            f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]  {delta:+.1f}%  "
            f"won {wins}/{n}  gain claimed: {'yes' if claim else 'no'}"
        )
    return lines


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", default="HEAD")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--json", help="also write every run's result here")
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    base_dir = Path(tempfile.mkdtemp(prefix="perfbench_ab_"))
    try:
        extract(args.base, base_dir)
        trees = {"base": base_dir, "change": ROOT}
        results = {}
        for wl in args.workload:
            runs = []
            for i in range(args.pairs):
                order = ("base", "change")[::1 if i % 2 == 0 else -1]
                pair = {side: run_once(trees[side], wl, args.seed,
                                       args.seconds) for side in order}
                runs.append(pair)
                print(f"{wl} pair {i + 1}/{args.pairs} ({order[0]} first): "
                      + json.dumps({s: {k: v["value"] for k, v in
                                        pair[s]["metrics"].items()}
                                    for s in order}), flush=True)
            results[wl] = runs
        for wl, runs in results.items():
            fails = {s: sum(r[s]["failed"] for r in runs) for s in trees}
            wrong = {s: sum(not r[s]["correct"] for r in runs) for s in trees}
            print(f"{wl} (seed {args.seed}, {len(runs)} pairs, base "
                  f"{args.base}; failed ops {fails}, incorrect runs {wrong})")
            print("\n".join(summarize(spec, runs)))
        if args.json:
            Path(args.json).write_text(json.dumps(
                {"base": args.base, "seed": args.seed, "runs": results},
                indent=1))
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
