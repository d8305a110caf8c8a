"""Interleaved A/B of two git revisions on one benchmark workload.

    python3 tools/bench_ab.py PARENT_REV CHANGE_REV --workload esg_inference --seeds 101-110

Each revision is exported with ``git archive`` into its own directory (a
fresh temporary directory unless ``--workdir`` names one), so both sides
build what they run from their own source.  For every seed the two sides
run ``perfbench/run.py --trace 0`` back to back, alternating which runs
first.  The summary gives, per end-to-end metric, each side's median
[lower quartile - upper quartile], how many pairs the second revision won,
whether the gap between the medians exceeds the first revision's IQR (the
rule a claimed gain must meet), and a regression verdict against the
metric's ``bound`` in ``BENCHMARK.json`` (see ``regression_verdict``).  The
script only shells out to the benchmark; it measures nothing itself.

A working tree with uncommitted changes can be compared through the commit
``git stash create`` prints after ``git add -A``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seed_range(text: str) -> list[int]:
    """``"101-110"`` -> [101, ..., 110]; a single number is one seed."""
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def export(rev: str, dest: Path) -> Path:
    """Unpack ``git archive rev`` into ``dest``."""
    dest.mkdir(parents=True)
    archive = subprocess.run(
        ["git", "-C", str(ROOT), "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    return dest


def run_once(tree: Path, workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run in ``tree``: the JSON of its last stdout line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    if out.returncode:
        sys.exit(f"{' '.join(cmd)} failed in {tree}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def regression_verdict(a: list[float], b: list[float], better: str, bound: float) -> str:
    """Whether B regressed against A on one metric, by the rule a change is
    judged by; ``bound`` is a fraction of A's median.

    ``regressed``: B's median is worse than A's by more than the bound.
    ``unresolved``: A's IQR over its median exceeds the bound, so A alone
    spreads too widely to tell, and not every B run beats every A run.
    ``ok``: otherwise.
    """
    sign = 1 if better == "lower" else -1
    (a1, am, a3), (_, bm, _) = quartiles(a), quartiles(b)
    if sign * (bm - am) > bound * abs(am):
        return "regressed"
    b_beats_all = max(b) < min(a) if better == "lower" else min(b) > max(a)
    if (a3 - a1) > bound * abs(am) and not b_beats_all:
        return "unresolved"
    return "ok"


def summarize(runs: list[list[dict]], revs: list[str], metrics: dict[str, dict]) -> None:
    """Per metric: both sides' median [IQR], B's wins, the gain rule and the
    regression verdict."""
    a, b = runs
    print(f"\n{len(a)} pairs; A = {revs[0]}, B = {revs[1]}")
    print("failed queries: " + ", ".join(
        f"{side} {sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}"
        for side, rs in zip("AB", runs)))
    print(f"{'metric':<13} {'A median [IQR]':<26} {'B median [IQR]':<26} {'B wins':<7} "
          f"{'gap > A IQR':<22} regression")
    for name, metric in metrics.items():
        direction = metric["better"]
        va = [r["metrics"][name]["value"] for r in a]
        vb = [r["metrics"][name]["value"] for r in b]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (x - y) > 0 for x, y in zip(va, vb))
        (a1, am, a3), (b1, bm, b3) = quartiles(va), quartiles(vb)
        gap = sign * (am - bm)
        gain = f"{'yes' if gap > a3 - a1 else 'no'} ({gap:+.3f} vs {a3 - a1:.3f})"
        print(f"{name:<13} {f'{am:.3f} [{a1:.3f}-{a3:.3f}]':<26} {f'{bm:.3f} [{b1:.3f}-{b3:.3f}]':<26} "
              f"{f'{wins}/{len(va)}':<7} {gain:<22} "
              f"{regression_verdict(va, vb, direction, metric['bound'])}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a", help="the parent revision")
    ap.add_argument("rev_b", help="the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 101-110")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--workdir", type=Path, help="where the two exports go")
    args = ap.parse_args(argv)
    if len(args.seeds) < 2:
        ap.error("quartiles need at least two seeds")

    work = args.workdir or Path(tempfile.mkdtemp(prefix="bench_ab_"))
    revs = [args.rev_a, args.rev_b]
    trees = [export(rev, work / side) for side, rev in zip("AB", revs)]
    bench = json.loads((trees[0] / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    runs: list[list[dict]] = [[], []]
    for i, seed in enumerate(args.seeds):
        for side in (0, 1) if i % 2 == 0 else (1, 0):
            res = run_once(trees[side], args.workload, seed, args.seconds)
            runs[side].append(res)
            vals = " ".join(f"{k}={v['value']:.3f}" for k, v in res["metrics"].items())
            print(f"seed {seed} {'AB'[side]}: failed {res['failed']}/{res['attempted']} {vals}",
                  flush=True)
    summarize(runs, revs, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
