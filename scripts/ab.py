"""Interleaved A/B runs of the repository benchmark: a base revision
against this checkout.

    python3 scripts/ab.py --workload archive_queries --seeds 21-30
    python3 scripts/ab.py --workload catalog_join --seeds 3-5 --base HEAD~1
    python3 scripts/ab.py --workload catalog_join --seeds 1 --trace 1

The base revision (default ``HEAD``: the parent of uncommitted changes;
pass ``HEAD~1`` once the change is committed) and the change (this
checkout's working tree and index, as ``git stash create`` records them,
so untracked files must be staged) are each checked out with ``git
worktree`` in a temporary directory, removed again at the end: both sides
start from a fresh ``perfbench/.work``, as the gated benchmark does. (Run
in place, a checkout whose ``.work`` holds older caches and leftovers
measured catalog_join crossmatches ~20% slower than the same code in a
fresh copy.) For each seed the script runs ``perfbench/run.py`` once in
each checkout, one run at a time, and flips which side runs first from
one pair to the next, so slow drift of the host falls on both sides
alike. Each run imports the engine of its own checkout (``PYTHONPATH`` is
set to it).

It prints one line per run (every metric and the run's
``host_steal_share`` from its result record), then for each metric the
median and quartiles (``statistics.quantiles(n=4)``) of both sides, the
relative change of the median, the pairs the change won (by the
metric's ``better`` direction in BENCHMARK.json) and whether the gap
between the medians exceeds the base's quartile distance. Runs measure
for BENCHMARK.json's ``run_seconds``, as the gated benchmark does.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(root: str, workload: str, seed: int, seconds: float,
             trace: int) -> tuple[dict, float]:
    """(final JSON line, host_steal_share) of one benchmark run in the
    checkout at ``root``."""
    env = dict(os.environ, PYTHONPATH=root)
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, env=env, capture_output=True, text=True, timeout=1800)
    lines = p.stdout.strip().splitlines()
    if p.returncode not in (0, 1) or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{root} seed {seed}: exit code {p.returncode}")
    path = next(l.split(" to ", 1)[1] for l in lines if l.startswith("results written to"))
    with open(os.path.join(root, path)) as f:
        record = json.load(f)
    return json.loads(lines[-1]), record["host_steal_share"]


def summarize(runs: list[dict], better: dict[str, str]) -> list[str]:
    """Per-metric table over the paired runs."""
    out = [f"{'metric':<34}{'base med':>11}{'[q1, q3]':>22}{'change med':>12}"
           f"{'[q1, q3]':>22}{'delta':>8}{'wins':>7}  gap>IQR"]
    for k, direction in better.items():
        pairs = [(r["base"][k], r["change"][k]) for r in runs]
        b = [p[0] for p in pairs]
        c = [p[1] for p in pairs]
        bm, cm = statistics.median(b), statistics.median(c)
        bq1, _, bq3 = statistics.quantiles(b, n=4) if len(b) > 1 else (bm, bm, bm)
        cq1, _, cq3 = statistics.quantiles(c, n=4) if len(c) > 1 else (cm, cm, cm)
        sign = 1 if direction == "lower" else -1
        wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
        delta = (cm - bm) / bm if bm else 0.0
        gap = abs(cm - bm) > (bq3 - bq1) and sign * (cm - bm) < 0
        out.append(f"{k:<34}{bm:>11.5g}{f'[{bq1:.4g}, {bq3:.4g}]':>22}{cm:>12.5g}"
                   f"{f'[{cq1:.4g}, {cq3:.4g}]':>22}{100 * delta:>+7.1f}%"
                   f"{f'{wins}/{len(pairs)}':>7}  {'yes' if gap else 'no'}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["archive_queries", "catalog_join"])
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 3,5,8")
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    better = {m["name"]: m["better"]
              for m in bench["per_layer" if args.trace else "end_to_end"]}

    change_rev = subprocess.run(["git", "-C", ROOT, "stash", "create"], check=True,
                                capture_output=True, text=True).stdout.strip() or "HEAD"
    tmp = tempfile.mkdtemp(prefix="ab-")
    roots = {"base": os.path.join(tmp, "base"), "change": os.path.join(tmp, "change")}
    runs = []
    try:
        for side, rev in (("base", args.base), ("change", change_rev)):
            subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", roots[side], rev],
                           check=True, capture_output=True)
        print(f"base {args.base} in {roots['base']}; change "
              f"{'working tree' if change_rev != 'HEAD' else 'HEAD'} in {roots['change']}",
              flush=True)
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            rec = {"seed": seed, "order": list(order)}
            for side in order:
                final, steal = run_once(roots[side], args.workload, seed, seconds,
                                        args.trace)
                rec[side] = {k: v["value"] for k, v in final["metrics"].items()}
                rec[side + "_correct"] = final["correct"]
                rec[side + "_steal"] = steal
                print(f"seed {seed} {side:<6} correct={final['correct']} "
                      + " ".join(f"{k}={rec[side][k]:.4g}" for k in better)
                      + f" host_steal_share={steal:.4f}", flush=True)
            runs.append(rec)
    finally:
        for path in roots.values():
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", path],
                           capture_output=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{args.workload}, {len(runs)} pairs, seeds {args.seeds}, "
          f"{seconds:g} s, trace {args.trace}")
    for line in summarize(runs, better):
        print(line)
    return 0 if all(r["base_correct"] and r["change_correct"] for r in runs) else 1


if __name__ == "__main__":
    raise SystemExit(main())
