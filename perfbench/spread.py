"""Run-to-run spread of the end-to-end metrics, and the tracing overhead.

    python3 perfbench/spread.py --workload catalog_join --seeds 1-10
    python3 perfbench/spread.py --workload archive_queries --seeds 1-3 --overhead

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end metric its median, quartiles (``statistics.quantiles(n=4)``)
and the quartile distance as a share of the median next to the bound in
BENCHMARK.json. ``--overhead`` adds a traced run per seed and prints the
traced minus the untraced end-to-end value of each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(final JSON line, full results record) of one benchmark run."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit code {p.returncode}")
    path = next(l.split(" to ", 1)[1] for l in lines if l.startswith("results written to"))
    with open(os.path.join(ROOT, path)) as f:
        return json.loads(lines[-1]), json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in bounds}
    over: dict[str, list[float]] = {k: [] for k in bounds}
    for seed in _seeds(args.seeds):
        final, rec = run_once(args.workload, seed, bench["run_seconds"], 0)
        for k in bounds:
            values[k].append(final["metrics"][k]["value"])
        if args.overhead:
            _, traced = run_once(args.workload, seed, bench["run_seconds"], 1)
            for k in bounds:
                over[k].append(traced["end_to_end"][k] - rec["end_to_end"][k])
        print(f"seed {seed}: " + " ".join(f"{k}={final['metrics'][k]['value']:.4g}"
                                          for k in bounds)
              + f" steal={100 * rec['host_steal_share']:.1f}%", flush=True)
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{k:<22}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}{bounds[k]:>7}")
    if args.overhead:
        print("tracing overhead (traced minus untraced, median over seeds):")
        for k, vs in over.items():
            print(f"  {k:<22}{statistics.median(vs):>12.5g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
