"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload archive_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. Lines before
it repeat the metrics under each workload's own names, with sample counts.

Everything the run writes stays under ``perfbench/.work`` (generator
cache, Spark scratch space, derived tables, results and spans). The exit
code is 0 when every operation matched its reference, 1 when one did not
(or raised), and 2 when the engine cannot be found or started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: end-to-end metrics (untraced runs): name -> unit
END_TO_END = {
    "setup_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
    "fast_op_p50_s": "s",
    "slow_op_p50_s": "s",
    "throughput_per_s": "1/s",
    "stored_bytes_per_row": "bytes",
}

#: per-layer metrics (traced runs): name -> unit; 0 where a workload does
#: not exercise the layer
PER_LAYER = {
    "session.start_s": "s",
    "cover.plan_s": "s",
    "cover.ranges": "count",
    "cover.candidate_ratio": "ratio",
    "kernel.htm_ns_per_row": "ns",
    "kernel.hpx_ns_per_row": "ns",
    "udfs.index_stage_s": "s",
    "udfs.xyz_stage_s": "s",
    "udfs.boundary_s": "s",
    "iceberg.write_s": "s",
    "iceberg.bytes_written": "bytes",
    "iceberg.files_written": "count",
    "iceberg.append_s": "s",
    "iceberg.buckets_read_frac": "ratio",
    "joins.crossmatch_s": "s",
    "joins.pairs_out": "count",
    "knn.join_s": "s",
    "knn.rows_out": "count",
    "knn.left_rows": "count",
    "cutouts.windows_s": "s",
    "cutouts.pixels_s": "s",
    "cutouts.windows_out": "count",
    "cutouts.images_matched": "count",
    "imaging.decode_us_per_image.raw": "us",
    "imaging.decode_us_per_image.z": "us",
    "imaging.decode_us_per_image.dct": "us",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.spans": "count",
    "trace.nesting_violations": "count",
}

class Context:
    """Run-wide settings and services handed to the workload."""

    def __init__(self, args, tracer):
        self.seed = args.seed
        self.size = args.size
        self.trace = bool(args.trace)
        self.tracer = tracer
        self.plant_error = args.plant_error
        self.min_rounds = 1 if args.size == "tiny" else 2
        self.work = WORK
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.jobs = None

    @staticmethod
    def plant(out):
        """Drop one row from an engine result (self-test of the checks)."""
        if isinstance(out, tuple):
            return (out[0], Context.plant(out[1]))
        if isinstance(out, list):
            return out[1:] if out else [-1]
        if hasattr(out, "iloc"):
            return out.iloc[1:]
        return out


def _cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _prepare_env() -> None:
    """Keep every file the engine, Spark and the JVM write inside WORK, and
    size the driver for a small host. Must run before the JVM starts."""
    for d in ("tmp", "spark-local", "native"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPT_NATIVE_DIR"] = os.path.join(WORK, "native")
    # every JVM spark-submit starts (its launcher too): temp files in WORK,
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData").strip()
    # 3g ran out of heap building a broadcast in the kNN join in 1 of ~15
    # catalog_join runs (2g failed earlier); 4g leaves room for the
    # session's persisted ring maps next to the join's broadcast tables
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def _session_conf() -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # initial heap = maximum heap: with a growing heap the JVM's peak
        # RSS ranged 2.8-3.7 GB over ten catalog_join runs; with a fixed one
        # it stays within 1%, and set-up and the kNN join ran ~10% faster
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; still reap it below
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> tuple[dict, dict, list[str]]:
    """(final JSON object, full results record, report lines)."""
    from perfbench.trace import (JobAccounting, Tracer, cpu_ticks, peak_rss_by_process,
                                 peak_rss_mb, steal_share)
    from perfbench.workloads import WORKLOADS, kernel_metrics
    from spatialindex_spark.plans.session import get_session

    tracer = Tracer(bool(args.trace))
    ctx = Context(args, tracer)
    wl = WORKLOADS[args.workload](ctx)
    os.makedirs(ctx.run_dir, exist_ok=True)
    spark = None
    ticks0 = cpu_ticks()
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        # one set-up per run: repeating it needs a session restart (the
        # engine keeps per-session state such as persisted ring maps), 7-12 s
        # each, too much for a run of under a minute; comparisons take the
        # median over runs instead
        t0 = time.perf_counter()
        with tracer.span("plans.session.get_session"):
            spark = get_session(app=f"perfbench-{args.workload}", cores=_cores(),
                                extra_conf=_session_conf())
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx.jobs = JobAccounting(spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t0 = time.perf_counter()
        wl.measure(spark, args.seconds)
        measure_s = time.perf_counter() - t0
        rss_by_process = peak_rss_by_process(jvm_pid)
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    steal = steal_share(ticks0, cpu_ticks())
    failed = sum(1 for o in wl.ops if not o.ok)
    attempted = len(wl.ops)
    e2e = {"setup_s": setup_s,
           "success_rate": (attempted - failed) / attempted if attempted else 0.0,
           "peak_rss_mb": peak_rss_mb(rss_by_process), **wl.end_to_end()}
    layer = {k: 0.0 for k in PER_LAYER}
    if args.trace:
        layer.update(wl.layer)
        layer.update(kernel_metrics(args.seed))
        layer["session.start_s"] = session_s
        layer["trace.spans"] = float(len(tracer.spans))
        layer["trace.nesting_violations"] = float(tracer.nesting_violations())
    metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    if args.trace:
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "end_to_end": e2e, "per_layer": layer,
        "self_time_s": tracer.self_time_by_layer() if args.trace else {},
        "generate_s": gen_s, "measure_s": measure_s,
        "ops": [{"kind": o.kind, "latency_s": o.latency, "cpu_s": o.cpu, "ok": o.ok,
                 "excluded": o.excluded, "detail": o.detail} for o in wl.ops],
        "rss_mb_by_process": rss_by_process,
        "host_steal_share": steal,
        "spark_conf": conf,
        "spt_env": {k: v for k, v in os.environ.items() if k.startswith("SPT_")},
    }
    lines = [f"{k} {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    lines.append(f"error_rate {1.0 - e2e['success_rate']:.6g} ratio "
                 f"({failed} of {attempted} operations)")
    lines += wl.report()
    excluded = sum(o.excluded for o in wl.ops)
    lines.append(f"host CPU steal during the run: {100 * steal:.1f}% of CPU time")
    lines.append(f"boundary-band exclusions: {excluded} rows/pairs within "
                 "1e-12 of a predicate boundary were not compared")
    if args.trace:
        lines += [f"{k} {layer[k]:.6g} {PER_LAYER[k]}" for k in PER_LAYER]
        out = os.path.join(WORK, "results",
                           f"spans-{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
        tracer.write(out)
        lines.append(f"spans written to {os.path.relpath(out, ROOT)}")
    return final, record, lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["archive_queries", "catalog_join"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: small inputs and one set-up, for smoke tests")
    p.add_argument("--plant-error", action="store_true",
                   help="drop one row from the first result of each operation "
                        "kind before its check (tests that checks fail)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spatialindex_spark")):
        print(f"engine package spatialindex_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    _prepare_env()
    sys.path.insert(0, ROOT)
    try:
        final, record, lines = run(args)
    except Exception:
        import traceback
        traceback.print_exc()
        return 2
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}"
                       f"-t{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    lines.append(f"results written to {os.path.relpath(out, ROOT)}")
    for line in lines:
        print(line)
    print(json.dumps(final), flush=True)
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
