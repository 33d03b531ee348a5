"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests run every workload end to end at the tiny size (about half
a minute each) through the same command line the full benchmark uses.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, reference as ref  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, WORK  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ["archive_queries", "catalog_join"]


def _run(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), p


# ---- inputs ------------------------------------------------------------------

def test_same_seed_same_inputs_and_seeds_differ():
    assert gen.make_images(5, 300).equals(gen.make_images(5, 300))
    assert not gen.make_images(5, 300).equals(gen.make_images(6, 300))
    assert gen.make_catalog(5, 1000).equals(gen.make_catalog(5, 1000))
    assert not gen.make_catalog(5, 1000).equals(gen.make_catalog(6, 1000))
    a, b = gen.make_catalog_batches(5, 1000, 2, 50), gen.make_catalog_batches(5, 1000, 2, 50)
    assert all(a[k].equals(b[k]) for k in a)
    ids = np.concatenate([t["obj_id"].to_numpy() for t in a.values()])
    assert len(np.unique(ids)) == len(ids)


def test_hot_spots_hold_their_share():
    ra, dec = gen.sky_positions(3, 20_000, stream=30)
    xyz = ref.unit_vectors(ra, dec)
    n_hot = 0
    for hra, hdec in gen.HOT_SPOTS:
        c = ref.unit_vectors(np.array([hra]), np.array([hdec]))[0]
        n_hot += int((xyz @ c >= np.cos(np.radians(gen.HOT_RADIUS_DEG * 1.01))).sum())
    assert n_hot >= 20_000 * gen.HOT_FRACTION


def test_payloads_decode_with_engine_codec():
    from spatialindex_spark.sources import imaging

    t = gen.make_images(2, 12)
    for i in range(12):
        w, fmt = t["w"][i].as_py(), t["fmt"][i].as_py()
        img = imaging.decode(t["bytes"][i].as_py(), w, w, fmt)
        assert img.shape == (w, w, 3)
        np.testing.assert_array_equal(
            img, ref.decode_image(t["bytes"][i].as_py(), w, w, fmt))


# ---- references ----------------------------------------------------------------

def test_grid_references_match_full_brute_force():
    rng = np.random.default_rng(0)
    ra, dec = gen.sky_positions(4, 3000, stream=30)
    ids = rng.permutation(3000).astype(np.int64)
    order = np.argsort(ids)
    ra, dec, ids = ra[order], dec[order], ids[order]
    xyz = ref.unit_vectors(ra, dec)
    top, amb = ref.knn_self(xyz, ids, 3)
    pairs, _ = ref.pairs_within(xyz, ids, 0.02)
    got_pairs = set(map(tuple, pairs.tolist()))
    want_pairs = set()
    cosr = np.cos(np.radians(0.02))
    for i in range(len(ids)):
        d = xyz @ xyz[i]
        want_pairs |= {(int(ids[i]), int(j)) for j in ids[d >= cosr]}
        d[i] = -9.0
        o = np.lexsort((ids, -d))[:3]
        if not amb[i]:
            assert ids[o].tolist() == top[i].tolist()
    assert got_pairs == want_pairs


def test_compare_sets_ignores_band_only():
    assert ref.compare_sets([1, 2], [1, 2, 3], ambiguous=[3]).ok
    assert not ref.compare_sets([1, 2], [1, 2, 3]).ok


# ---- tracing ----------------------------------------------------------------------

def test_self_time_is_span_minus_children():
    tr = Tracer(True)
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("c"):
            pass
    st = tr.self_times()
    a, b, c = tr.spans
    assert st[a.sid] == pytest.approx((a.end - a.start) - (b.end - b.start) - (c.end - c.start))
    assert tr.nesting_violations() == 0
    assert Tracer(False).span("x") is Tracer(False).span("y")


# ---- the contract ---------------------------------------------------------------

def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [w["name"] for w in b["workloads"]] == WORKLOADS
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_tiny(workload):
    rc, out, p = _run("--workload", workload, "--seed", "7", "--seconds", "1",
                      "--trace", "0", "--size", "tiny")
    assert rc == 0, p.stderr[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_tiny_reports_every_layer():
    rc, out, p = _run("--workload", "catalog_join", "--seed", "7", "--seconds", "1",
                      "--trace", "1", "--size", "tiny")
    assert rc == 0, p.stderr[-3000:]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == set(PER_LAYER)
    assert m["knn.rows_out"] == 3 * m["knn.left_rows"] > 0
    assert m["trace.nesting_violations"] == 0


def test_planted_wrong_answer_is_caught():
    rc, out, p = _run("--workload", "archive_queries", "--seed", "7", "--seconds", "1",
                      "--trace", "0", "--size", "tiny", "--plant-error")
    assert rc == 1
    assert out["failed"] >= 1 and not out["correct"]
    assert out["metrics"]["success_rate"]["value"] < 1.0


def test_fails_without_the_engine():
    d = os.path.join(WORK, f"selftest-{os.getpid()}")
    try:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        rc, out, p = _run("--workload", "catalog_join", "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=d)
        assert rc != 0 and out is None
    finally:
        shutil.rmtree(d, ignore_errors=True)
