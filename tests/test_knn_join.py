"""knn_join's cell-local cogroup top-k against numpy brute force: exact
ties, k at or above the right row count, hot-cell splitting, duplicate
left ids, null cells, and the per-rung row accounting."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialindex_spark.operators import knn as knn_mod
from spatialindex_spark.operators.knn import knn_join


def _xyz(ra, dec):
    r, d = np.radians(ra), np.radians(dec)
    return np.cos(r) * np.cos(d), np.sin(r) * np.cos(d), np.sin(d)


def _brute(left: pd.DataFrame, right: pd.DataFrame, k: int,
           exclude_self: bool = False) -> list:
    """Sorted (left id, rank, right id) of every left row's top k by
    (angular distance, right id), one left row at a time."""
    lx, rx = _xyz(left.ra.to_numpy(), left.dec.to_numpy()), \
        _xyz(right.ra.to_numpy(), right.dec.to_numpy())
    dot = (np.multiply.outer(lx[0], rx[0]) + np.multiply.outer(lx[1], rx[1])
           + np.multiply.outer(lx[2], rx[2]))
    rid = right.pid.to_numpy()
    out = []
    for i, lid in enumerate(left.pid.to_numpy()):
        ok = rid != lid if exclude_self else np.ones(len(rid), bool)
        order = [j for j in np.lexsort((rid, -dot[i])) if ok[j]][:k]
        out += [(int(lid), rk, int(rid[j])) for rk, j in enumerate(order, 1)]
    return sorted(out)


def _got(df) -> list:
    return sorted((r.pid_l, r.knn_rank, r.pid_r) for r in df.collect())


def _sky(seed: int, n_clump: int, n_field: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    ra = np.concatenate([40.0 + rng.uniform(-0.2, 0.2, n_clump),
                         rng.uniform(0, 80, n_field)])
    dec = np.concatenate([10.0 + rng.uniform(-0.2, 0.2, n_clump),
                          rng.uniform(-40, 40, n_field)])
    return pd.DataFrame({"pid": np.arange(len(ra), dtype=np.int64),
                         "ra": ra, "dec": dec})


def test_knn_join_exact_ties_break_on_right_id(spark):
    """Every position is held by four rows with scattered ids, so the k-th
    distance is a four-way exact tie that only right_id decides."""
    rng = np.random.default_rng(11)
    n_pos, dup = 80, 4
    ra = np.repeat(rng.uniform(100, 110, n_pos), dup)
    dec = np.repeat(rng.uniform(-5, 5, n_pos), dup)
    pdf = pd.DataFrame({"pid": rng.permutation(n_pos * dup).astype(np.int64),
                        "ra": ra, "dec": dec})
    pts = spark.createDataFrame(pdf).localCheckpoint(eager=True)
    for kw in ({"auto_levels": True}, {"level": 5, "levels": (5, 3, 0)}):
        got = _got(knn_join(pts, pts, k=6, left_id="pid", right_id="pid",
                            exclude_self=True, on_starved="exact", **kw))
        assert got == _brute(pdf, pdf, 6, exclude_self=True), kw


def test_knn_join_k_at_least_right_rows(spark):
    """k >= the right row count: no rung can certify a row, so "raise"
    raises and "exact" returns every right row, ranked."""
    left = _sky(3, 0, 40)
    right = left.iloc[:5].copy()
    lf = spark.createDataFrame(left)
    rf = spark.createDataFrame(right)
    with pytest.raises(RuntimeError, match="starved"):
        knn_join(lf, rf, k=5, auto_levels=True, left_id="pid",
                 right_id="pid").collect()
    for k in (5, 7):
        got = _got(knn_join(lf, rf, k=k, auto_levels=True, left_id="pid",
                            right_id="pid", on_starved="exact"))
        assert got == _brute(left, right, k)
        assert len(got) == 5 * len(left)
    # self-excluded: the five right rows that are also left rows get four
    got = _got(knn_join(lf, rf, k=7, level=2, left_id="pid", right_id="pid",
                        exclude_self=True, on_starved="exact"))
    assert got == _brute(left, right, 7, exclude_self=True)
    assert knn_mod._DECISIONS["starved"] == len(left)


def test_knn_join_hot_cell_split_matches_unsplit(spark, monkeypatch):
    """A clump whose cell holds more pairs than PAIR_BUDGET splits its left
    rows over hash groups and replicates its right rows; the result equals
    the unsplit one and brute force. The decisions reconcile: rows
    answered over all rungs plus starved rows equal the left rows."""
    pdf = _sky(5, 300, 200)
    pts = spark.createDataFrame(pdf).localCheckpoint(eager=True)

    def run():
        return _got(knn_join(pts, pts, k=3, level=4, left_id="pid",
                             right_id="pid", exclude_self=True,
                             on_starved="exact"))

    plain = run()
    assert all(r["split_cells"] == 0 for r in knn_mod._DECISIONS["rungs"])
    monkeypatch.setattr(knn_mod, "PAIR_BUDGET", 5000)
    split = run()
    dec = knn_mod._DECISIONS
    assert sum(r["split_cells"] for r in dec["rungs"]) >= 1
    # unsplit, the clump's cell alone holds ~300 x 500 pairs
    assert max(r["max_group_pairs"] for r in dec["rungs"]) < 5 * 5000
    assert split == plain == _brute(pdf, pdf, 3, exclude_self=True)
    assert (sum(r["satisfied"] for r in dec["rungs"]) + dec["starved"]
            == len(pdf))


def test_knn_join_decisions_reconcile_with_starved_tail(spark):
    """A fine-only ladder leaves the sparse field starved: answered rows
    per rung plus the starved count still equal the left rows, and the
    exact pass answers the rest. Level 10 keys its right rows through the
    disc UDF, level 8 through the ring map. The id column is non-nullable,
    as spark.range ids are, while starved rows travel with a null _rid."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    pdf = _sky(9, 400, 60)
    pts = spark.createDataFrame(pdf, StructType([
        StructField("pid", LongType(), False),
        StructField("ra", DoubleType(), False),
        StructField("dec", DoubleType(), False)])).localCheckpoint(eager=True)
    got = _got(knn_join(pts, pts, k=3, level=10, levels=(10, 8),
                        left_id="pid", right_id="pid", exclude_self=True,
                        on_starved="exact"))
    assert got == _brute(pdf, pdf, 3, exclude_self=True)
    dec = knn_mod._DECISIONS
    assert dec["starved"] > 0
    assert [r["level"] for r in dec["rungs"]] == [10, 8]
    assert dec["rungs"][0]["rows_in"] == len(pdf)
    assert (sum(r["satisfied"] for r in dec["rungs"]) + dec["starved"]
            == len(pdf))


def test_knn_join_duplicate_left_ids_row_by_row(spark):
    """Two left rows sharing an id at different positions are answered
    separately: k rows each, each from its own position."""
    right = _sky(13, 200, 200)
    left = right.iloc[::20].copy()
    twin = left.copy()
    twin["ra"] = (twin["ra"] + 0.3) % 360
    left = pd.concat([left, twin, left.iloc[:3]], ignore_index=True)
    got = _got(knn_join(spark.createDataFrame(left),
                        spark.createDataFrame(right), k=3, auto_levels=True,
                        left_id="pid", right_id="pid", on_starved="exact"))
    assert got == _brute(left, right, 3)
    assert len(got) == 3 * len(left)


def test_knn_join_null_cell_rows_dropped(spark):
    """With cell_col, a row whose cell is null (its ra/dec valid) is
    dropped as a null ra/dec is: as a left row it gets no output, as a
    right row it is never a candidate. The null-cell rows on both sides
    never meet in one group."""
    from spatialindex_spark.functions.udfs import hpx_udf

    pdf = _sky(17, 300, 150)
    nulls = [5, 6, 7, 320, 321]
    pts = (spark.createDataFrame(pdf)
           .withColumn("hpx7", hpx_udf(7)("ra", "dec"))
           .withColumn("hpx7", F.when(F.col("pid").isin(nulls), None)
                       .otherwise(F.col("hpx7")))
           .localCheckpoint(eager=True))
    kept = pdf[~pdf.pid.isin(nulls)]
    for kw in ({"auto_levels": True}, {"level": 5}):
        got = _got(knn_join(pts, pts, k=3, left_id="pid", right_id="pid",
                            cell_col="hpx7", cell_level=7,
                            exclude_self=True, on_starved="exact", **kw))
        assert got == _brute(kept, kept, 3, exclude_self=True), kw


def test_cell_topk_blocks_match_one_block(monkeypatch):
    """The kernel alone, no Spark: left rows split into blocks of a few
    dot products give the same answer as one block, and brute force.
    Every position is held twice, so each rank is an exact tie."""
    sky = _sky(21, 120, 80)
    right = pd.concat([sky, sky.assign(pid=(sky.pid * 7919) % 1000 + 1000)]
                      ).sample(frac=1, random_state=1)
    left = sky.iloc[::3]
    lf = pd.DataFrame(dict(zip(("_lx", "_ly", "_lz"),
                               _xyz(left.ra.to_numpy(), left.dec.to_numpy())),
                           _lid=left.pid.to_numpy(), _c=0))
    rf = pd.DataFrame(dict(zip(("_rx", "_ry", "_rz"),
                               _xyz(right.ra.to_numpy(),
                                    right.dec.to_numpy())),
                           _rid=right.pid.to_numpy(), _c=0))
    lcols = ["_lid", "_lx", "_ly", "_lz"]

    def run():
        out = knn_mod._cell_topk(4, True, -np.inf, lcols)(lf, rf)
        return sorted(zip(out["_lid"], out["knn_rank"], out["_rid"]))

    one = run()
    monkeypatch.setattr(knn_mod, "BLOCK_ENTRIES", 500)
    assert run() == one
    assert one == _brute(left, right, 4, exclude_self=True)


def test_knn_join_string_ids(spark):
    """String ids: exclude_self compares them and ties order by them as
    Spark orders strings."""
    pdf = _sky(23, 60, 60)
    pdf["pid"] = pdf["pid"].map(lambda i: f"s{i % 37:02d}-{i}")
    pdf.loc[10:14, ["ra", "dec"]] = pdf.loc[9, ["ra", "dec"]].to_numpy()
    pts = spark.createDataFrame(pdf)
    got = sorted((r.pid_l, r.knn_rank, r.pid_r) for r in
                 knn_join(pts, pts, k=4, auto_levels=True, left_id="pid",
                          right_id="pid", exclude_self=True,
                          on_starved="exact").collect())
    lx = _xyz(pdf.ra.to_numpy(), pdf.dec.to_numpy())
    dot = sum(np.multiply.outer(a, a) for a in lx)
    ids = pdf.pid.to_numpy()
    want = []
    for i, lid in enumerate(ids):
        order = sorted((j for j in range(len(ids)) if ids[j] != lid),
                       key=lambda j: (-dot[i, j], ids[j]))[:4]
        want += [(lid, rk, ids[j]) for rk, j in enumerate(order, 1)]
    assert got == sorted(want)
