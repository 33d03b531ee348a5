

def test_split_covering_identity():
    """inside ∪ boundary == the full covering, and they are disjoint."""
    from spatialindex_spark.functions.cover import (
        htm_circle_ranges, htm_circle_ranges_split, _ranges_add)

    for (ra, dec, r, lvl) in [(129.4, 43.7, 0.5, 7), (10.0, -80.0, 8.0, 6),
                              (200.0, 0.0, 2.0, 10), (0.1, 0.1, 30.0, 4)]:
        full = [tuple(x) for x in htm_circle_ranges(ra, dec, r, lvl)]
        inside, boundary = htm_circle_ranges_split(ra, dec, r, lvl)
        cells_in = set()
        for lo, hi in inside:
            cells_in.update(range(lo, hi + 1))
        cells_b = set()
        for lo, hi in boundary:
            cells_b.update(range(lo, hi + 1))
        assert not (cells_in & cells_b)
        merged: list[list[int]] = []
        for lo, hi in sorted(list(inside) + list(boundary)):
            _ranges_add(merged, int(lo), int(hi))
        assert [tuple(x) for x in merged] == full, (ra, dec, r, lvl)


def test_in_predicate_matches_isin_and_pushes_in(spark, tmp_path):
    """The one-expression IN-set renderer keeps the rows of Column.isin,
    for string ids with quotes, backslashes and non-ASCII characters and
    for extreme longs, and the parquet scan still gets an ``In`` filter;
    an empty set selects nothing, and ranges_predicate's singleton set
    renders through it."""
    from pyspark.sql import functions as F

    from spatialindex_spark.functions.cover import (
        in_predicate, ranges_predicate)

    big = 2 ** 63 - 1
    cases = {
        "string": (["a'b", "c\\d", "x\\'y", "é中✓", "tab\tnl\n", "%_\\%", "",
                    "plain", "miss'ing"],
                   ["a'b", "c\\d", "x\\'y", "é中✓", "tab\tnl\n", "%_\\%", "",
                    "absent\\"]),
        "bigint": ([big, -big, -big - 1, -7, 0, 42, 2 ** 40],
                   [big, -big, -big - 1, -7, 2 ** 40, 5]),
    }
    for dtype, (ids, pick) in cases.items():
        p = str(tmp_path / dtype)
        spark.createDataFrame([(i, n) for n, i in enumerate(ids)],
                              f"image_id {dtype}, n int").write.parquet(p)
        df = spark.read.parquet(p)
        got = df.filter(in_predicate("image_id", pick))
        want = sorted(df.filter(F.col("image_id").isin(pick)).collect())
        assert sorted(got.collect()) == want and len(want) == len(pick) - 1
        plan = got._jdf.queryExecution().executedPlan().toString()
        i = plan.find("PushedFilters: [")
        assert "In(image_id" in plan[i:i + 400], plan[i:i + 400]
        assert df.filter(in_predicate("image_id", [])).count() == 0

    cells = spark.range(0, 40).withColumnRenamed("id", "cell")
    pred = ranges_predicate("cell", [[3, 3], [5, 9], [20, 20], [31, 31]])
    assert sorted(r.cell for r in cells.filter(pred).collect()) == \
        [3, 5, 6, 7, 8, 9, 20, 31]
