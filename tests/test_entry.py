"""Driver-contract smoke + mini oracle gate at sf0.001 (fast).

The full sf0.01 oracle sweep lives in tests/oracle_check.py (run manually or
by the driver); here a representative subset keeps `pytest -x -q` green and
quick while still exercising entry() and the Spark<->DuckDB agreement.
"""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

SUBSET = ["cone_htm", "cone_hpx", "polygon_htm", "region_join", "knn",
          "knn_join", "knn_join_auto", "exact_dedup", "token_count",
          "events_window", "cutout", "photometry"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) >= 0
    assert set(out.columns) == {"o_orderkey", "ra", "dec"}


def test_queries_have_oracles_or_are_documented():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # round 2: EVERY query has a value oracle (the ANN family got full SQL
    # pipeline replicas via the integer-quantized ternary LSH).
    # round 5: the last two rows-only exceptions (mosaic/pyramid) gained
    # full DuckDB value oracles — formula-pixel payload + scalar-libm
    # grid makes the whole coadd/rollup chain bit-replayable in SQL.
    assert set(qs) == set(oracles)


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_subset(spark, ddb, name):
    qs = entrymod.queries()
    sdf = qs[name](spark, SF_DIR).toPandas()
    odf = ddb.execute(entrymod.oracle_sql()[name]).df()
    a, b = _norm(sdf), _norm(odf)
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(a, b)


def test_scratch_dir_generations_survive_reinvocation(spark):
    """r5 advice: a still-live result of a storage-roundtrip query must
    survive the NEXT in-process invocation of the same query (the old
    fixed-path scratch dir wiped the files its plan still referenced)."""
    import __spark_entry__ as e

    qs = e.queries()
    df1 = qs["table_roundtrip"](spark, "/root/testdata/sf0.01")
    n1 = df1.count()
    df2 = qs["table_roundtrip"](spark, "/root/testdata/sf0.01")
    n2 = df2.count()
    assert df1.count() == n1 == n2  # first result still readable
