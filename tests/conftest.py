import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TEST = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(items):
    """Run the tests that need no Spark session before those that do
    (stable, so each group keeps file order).  The Spark-backed tests
    take most of the suite's time on a small machine; going first keeps
    the quick Spark-free results independent of how far a time-limited
    run gets."""
    items.sort(key=lambda item: "spark" in getattr(item, "fixturenames", ()))


@pytest.fixture(scope="session")
def spark():
    from s2geometry_spark.sources.session import get_spark

    # cores from SPARK_GRAFT_CPUS (or the machine); a fixed shuffle width
    # keeps plans the same on every box
    spark = get_spark("s2spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    return con


def compare_frames(spark_df, duck_rel, sort_cols=None):
    """Order-insensitive compare of a Spark DataFrame and a DuckDB relation
    (or its result frame), mirroring the driver's row-count + schema +
    value-hash check."""
    import pandas as pd

    pdf_s = spark_df.toPandas()
    pdf_d = duck_rel if isinstance(duck_rel, pd.DataFrame) else duck_rel.df()
    assert sorted(pdf_s.columns) == sorted(pdf_d.columns), (
        f"columns differ: {sorted(pdf_s.columns)} vs {sorted(pdf_d.columns)}"
    )
    cols = sorted(pdf_s.columns)
    pdf_s = pdf_s[cols].sort_values(cols).reset_index(drop=True)
    pdf_d = pdf_d[cols].sort_values(cols).reset_index(drop=True)
    assert len(pdf_s) == len(pdf_d), f"row counts differ: {len(pdf_s)} vs {len(pdf_d)}"
    for c in cols:
        s, d = pdf_s[c], pdf_d[c]
        # dtype-strict: the driver hashes rendered values, so an oracle
        # column that surfaces float64 (e.g. DuckDB sum -> HUGEINT ->
        # pandas float) against a Spark long hashes `2.0` vs `2` and goes
        # red even when every value is identical.  Mixed int/float is a
        # failure here, before the driver sees it.
        if s.dtype.kind == "f" and d.dtype.kind == "f":
            pd.testing.assert_series_equal(
                s.astype(float), d.astype(float), check_names=False, check_exact=True
            )
        elif (s.dtype.kind == "f") != (d.dtype.kind == "f"):
            raise AssertionError(
                f"column {c}: dtype drift spark={s.dtype} vs oracle={d.dtype} "
                "(pin the oracle with CAST(... AS BIGINT) or match the Spark type)"
            )
        else:
            sv = s.astype(object).where(pd.notna(s), None)
            dv = d.astype(object).where(pd.notna(d), None)
            mism = [
                (i, a, b) for i, (a, b) in enumerate(zip(sv, dv)) if a != b
            ]
            assert not mism, f"column {c}: {len(mism)} mismatches, first: {mism[:3]}"
