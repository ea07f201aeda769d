"""Emulates the driver's correctness gate: every queries() entry with an
oracle_sql() twin must match DuckDB on sf0.01 (rows + schema + values)."""

import pytest

from tests.conftest import SF_ORACLE, SF_TEST, compare_frames


def _entry_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location("spark_entry", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def entry_mod():
    return _entry_module()


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cell_l5", "cnt"}


# Each oracle runs in its own child interpreter.  The largest oracles
# need far more memory than DuckDB's memory_limit bounds (planning the
# closed_set_normalize SQL alone peaks near 9 GB RSS); in a child that
# memory is returned when it exits, and if the machine does run short,
# the OOM killer ends the oversized child rather than the test run.
_ORACLE_CHILD = """
import sys
import duckdb
con = duckdb.connect()
con.sql("SET memory_limit = '4GB'")
con.sql(f"SET temp_directory = '{{sys.argv[1]}}.spill'")
for name in (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split():
    con.sql(
        f"CREATE VIEW {{name}} AS SELECT * FROM "
        f"read_parquet('{sf}/{{name}}.parquet')"
    )
con.sql(sys.stdin.read()).df().to_pickle(sys.argv[1])
"""


def _oracle_frame(sql: str, out):
    import subprocess
    import sys

    import pandas as pd

    r = subprocess.run(
        [sys.executable, "-c", _ORACLE_CHILD.format(sf=SF_ORACLE), str(out)],
        input=sql,
        text=True,
        capture_output=True,
    )
    assert r.returncode == 0, f"oracle failed (exit {r.returncode}): {r.stderr[-800:]}"
    return pd.read_pickle(out)


def test_queries_match_oracles(spark, entry_mod, tmp_path):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    failed = {}
    for name, sql in oracles.items():
        try:
            sdf = qs[name](spark, SF_ORACLE)
            compare_frames(sdf, _oracle_frame(sql, tmp_path / f"{name}.pkl"))
        except Exception as ex:  # compare every oracle, report all at once
            failed[name] = f"{type(ex).__name__}: {str(ex)[:300]}"
    assert not failed, f"{len(failed)}/{len(oracles)} oracles differ: {failed}"


def test_rows_only_queries_run(spark, entry_mod):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name, fn in qs.items():
        if name in oracles:
            continue
        df = fn(spark, SF_TEST)
        assert df.count() >= 0


def test_numpy_edge_derivation_matches_catalyst(spark, entry_mod):
    """_edges_df (Arrow/NumPy geotag kernels) must stay bitwise-identical
    to the Catalyst expression derivation it replaced (which the SQL
    oracles mirror)."""
    a = (
        entry_mod._edges_df(
            spark, SF_TEST, "orders", "o_orderkey", entry_mod._EDGE_A_KEY2, "eid", "e"
        )
        .toPandas()
        .sort_values("eid")
        .reset_index(drop=True)
    )
    b = (
        entry_mod._edges_df_sql_exprs(
            spark, SF_TEST, "orders", "o_orderkey", entry_mod._EDGE_A_KEY2, "eid", "e"
        )
        .toPandas()
        .sort_values("eid")
        .reset_index(drop=True)
    )
    for c in ["e0x", "e0y", "e0z", "e1x", "e1y", "e1z"]:
        assert (a[c].values == b[c].values).all(), c
