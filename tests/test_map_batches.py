"""The package's Python boundary rule (functions.map_batches): a kernel
sees only non-empty batches and a zero-row result is dropped, so no
operator types an empty frame by hand; grouped and cogrouped functions
return a bare ``pd.DataFrame()`` for an empty result."""

import pandas as pd
import pytest

from s2geometry_spark.functions import map_batches


def test_filter_leaves_partitions_empty(spark):
    def double(pdf):
        assert len(pdf) > 0  # a zero-row batch never reaches the kernel
        return pdf.assign(twice=pdf["id"] * 2)

    df = spark.range(0, 400, numPartitions=8).where("id % 100 < 3")
    out = map_batches(df, double, "id long, twice long").collect()
    seen = sorted((r.id, r.twice) for r in out)
    assert seen == [(i, 2 * i) for i in range(400) if i % 100 < 3]


def test_zero_rows_with_some_declared_columns_are_dropped(spark):
    """A zero-row frame carrying only some of the declared columns is
    the one empty result Spark rejects; map_batches never yields it."""

    def squares(pdf):
        keep = pdf[pdf["id"] % 8 == 1]
        if keep.empty:
            return keep[["id"]]  # zero rows, "sq" missing
        return keep.assign(sq=keep["id"] * keep["id"])

    # 16 partitions of 4 ids: every other one has no id = 1 mod 8
    df = spark.range(0, 64, numPartitions=16)
    schema = "id long, sq long"
    got = sorted((r.id, r.sq) for r in map_batches(df, squares, schema).collect())
    assert got == [(i, i * i) for i in range(1, 64, 8)]

    def raw(it):
        for pdf in it:
            yield squares(pdf)

    with pytest.raises(Exception, match="RESULT_COLUMN_NAMES_MISMATCH"):
        df.mapInPandas(raw, schema).collect()


def test_string_id_column(spark):
    """Object-dtype string ids pass through unchanged; batches whose
    result is empty (untyped, from empty lists) are dropped."""

    def tagged(pdf):
        ids = [f"p{int(i):03d}" for i in pdf["id"] if i % 5 == 0]
        return pd.DataFrame({"sid": ids, "n": [len(s) for s in ids]})

    df = spark.range(0, 50, numPartitions=10)
    got = sorted(map_batches(df, tagged, "sid string, n long").collect())
    assert [r.sid for r in got] == [f"p{i:03d}" for i in range(0, 50, 5)]
    assert {r.n for r in got} == {4}


def test_cogroup_returns_bare_frame_when_one_side_is_empty(spark):
    left = spark.createDataFrame([(1, 10), (2, 20), (2, 21)], "k long, a long")
    right = spark.createDataFrame([(2, "x"), (3, "y")], "k long, b string")

    def pair(l_pdf, r_pdf):
        if len(l_pdf) == 0 or len(r_pdf) == 0:
            return pd.DataFrame()
        return l_pdf.merge(r_pdf, on="k")

    got = (
        left.groupBy("k")
        .cogroup(right.groupBy("k"))
        .applyInPandas(pair, "k long, a long, b string")
        .orderBy("a")
        .collect()
    )
    assert [(r.k, r.a, r.b) for r in got] == [(2, 20, "x"), (2, 21, "x")]

    def big_groups(pdf):
        if len(pdf) < 2:
            return pd.DataFrame()
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]})

    grouped = left.groupBy("k").applyInPandas(big_groups, "k long, n long").collect()
    assert [(r.k, r.n) for r in grouped] == [(2, 2)]
