"""Round-13 optimization internals and advisor-flagged fixes.

Pins (1) the multi-shared-dim left/right align fix: restricting along
an earlier dim invalidates the marker-derived missing-label set for
later dims, so subsequent conforms must anti-join against the current
(partially conformed) frame; (2) the tree-node-boundary classifier in
``materialize_if_derived`` (an attribute NAMED 'AggregateRevenue' must
not reclassify a fact scan as derived).
"""

import datetime as dt
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xarray_spark import XDataset, get_spark, align  # noqa: E402
from xarray_spark._utils import materialize_if_derived  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test_opt_r13")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_left_align_two_shared_dims_synthesizes_late_missing(spark):
    """Advisor repro: a={t:[1], s:[1,5]}, b={(1,1,.1),(2,5,.5)}.
    Left-align restricts b to t=1 (dropping the only s=5 carrier);
    the s conform must then synthesize the (1, 5, NULL) slice the
    reference reindex(t=a.t, s=a.s) produces."""
    import pandas as pd
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 1], "s": [1, 5], "u": [1.0, 2.0]})),
        dims=["t", "s"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 2], "s": [1, 5], "v": [0.1, 0.5]})),
        dims=["t", "s"])
    a2, b2 = align(a, b, join="left")
    rows_b = {(r["t"], r["s"], r["v"]) for r in b2.df.collect()}
    assert rows_b == {(1, 1, 0.1), (1, 5, None)}
    # the left dataset is the reference: unchanged
    rows_a = {(r["t"], r["s"], r["u"]) for r in a2.df.collect()}
    assert rows_a == {(1, 1, 1.0), (1, 5, 2.0)}


def test_right_align_two_shared_dims_synthesizes_late_missing(spark):
    """Mirror of the left-align repro with the roles swapped."""
    import pandas as pd
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 2], "s": [1, 5], "v": [0.1, 0.5]})),
        dims=["t", "s"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 1], "s": [1, 5], "u": [1.0, 2.0]})),
        dims=["t", "s"])
    a2, b2 = align(a, b, join="right")
    rows_a = {(r["t"], r["s"], r["v"]) for r in a2.df.collect()}
    assert rows_a == {(1, 1, 0.1), (1, 5, None)}


def test_outer_align_two_shared_dims_marker_path_exact(spark):
    """join='outer' never restricts, so the marker-derived missing set
    stays exact for every dim — same result as sequential anti-joins."""
    import pandas as pd
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1], "s": [1], "u": [1.0]})), dims=["t", "s"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [2], "s": [5], "v": [0.5]})), dims=["t", "s"])
    a2, b2 = align(a, b, join="outer")
    rows_a = {(r["t"], r["s"], r["u"]) for r in a2.df.collect()}
    rows_b = {(r["t"], r["s"], r["v"]) for r in b2.df.collect()}
    # full 2x2 grid on both sides, nulls where absent
    assert {(t, s) for t, s, _ in rows_a} == {(1, 1), (1, 5), (2, 1), (2, 5)}
    assert rows_a == {(1, 1, 1.0), (1, 5, None), (2, 1, None), (2, 5, None)}
    assert rows_b == {(2, 5, 0.5), (1, 1, None), (1, 5, None), (2, 1, None)}


def test_materialize_gate_ignores_attribute_names(spark):
    """A fact scan whose COLUMN ALIASES spell reduction-node names must
    pass through untouched (node names match at line starts only)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    fact = li.select(
        F.col("l_quantity").alias("AggregateRevenue"),
        F.col("l_orderkey").alias("DeduplicatedKey"),
        F.col("l_partkey").alias("GlobalLimitMarker"),
    ).where(F.col("AggregateRevenue") > 0)
    assert materialize_if_derived(fact) is fact


def test_materialize_gate_still_truncates_true_aggregates(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    assert materialize_if_derived(agg) is not agg


def test_local_df_matches_list_path_for_naive_timestamps(spark):
    """local_df (Arrow local path) must interpret NAIVE datetimes
    exactly like createDataFrame(list): DRIVER-LOCAL wall time — pinned
    under a simulated non-UTC driver (the round-9 midbin scenario)."""
    import datetime as dt
    import os
    import time as _time
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        from xarray_spark._utils import local_df
        rows = [(dt.datetime(2024, 1, 1, 0, 0), 1.0),
                (dt.datetime(2024, 6, 15, 12, 0), 2.0)]
        schema = "k timestamp, v double"
        want = {(r["k"], r["v"])
                for r in spark.createDataFrame(rows, schema).collect()}
        got = {(r["k"], r["v"])
               for r in local_df(spark, rows, schema).collect()}
        assert got == want
        # NTZ stays wall-clock in both paths
        schema_ntz = "k timestamp_ntz, v double"
        want_ntz = {(r["k"], r["v"]) for r in
                    spark.createDataFrame(rows, schema_ntz).collect()}
        got_ntz = {(r["k"], r["v"]) for r in
                   local_df(spark, rows, schema_ntz).collect()}
        assert got_ntz == want_ntz
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_local_df_without_arrow_uses_bounded_parallelize(spark):
    """With Arrow disabled in the session, local_df must take the
    few-slice parallelize path, not createDataFrame(pandas).coalesce
    (which pickles the rows anyway and serializes worker handshakes)."""
    from xarray_spark._utils import local_df
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        rows = [(i, float(i) / 2) for i in range(40)]
        out = local_df(spark, rows, "k long, v double")
        assert "Coalesce" not in out._jdf.queryExecution() \
            .executedPlan().toString()
        assert sorted(tuple(r) for r in out.collect()) == rows
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _null_label_frame(spark):
    """2 x 4 (x, t) frame; coord ``lab`` on x is NULL for x=0, coord
    ``g`` on t splits t into two groups, and x=1's g=1 population holds
    a NaN."""
    rows = [(x, t, None if x == 0 else "b", t % 2,
             float("nan") if (x, t) == (1, 3) else float(10 * x + t))
            for x in range(2) for t in range(4)]
    df = spark.createDataFrame(
        rows, "x long, t long, lab string, g long, v double")
    return XDataset(df, dims=["x", "t"], coords={"lab": ("x",), "g": ("t",)})


def test_quantile_skipna_false_keeps_null_labelled_population(spark):
    """The NaN-flag join of quantile(skipna=False) is null-safe: the
    population whose kept label is NULL keeps its row."""
    ds = _null_label_frame(spark)
    want = {r["x"] for r in ds.quantile(0.5, dim="t").df.collect()}
    got = {r["x"]: r for r in ds.quantile(0.5, dim="t", skipna=False).df.collect()}
    assert set(got) == want == {0, 1}
    assert got[0]["lab"] is None and got[0]["v"] == 1.5
    assert got[1]["v"] is None or got[1]["v"] != got[1]["v"]  # NaN-poisoned


def test_groupby_quantile_skipna_false_keeps_null_kept_label(spark):
    ds = _null_label_frame(spark)
    out = {(r["x"], r["g"]): r["v"] for r in
           ds.groupby("g").quantile(0.5, skipna=False).df.collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert out[(0, 0)] == 1.0 and out[(0, 1)] == 2.0 and out[(1, 0)] == 11.0
    assert out[(1, 1)] is None or out[(1, 1)] != out[(1, 1)]


def test_local_df_nested_timestamp_matches_list_path(spark):
    """A naive datetime inside a struct field gets the list path's
    driver-local reading too (only top-level fields are localized on
    the Arrow path, so such schemas take the list path)."""
    import datetime as dt
    import time as _time
    from xarray_spark._utils import local_df
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        rows = [(1, (dt.datetime(2024, 1, 1, 0, 0), 2.0)),
                (2, (dt.datetime(2024, 6, 15, 12, 0), None))]
        schema = "k long, s struct<ts: timestamp, w: double>"
        want = sorted(tuple(r) for r in spark.createDataFrame(rows, schema).collect())
        assert sorted(tuple(r) for r in local_df(spark, rows, schema).collect()) == want
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()


def test_materialize_memo_reads_no_columns(spark, monkeypatch):
    """The memo read never resolves df.columns (a py4j schema round
    trip that DataFrame.__getattr__ makes for a missing attribute):
    0 reads on a miss and on a hit."""
    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    owner = next(c for c in type(df).__mro__ if "columns" in c.__dict__)
    fget = owner.__dict__["columns"].fget
    reads = []
    monkeypatch.setattr(owner, "columns", property(
        lambda self: reads.append(1) or fget(self)))
    assert df.columns == ["k", "v"] and len(reads) == 1  # patch is live
    reads.clear()
    assert materialize_if_derived(df) is df  # miss: literal, not derived
    assert reads == []
    assert materialize_if_derived(df) is df  # hit
    assert reads == []


@pytest.mark.parametrize("schema,rows", [
    ("k long, ts timestamp",
     [(1, dt.datetime(2024, 1, 1, 0, 0)), (2, dt.datetime(2024, 6, 15, 12, 0))]),
    (["k", "ts"],
     [(1, dt.datetime(2024, 1, 1, 0, 0)), (2, dt.datetime(2024, 6, 15, 12, 0))]),
    ("k long, s struct<ts: timestamp, w: double>",
     [(1, (dt.datetime(2024, 1, 1, 0, 0), 2.0)),
      (2, (dt.datetime(2024, 6, 15, 12, 0), None))]),
    (["k", "s"],
     [(1, [dt.datetime(2024, 1, 1, 0, 0)]),
      (2, [dt.datetime(2024, 6, 15, 12, 0)])]),
], ids=["top_typed", "top_names", "nested_typed", "nested_names"])
def test_local_df_without_arrow_naive_timestamps_match_list_path(
        spark, schema, rows):
    """With Arrow disabled, rows holding a naive datetime (top-level or
    nested, typed or names-only schema) take the list path, which reads
    them in the driver's time zone; the parallelize fallback would read
    them in the Python workers' zone."""
    import time as _time
    from xarray_spark._utils import local_df
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key, None)
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    _time.tzset()
    spark.conf.set(key, "false")
    try:
        want = sorted(tuple(r) for r in spark.createDataFrame(rows, schema).collect())
        assert sorted(tuple(r) for r in local_df(spark, rows, schema).collect()) == want
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
