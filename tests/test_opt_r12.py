"""Round-12 optimization internals: derived-input materialization.

The optimization round replaced N-fold re-execution of derived
(aggregation-shaped) inputs in concat/align/merge/segmented paths with
a single lazy localCheckpoint (``_utils.materialize_if_derived``).
These tests pin the helper's GATE (fact-shaped plans must pass through
untouched — nothing fact-sized may ever be checkpointed at 100 TB) and
the value-identity of the optimized paths.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xarray_spark import XDataset, get_spark  # noqa: E402
from xarray_spark._utils import materialize_if_derived, two_phase_rank  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = get_spark("test_opt_r12")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_materialize_gate_passes_fact_plans_through(spark):
    """Scan/filter/project plans — and joins over them — are NOT
    checkpointed (they are fact-sized; re-scanning is the cheap path)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    raw = li.where(F.col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    assert materialize_if_derived(raw) is raw
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    joined = li.join(F.broadcast(nat), li.l_suppkey % 25 == nat.n_nationkey)
    assert materialize_if_derived(joined) is joined


def test_materialize_gate_truncates_derived_plans(spark):
    """An aggregate input comes back as a LogicalRDD-backed frame with
    identical rows."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    out = materialize_if_derived(agg)
    assert out is not agg
    tree = out._jdf.queryExecution().analyzed().treeString()
    assert "Aggregate" not in tree  # plan truncated
    a = {(r["l_returnflag"], round(r["q"], 6)) for r in agg.collect()}
    b = {(r["l_returnflag"], round(r["q"], 6)) for r in out.collect()}
    assert a == b


def test_materialize_gate_skips_literal_inputs(spark):
    """Aggregates over LocalRelation/range inputs are free to
    recompute — checkpointing them taxed every tiny in-memory dataset
    (the unit suite slowed ~3× before the file-source gate)."""
    import pandas as pd
    loc = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 2],
                                              "v": [1.0, 2.0, 3.0]}))
    lagg = loc.groupBy("k").agg(F.sum("v").alias("s"))
    assert materialize_if_derived(lagg) is lagg
    rng = spark.range(100).groupBy((F.col("id") % 7).alias("m")).count()
    assert materialize_if_derived(rng) is rng


def test_materialize_gate_skips_streaming(spark):
    src = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    agg = src.groupBy("value").count()
    assert materialize_if_derived(agg) is agg


def test_two_phase_rank_materialized_matches_plain(spark):
    vals = spark.range(0, 500).select(
        (F.xxhash64("id") % 1000).alias("v")).distinct()
    plain = {(r["v"], r["__rnk"], r["__n"])
             for r in two_phase_rank(vals, "v").collect()}
    mat = {(r["v"], r["__rnk"], r["__n"])
           for r in two_phase_rank(vals, "v", materialize=True).collect()}
    assert plain == mat


def test_two_phase_rank_quotes_backtick_column(spark):
    # the SQL-string window must escape a backtick inside the name
    vals = spark.range(0, 50).select((F.col("id") * 3 % 50).alias("a`b"))
    rows = two_phase_rank(vals, "a`b").collect()
    assert len(rows) == 50
    assert all(r["a`b"] == r["__rnk"] and r["__n"] == 50 for r in rows)


def test_dim_labels_memoized_per_instance(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ds = XDataset(li, dims=["l_orderkey", "l_linenumber"])
    a = ds._dim_labels("l_orderkey")
    b = ds._dim_labels("l_orderkey")
    assert a is b  # same DataFrame object — one plan, shared
    # a derived instance starts with a fresh cache
    ds2 = ds._replace(df=ds.df.where(F.col("l_linenumber") == 1))
    assert ds2._dim_labels("l_orderkey") is not a


def test_concat_over_aggregates_single_source_execution(spark):
    """The q142-shaped concat: aggregated inputs concatenate without
    re-scanning the parquet source in the final plan (inputs
    materialize once)."""
    from xarray_spark import concat
    orders = spark.read.parquet(f"{SF}/orders.parquet")

    def part(lo, hi):
        cell = (orders.where((F.col("o_orderdate") >= lo)
                             & (F.col("o_orderdate") < hi))
                .groupBy(F.date_trunc("month", "o_orderdate").alias("m"),
                         F.col("o_orderpriority").alias("p"))
                .agg(F.sum("o_totalprice").alias("v")))
        return XDataset(cell, dims=["m", "p"])

    a, b = part("1995-01-01", "1995-07-01"), part("1995-07-01", "1996-01-01")
    both = concat([a, b], dim="m")
    plan = both.df._jdf.queryExecution().optimizedPlan().treeString()
    assert "Relation" not in plan or "parquet" not in plan.lower(), \
        "concat inputs must be materialized, not re-scanned per branch"
    n = both.df.count()
    assert n == a.df.count() + b.df.count()


def test_label_presence_marker_semantics(spark):
    """Round-12 fused conform: the per-dim presence marker carries the
    exact haver-index set per label (nulls excluded), and the join-type
    predicates select the same label sets the old join fan produced."""
    import pandas as pd
    from xarray_spark.alignment import _label_presence, _marker_label_pred
    a = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3, 3]}))
    b = spark.createDataFrame(pd.DataFrame({"x": [2, 3, 4]}))
    c = spark.createDataFrame(pd.DataFrame({"x": [3.0, 4.0, None]})) \
        .select(F.col("x").cast("long").alias("x"))
    m = _label_presence([a, b, c], "x")
    got = {r["x"]: frozenset(r["__hav"]) for r in m.collect()}
    assert got == {1: frozenset({0}), 2: frozenset({0, 1}),
                   3: frozenset({0, 1, 2}), 4: frozenset({1, 2})}
    def sel(join):
        pred = _marker_label_pred(join, 3)
        return {r["x"] for r in
                (m.where(pred) if pred is not None else m)
                .select("x").collect()}
    assert sel("inner") == {3}
    assert sel("exact") == {3}
    assert sel("left") == {1, 2, 3}
    assert sel("right") == {3, 4}
    assert sel("outer") == {1, 2, 3, 4}


def test_align_marker_missing_matches_anti_join_fallback(spark):
    """The pre-derived missing-label filter (marker path) and the
    anti-join fallback inside _conform_to_labels must agree: outer
    align materializes exactly the labels each dataset lacks."""
    import pandas as pd
    from xarray_spark import align
    from xarray_spark.alignment import _conform_to_labels
    a = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [1, 2, 3], "u": [10.0, 20.0, 30.0]})),
        dims=["t"])
    b = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [2, 3, 4], "v": [0.2, 0.3, 0.4]})),
        dims=["t"])
    a2, b2 = align(a, b, join="outer")
    rows_a = {(r["t"], r["u"]) for r in a2.df.collect()}
    assert rows_a == {(1, 10.0), (2, 20.0), (3, 30.0), (4, None)}
    rows_b = {(r["t"], r["v"]) for r in b2.df.collect()}
    assert rows_b == {(1, None), (2, 0.2), (3, 0.3), (4, 0.4)}
    # fallback path (missing=None) produces the identical frame
    labels = a2.df.select("t").distinct()
    fb = _conform_to_labels(b, "t", labels, restrict=False)
    assert {(r["t"], r["v"]) for r in fb.df.collect()} == rows_b
