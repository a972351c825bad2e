"""``_utils.arrow_map``: adjacent Arrow maps fuse into one Python node,
anything in between keeps them apart, and fused and unfused runs give
the same rows."""

import os
import sys

import pyarrow as pa
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xarray_spark._utils import arrow_map  # noqa: E402

IN = T.StructType([T.StructField("k", T.LongType()),
                   T.StructField("payload", T.BinaryType())])
MID = T.StructType([T.StructField("k", T.LongType()),
                    T.StructField("n", T.IntegerType()),
                    T.StructField("xs", T.ArrayType(T.DoubleType()))])
OUT = T.StructType([T.StructField("k", T.LongType()),
                    T.StructField("total", T.DoubleType())])


def _maps():
    """The two test maps, defined in a function so the Python workers
    receive them by value (this module is not importable there)."""

    def _lengths(batches):
        # yields int64 lengths and a list<item> column: the declared
        # schema's int32 / list<element> come from arrow_map's cast; an
        # empty batch is yielded first on purpose
        first = True
        for b in batches:
            if first:
                first = False
                yield pa.RecordBatch.from_arrays(
                    [pa.array([], pa.int64()), pa.array([], pa.int64()),
                     pa.array([], pa.list_(pa.float64()))], names=["k", "n", "xs"])
            vals = b.column("payload").to_pylist()
            yield pa.RecordBatch.from_arrays([
                b.column("k"),
                pa.array([None if v is None else len(v) for v in vals], pa.int64()),
                pa.array([None if v is None else [float(x) for x in v] for v in vals],
                         pa.list_(pa.float64()))], names=["k", "n", "xs"])

    def _totals(batches):
        for b in batches:
            assert b.schema.field("n").type == pa.int32()
            xs = b.column("xs").to_pylist()
            yield pa.RecordBatch.from_arrays([
                b.column("k"),
                pa.array([None if x is None else float(sum(x)) for x in xs],
                         pa.float64())], names=["k", "total"])

    return _lengths, _totals


def _python_nodes(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for ln in plan.splitlines()
               if "MapInArrow" in ln or "PythonMapInArrow" in ln)


def _src(spark):
    rows = [(1, bytearray(b"\x01\x02")), (2, None), (3, bytearray(b"")),
            (4, bytearray(b"\xff"))]
    return spark.createDataFrame(rows, IN).repartition(2)


def test_direct_maps_fuse_into_one_node(spark):
    _lengths, _totals = _maps()
    fused = arrow_map(arrow_map(_src(spark), _lengths, MID), _totals, OUT)
    assert _python_nodes(fused) == 1


def test_select_between_maps_keeps_two_nodes(spark):
    _lengths, _totals = _maps()
    mid = arrow_map(_src(spark), _lengths, MID).select("*")
    assert _python_nodes(arrow_map(mid, _totals, OUT)) == 2
    cached = arrow_map(_src(spark), _lengths, MID).cache()
    try:
        assert _python_nodes(arrow_map(cached, _totals, OUT)) != 1
    finally:
        cached.unpersist()


def test_fused_and_unfused_rows_are_equal(spark):
    _lengths, _totals = _maps()
    src = _src(spark)
    fused = arrow_map(arrow_map(src, _lengths, MID), _totals, OUT)
    unfused = arrow_map(arrow_map(src, _lengths, MID).select("*"), _totals, OUT)
    got = sorted(tuple(r) for r in fused.collect())
    assert got == sorted(tuple(r) for r in unfused.collect())
    assert got == [(1, 3.0), (2, None), (3, 0.0), (4, 255.0)]
    mid = arrow_map(src, _lengths, MID)
    assert mid.schema == MID
    assert sorted((r["k"], r["n"]) for r in mid.collect()) == [
        (1, 2), (2, None), (3, 0), (4, 1)]
