"""Differential wave 42 (round 8): four surfaces the grep-sweep had
not yet covered —

1. the CF coder ENCODE→DECODE composition matrix, round 3 (times ×
   mask × scale × unsigned × bool interactions, ground truth =
   ``xr.decode_cf`` on identical raw arrays + attrs);
2. GroupBy.map / GroupBy.reduce shape parity (shape-preserving,
   shape-changing, column-adding, multi-key; dtype preservation; the
   duplicate-key-column fix);
3. DataTree inherited-coordinate alignment corners (inheritance
   through empty intermediates, conflict rejection in BOTH insertion
   orders, inherit=False views);
4. the options matrix (arithmetic_join × keep_attrs — binary ops must
   honor OPTIONS['keep_attrs']=False, the wave-42 find).
"""

import sys
import warnings

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/reference")
try:
    import xarray as xr  # noqa: E402
except ImportError:  # the reference package is optional
    xr = None

from xarray_spark import XDataset  # noqa: E402
from xarray_spark.datatree import DataTree  # noqa: E402
from xarray_spark.options import set_options as eng_set  # noqa: E402

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")


# --------------------------------------------------------------------- #
# 1. CF coder matrix round 3
# --------------------------------------------------------------------- #

CF_CASES = [
    # (name, raw values, attrs, numpy dtype, spark type)
    ("mask_scale_offset", [0, 5, -99],
     {"_FillValue": -99, "scale_factor": 0.5, "add_offset": 10.0},
     "int16", "smallint"),
    ("missing_alongside_fill", [1, -88, -99],
     {"_FillValue": -99, "missing_value": -88}, "int16", "smallint"),
    ("unsigned_with_signed_fill", [-1, -2, 3],
     {"_Unsigned": "true", "_FillValue": -1}, "int8", "tinyint"),
    ("unsigned_then_scale", [-1, 3],
     {"_Unsigned": "true", "scale_factor": 2.0}, "int8", "tinyint"),
    ("masked_time", [0, 1, -9],
     {"units": "days since 2000-01-01", "_FillValue": -9},
     "int32", "int"),
    ("scaled_time", [0, 1, 2],
     {"units": "days since 2000-01-01", "scale_factor": 2.0},
     "int32", "int"),
    ("bool_with_fill", [0, 1, -1],
     {"dtype": "bool", "_FillValue": -1}, "int8", "tinyint"),
    ("scale_keeps_nan", [1.0, float("nan")],
     {"scale_factor": 10.0}, "float64", "double"),
    ("offset_only", [1, 2], {"add_offset": 5.0}, "int16", "smallint"),
    ("missing_value_zero", [0, 1, 2],
     {"missing_value": 0}, "int16", "smallint"),
    ("scale_then_offset_order", [2, 4],
     {"scale_factor": 3.0, "add_offset": 1.0}, "int16", "smallint"),
    ("fill_in_raw_space", [20, -99],
     {"_FillValue": -99, "add_offset": -99.0}, "int16", "smallint"),
]


def _ref_decode(raw, attrs, dtype):
    arr = np.array(raw, dtype=dtype)
    ds = xr.Dataset({"v": ("t", arr, dict(attrs))},
                    coords={"t": range(len(raw))})
    return xr.decode_cf(ds)["v"].values


def _eng_decode(spark, raw, attrs, spark_type):
    from xarray_spark.backends import _cf_decoders_from_attrs
    from xarray_spark.io import decode_cf
    df = spark.createDataFrame([(i, v) for i, v in enumerate(raw)],
                               f"t int, v {spark_type}")
    spec = _cf_decoders_from_attrs({"v": dict(attrs)})
    rows = decode_cf(df, spec).orderBy("t").collect()
    return [r["v"] for r in rows]


@needs_xr
@pytest.mark.parametrize("name,raw,attrs,npdt,sdt", CF_CASES,
                         ids=[c[0] for c in CF_CASES])
def test_cf_decode_composition(spark, name, raw, attrs, npdt, sdt):
    ref = _ref_decode(raw, attrs, npdt)
    got = _eng_decode(spark, raw, attrs, sdt)
    if ref.dtype.kind == "M":
        exp = [None if np.isnat(x) else pd.Timestamp(x).to_pydatetime()
               for x in ref]
        got = [None if g is None else g.replace(tzinfo=None) for g in got]
        assert got == exp
    elif ref.dtype.kind == "b":
        assert [bool(g) for g in got] == [bool(x) for x in ref]
    else:
        exp = [None if (isinstance(x, float) and np.isnan(x)) else float(x)
               for x in ref.tolist()]
        norm = [None if g is None
                or (isinstance(g, float) and np.isnan(g)) else float(g)
                for g in got]
        assert norm == exp


def test_cf_bool_coder_skips_mask(spark):
    # round-9 correction of the wave-42 pin: the reference runs
    # CFMaskCoder BEFORE BooleanCoder, so the sentinel becomes NaN and
    # decodes True REGARDLESS of its truth value (for -1 that happens
    # to equal its truthiness — the falsy-sentinel case below is where
    # the old cast-alone reading diverged)
    got = _eng_decode(spark, [0, 1, -1],
                      {"dtype": "bool", "_FillValue": -1}, "tinyint")
    assert [bool(g) for g in got] == [False, True, True]


@needs_xr
@pytest.mark.parametrize("attrs", [
    {"dtype": "bool", "_FillValue": 0},
    {"dtype": "bool", "missing_value": 0},
], ids=["fill_zero", "missing_zero"])
def test_cf_bool_falsy_sentinel_decodes_true(spark, attrs):
    """ADVICE r9 #5: a FALSY sentinel (_FillValue=0) still decodes
    True — mask-first order turns it into NaN, and NaN casts True.
    Reference-diffed."""
    ref = _ref_decode([0, 1, 0], dict(attrs), "int8")
    got = _eng_decode(spark, [0, 1, 0], attrs, "tinyint")
    assert [bool(g) for g in got] == [bool(x) for x in ref] == [
        True, True, True]
    assert None not in got


# --------------------------------------------------------------------- #
# 2. GroupBy.map / reduce shape parity
# --------------------------------------------------------------------- #

@pytest.fixture(scope="module")
def gpair(spark):
    coords = {"t": [0, 1, 2, 3, 4, 5],
              "k": ("t", ["a", "b", "a", "b", "a", "b"])}
    spec = {"v": ("t", [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),
            "w": ("t", [10.0, 20.0, 30.0, 40.0, 50.0, 60.0])}
    return (XDataset(dict(spec), coords=coords),
            xr.Dataset(dict(spec), coords=coords))


class TestGroupByMapReduce:
    @needs_xr
    def test_map_shape_preserving(self, gpair):
        o, r = gpair
        rm = r.groupby("k").map(lambda d: d - d.mean())
        om = o.groupby("k").map(lambda p: p.assign(
            v=p["v"] - p["v"].mean(), w=p["w"] - p["w"].mean()))
        got = om.to_pandas().sort_values("t")
        np.testing.assert_allclose(got["v"].to_numpy(), rm["v"].values)
        np.testing.assert_allclose(got["w"].to_numpy(), rm["w"].values)

    @needs_xr
    def test_map_no_duplicate_key_column(self, gpair):
        o, _ = gpair
        om = o.groupby("k").map(lambda p: p.iloc[:1])
        cols = om.df.columns
        assert cols.count("k") == 1, cols
        assert not [c for c in cols if c.startswith("__key_")], cols

    @needs_xr
    def test_map_shape_changing_head(self, gpair):
        o, r = gpair
        rh = r.groupby("k").map(lambda d: d.isel(t=slice(0, 1)))
        oh = o.groupby("k").map(lambda p: p.iloc[:1])
        got = sorted(oh.to_pandas()[["t", "v"]].values.tolist())
        exp = sorted(np.stack([rh["t"].values, rh["v"].values], 1).tolist())
        assert got == exp

    @needs_xr
    def test_map_preserves_int_dim_dtype(self, gpair):
        o, _ = gpair
        oh = o.groupby("k").map(lambda p: p.iloc[:1])
        assert dict(oh.to_pandas().dtypes.astype(str))["t"] == "int64"

    @needs_xr
    def test_map_adding_column(self, gpair):
        o, r = gpair
        rm = r.groupby("k").map(lambda d: d.assign(z=d["v"] * 0 + d["v"].sum()))
        om = o.groupby("k").map(lambda p: p.assign(z=p["v"].sum()))
        got = om.to_pandas().sort_values("t")["z"].tolist()
        assert got == rm["z"].values.tolist()

    @needs_xr
    def test_reduce_max(self, gpair):
        o, r = gpair
        rr = r.groupby("k").reduce(np.max)
        got = o.groupby("k").reduce(np.max).to_pandas().sort_values("k")
        assert got["v"].tolist() == rr["v"].values.tolist()
        assert got["w"].tolist() == rr["w"].values.tolist()

    @needs_xr
    def test_reduce_sum_dim(self, gpair):
        o, r = gpair
        rr = r.groupby("k").reduce(np.sum, dim="t")
        got = o.groupby("k").reduce(np.sum, dim="t") \
               .to_pandas().sort_values("k")
        assert got["v"].tolist() == rr["v"].values.tolist()

    @needs_xr
    def test_reduce_ptp_custom(self, gpair):
        o, r = gpair
        rr = r.groupby("k").reduce(np.ptp)
        got = o.groupby("k").reduce(np.ptp).to_pandas().sort_values("k")
        assert got["v"].tolist() == rr["v"].values.tolist()

    def test_map_multikey_expression(self, spark):
        o = XDataset({"v": ("t", [1.0, 2.0, 3.0, 4.0])},
                     coords={"t": [0, 1, 2, 3],
                             "k": ("t", ["a", "a", "b", "b"])})
        om = o.groupby("k").map(
            lambda p: p.assign(v=p["v"].cumsum()))
        got = om.to_pandas().sort_values("t")["v"].tolist()
        assert got == [1.0, 3.0, 3.0, 7.0]

    @needs_xr
    def test_groupby_arithmetic_broadcast_back(self, gpair):
        o, r = gpair
        rg = r.groupby("k") - r.groupby("k").mean()
        og = o.groupby("k") - o.groupby("k").mean()
        got = og.to_pandas().sort_values("t")["v"].tolist()
        assert got == rg["v"].values.tolist()


# --------------------------------------------------------------------- #
# 3. DataTree inherited coordinates
# --------------------------------------------------------------------- #

class TestDataTreeInheritance:
    def _reftree(self):
        return xr.DataTree.from_dict({
            "/": xr.Dataset(coords={"t": [10, 20, 30]}),
            "/a": xr.Dataset({"v": ("t", [1.0, 2.0, 3.0])})})

    @needs_xr
    def test_child_inherits_parent_labels(self, spark):
        ref = self._reftree()
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0, 0])},
                          coords={"t": [10, 20, 30]})
        t["/a"] = XDataset({"v": ("t", [1.0, 2.0, 3.0])})
        got = t.to_dataset("/a").to_pandas().sort_values("t")
        assert got["t"].tolist() == ref["a"].ds["t"].values.tolist()
        assert got["v"].tolist() == ref["a"].ds["v"].values.tolist()

    def test_inherit_false_keeps_local_positional(self, spark):
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0])}, coords={"t": [7, 8]})
        t["/a"] = XDataset({"v": ("t", [1.0, 2.0])})
        raw = t.to_dataset("/a", inherit=False).to_pandas()
        assert sorted(raw["t"].tolist()) == [0, 1]

    @needs_xr
    def test_conflicting_child_rejected(self, spark):
        with pytest.raises(ValueError, match="not aligned"):
            xr.DataTree.from_dict({
                "/": xr.Dataset(coords={"t": [0, 1, 2]}),
                "/b": xr.Dataset({"v": ("t", [1.0, 2.0])},
                                 coords={"t": [5, 6]})})
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0, 0])},
                          coords={"t": [0, 1, 2]})
        with pytest.raises(ValueError, match="not aligned"):
            t["/b"] = XDataset({"v": ("t", [1.0, 2.0])},
                               coords={"t": [5, 6]})

    def test_conflict_caught_when_root_arrives_last(self, spark):
        t = DataTree()
        t["/a"] = XDataset({"v": ("t", [1.0, 2.0])}, coords={"t": [5, 6]})
        with pytest.raises(ValueError, match="not aligned"):
            t["/"] = XDataset({"__c": ("t", [0, 0])}, coords={"t": [7, 8]})

    @needs_xr
    def test_same_labels_accepted(self, spark):
        same = xr.DataTree.from_dict({
            "/": xr.Dataset(coords={"t": [0, 1, 2]}),
            "/c": xr.Dataset({"v": ("t", [1.0, 2.0, 3.0])},
                             coords={"t": [0, 1, 2]})})
        assert same["c"].ds["t"].values.tolist() == [0, 1, 2]
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0, 0])},
                          coords={"t": [0, 1, 2]})
        t["/c"] = XDataset({"v": ("t", [1.0, 2.0, 3.0])},
                           coords={"t": [0, 1, 2]})
        got = t.to_dataset("/c").to_pandas()
        assert sorted(got["t"].tolist()) == [0, 1, 2]

    @needs_xr
    def test_grandchild_inherits_through_empty_intermediate(self, spark):
        ref = xr.DataTree.from_dict({
            "/": xr.Dataset(coords={"t": [7, 8]}),
            "/a": xr.Dataset(),
            "/a/b": xr.Dataset({"v": ("t", [3.0, 4.0])})})
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0])}, coords={"t": [7, 8]})
        t["/a"] = XDataset({"w": ("x", [1.0])})
        t["/a/b"] = XDataset({"v": ("t", [3.0, 4.0])})
        got = t.to_dataset("/a/b").to_pandas().sort_values("t")
        assert got["t"].tolist() == ref["a/b"].ds["t"].values.tolist()

    def test_nearest_ancestor_wins(self, spark):
        # /a overrides the root's t; /a/b inherits from /a, not /
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0])}, coords={"t": [1, 2]})
        t["/a"] = XDataset({"__c": ("t", [0, 0])}, coords={"t": [0, 1]})
        t["/a/b"] = XDataset({"v": ("t", [3.0, 4.0])})
        got = t.to_dataset("/a/b").to_pandas().sort_values("t")
        assert got["t"].tolist() == [0, 1]

    def test_unrelated_dims_not_validated(self, spark):
        t = DataTree()
        t["/"] = XDataset({"__c": ("t", [0, 0])}, coords={"t": [7, 8]})
        t["/a"] = XDataset({"w": ("x", [1.0, 2.0, 3.0])},
                           coords={"x": [100, 200, 300]})
        got = t.to_dataset("/a").to_pandas()
        assert sorted(got["x"].tolist()) == [100, 200, 300]


# --------------------------------------------------------------------- #
# 4. options matrix: arithmetic_join × keep_attrs
# --------------------------------------------------------------------- #

def _join_pair():
    a = xr.Dataset({"v": ("x", [1.0, 2.0, 3.0])},
                   coords={"x": [0, 1, 2]}, attrs={"s": "A"})
    b = xr.Dataset({"v": ("x", [10.0, 20.0, 30.0])},
                   coords={"x": [1, 2, 3]}, attrs={"s": "B"})
    oa = XDataset({"v": ("x", [1.0, 2.0, 3.0])},
                  coords={"x": [0, 1, 2]}, attrs={"s": "A"})
    ob = XDataset({"v": ("x", [10.0, 20.0, 30.0])},
                  coords={"x": [1, 2, 3]}, attrs={"s": "B"})
    return a, b, oa, ob


@needs_xr
@pytest.mark.parametrize("join", ["inner", "outer", "left", "right"])
@pytest.mark.parametrize("ka", [True, False])
def test_arithmetic_join_times_keep_attrs(spark, join, ka):
    a, b, oa, ob = _join_pair()
    with xr.set_options(arithmetic_join=join, keep_attrs=ka):
        ref = a + b
    with eng_set(arithmetic_join=join, keep_attrs=ka):
        got = oa + ob
    p = got.to_pandas().sort_values("x")
    assert p["x"].tolist() == ref["x"].values.tolist()
    rv = [None if np.isnan(x) else x for x in ref["v"].values.tolist()]
    gv = [None if pd.isna(x) else x for x in p["v"].tolist()]
    assert gv == rv
    assert dict(got.attrs or {}) == dict(ref.attrs)


@needs_xr
def test_binop_attrs_merge_drop_conflicts(spark):
    # reference ds⊗ds attrs semantics: union with conflicting keys
    # dropped ('drop_conflicts'); identical attrs survive whole
    a = xr.Dataset({"v": ("x", [1.0])}, attrs={"s": "A", "u": "m"})
    b = xr.Dataset({"v": ("x", [2.0])},
                   attrs={"s": "B", "u": "m", "extra": 1})
    oa = XDataset({"v": ("x", [1.0])}, attrs={"s": "A", "u": "m"})
    ob = XDataset({"v": ("x", [2.0])},
                  attrs={"s": "B", "u": "m", "extra": 1})
    assert dict((oa + ob).attrs or {}) == dict((a + b).attrs)
    assert dict((a + b).attrs) == {"u": "m", "extra": 1}
    same = XDataset({"v": ("x", [1.0])}, attrs={"s": "A"})
    assert dict((same + same).attrs or {}) == {"s": "A"}


@needs_xr
def test_binop_scalar_honors_keep_attrs_false(spark):
    _, _, oa, _ = _join_pair()
    ra = xr.Dataset({"v": ("x", [1.0])}, attrs={"s": "A"})
    with xr.set_options(keep_attrs=False):
        ref = ra * 2
    with eng_set(keep_attrs=False):
        got = oa * 2
    assert dict(got.attrs or {}) == dict(ref.attrs)


@needs_xr
def test_reduction_keep_attrs_matrix(spark):
    ra = xr.Dataset({"v": ("t", [1.0, 2.0])}, attrs={"s": "X"})
    oa = XDataset({"v": ("t", [1.0, 2.0])}, attrs={"s": "X"})
    for ka in (True, False):
        assert dict(oa.mean(keep_attrs=ka).attrs or {}) == \
            dict(ra.mean(keep_attrs=ka).attrs)
    # option-driven default
    for ka in (True, False):
        with xr.set_options(keep_attrs=ka):
            ref = ra.mean()
        with eng_set(keep_attrs=ka):
            got = oa.mean()
        assert dict(got.attrs or {}) == dict(ref.attrs)
