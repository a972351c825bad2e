"""Differential wave 35: the dict-style constructors and the
coordinate-container surface added late in round 6 — the reference's
most common construction idioms (``Dataset(data_vars, coords)``,
``DataArray(data, coords, dims, name)``,
``Coordinates.from_pandas_multiindex``, ``Context`` in combine_attrs
callables) — each behavior compared against the reference xarray."""

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

from xarray_spark import (  # noqa: E402
    Context, Coordinates, XDataArray, XDataset, merge,
)

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")


@needs_xr
def test_dict_ctor_values_match_reference(spark):
    arr = np.arange(6.0).reshape(2, 3)
    r = xr.Dataset({"t": (("x", "y"), arr), "u": ("x", [10.0, 20.0])},
                   coords={"x": [1, 2], "y": list("abc"),
                           "lbl": ("x", ["p", "q"])},
                   attrs={"title": "demo"})
    o = XDataset({"t": (("x", "y"), arr), "u": ("x", [10.0, 20.0])},
                 coords={"x": [1, 2], "y": list("abc"),
                         "lbl": ("x", ["p", "q"])},
                 attrs={"title": "demo"})
    assert o.dims == tuple(r.dims)
    assert set(o.coords) == set(r.coords) - set(r.dims)
    assert o.attrs == dict(r.attrs)
    assert np.allclose(o["t"].values, arr.ravel())
    # a reduction over the grid matches the reference's
    assert np.allclose(o["t"].mean("y").values,
                       r["t"].mean("y").values)


@needs_xr
def test_dict_ctor_positional_coords_slot(spark):
    # reference positional form: Dataset(data_vars, coords)
    r = xr.Dataset({"v": ("x", [1.0, 2.0])}, {"x": [5, 6]})
    o = XDataset({"v": ("x", [1.0, 2.0])}, {"x": [5, 6]})
    assert np.allclose(o["v"].values, r["v"].values)
    assert list(o.to_pandas()["x"]) == list(r["x"].values)


@needs_xr
def test_dict_ctor_dims_without_coords_are_positional(spark):
    r = xr.Dataset({"v": ("x", [7.0, 8.0, 9.0])})
    o = XDataset({"v": ("x", [7.0, 8.0, 9.0])})
    assert np.allclose(o["v"].values, r["v"].values)
    # engine materializes positional integer labels for the dim column
    assert list(o.to_pandas().sort_values("x")["x"]) == [0, 1, 2]


@needs_xr
def test_dict_ctor_conflicting_sizes_raise_both_sides(spark):
    with pytest.raises(ValueError):
        xr.Dataset({"a": ("x", [1, 2]), "b": ("x", [1, 2, 3])})
    with pytest.raises(ValueError):
        XDataset({"a": ("x", [1, 2]), "b": ("x", [1, 2, 3])})


@needs_xr
def test_dataarray_ctor_positional_and_keyword_match_reference(spark):
    r = xr.DataArray([1.0, 4.0, 9.0], {"x": [10, 20, 30]}, "x", "v")
    o_pos = XDataArray([1.0, 4.0, 9.0], {"x": [10, 20, 30]}, "x", "v")
    o_kw = XDataArray([1.0, 4.0, 9.0], dims="x",
                      coords={"x": [10, 20, 30]}, name="v")
    assert o_pos.name == r.name == o_kw.name
    assert o_pos.dims == tuple(r.dims)
    assert np.allclose(o_pos.values, r.values)
    assert np.allclose(o_kw.values, r.values)


@needs_xr
def test_dataarray_default_dim_names_match_reference(spark):
    arr = np.arange(4.0).reshape(2, 2)
    r = xr.DataArray(arr)
    o = XDataArray(arr)
    assert o.dims == tuple(r.dims) == ("dim_0", "dim_1")


@needs_xr
def test_dataarray_dims_inferred_from_coords_order(spark):
    arr = np.arange(6.0).reshape(2, 3)
    r = xr.DataArray(arr, coords={"a": [1, 2], "b": [7, 8, 9]})
    o = XDataArray(arr, coords={"a": [1, 2], "b": [7, 8, 9]})
    assert o.dims == tuple(r.dims)
    assert np.allclose(o.sel(a=2, b=9).values, r.sel(a=2, b=9).values)


@needs_xr
def test_from_pandas_multiindex_levels_match_reference(spark):
    midx = pd.MultiIndex.from_product([[1, 2], ["a", "b"]],
                                      names=["one", "two"])
    rc = xr.Coordinates.from_pandas_multiindex(midx, "z")
    r = xr.Dataset({"v": ("z", [1.0, 2.0, 3.0, 4.0])}, coords=rc)
    oc = Coordinates.from_pandas_multiindex(midx, "z")
    o = XDataset({"v": ("z", [1.0, 2.0, 3.0, 4.0])}, coords=oc)
    # level coords exist on both sides, keyed on z
    assert set(o.coords) == {"one", "two"}
    assert set(r.coords) == {"z", "one", "two"}
    # stacked-tuple sel agrees
    assert float(o.sel(z=(2, "b"))["v"].values[0]) == float(
        r.sel(z=(2, "b"))["v"])
    # level values align
    p = o.to_pandas().sort_values(["one", "two"])
    assert list(p["one"]) == list(midx.get_level_values("one"))
    assert list(p["two"]) == list(midx.get_level_values("two"))


@needs_xr
def test_coordinates_mapping_protocol_and_sizes(spark):
    c = Coordinates({"x": [1, 2, 3], "w": ("x", [0.1, 0.2, 0.3])})
    rc = xr.Coordinates({"x": [1, 2, 3], "w": ("x", [0.1, 0.2, 0.3])})
    assert set(c) == set(rc)
    assert dict(c.sizes) == dict(rc.sizes)
    ds = c.to_dataset()
    assert ds.dims == ("x",) and dict(ds.coords) == {"w": ("x",)}


@needs_xr
def test_combine_attrs_callable_gets_context_keyword(spark):
    seen = {}

    def cb(attrs_list, *, context=None):
        seen["ctx"] = context
        return {"n": len(attrs_list)}

    a = XDataset({"p": ("x", [1.0])}, {"x": [0]}).assign_attrs(s="A")
    b = XDataset({"q": ("x", [2.0])}, {"x": [0]}).assign_attrs(s="B")
    m = merge([a, b], combine_attrs=cb)
    assert m.attrs == {"n": 2}
    assert isinstance(seen["ctx"], Context)
    # the reference also invokes with the context keyword
    ra = xr.Dataset({"p": ("x", [1.0])}, {"x": [0]}, attrs={"s": "A"})
    rb = xr.Dataset({"q": ("x", [2.0])}, {"x": [0]}, attrs={"s": "B"})
    rm = xr.merge([ra, rb], combine_attrs=lambda al, *, context=None: {
        "n": len(al)})
    assert rm.attrs == {"n": 2}


@needs_xr
def test_scalar_data_var_broadcasts_like_reference_values(spark):
    r = xr.Dataset({"s": 5.0, "w": ("x", [1.0, 2.0])},
                   coords={"x": [7, 8]})
    o = XDataset({"s": 5.0, "w": ("x", [1.0, 2.0])},
                 coords={"x": [7, 8]})
    assert float(r["s"]) == 5.0
    p = o.to_pandas()
    assert set(p["s"]) == {5.0}
    assert np.allclose(sorted(p["w"]), r["w"].values)


def test_ctor_cell_guard_points_to_distributed_path(spark):
    import xarray_spark.dataset as dsmod
    old = dsmod._CTOR_MAX_CELLS
    dsmod._CTOR_MAX_CELLS = 10
    try:
        with pytest.raises(ValueError, match="from_dataframe"):
            XDataset({"v": (("x", "y"), np.ones((4, 4)))})
    finally:
        dsmod._CTOR_MAX_CELLS = old


class TestCFTimeIndex:
    """CFTimeIndex over encoded ordinals (cftime.py) — the reference
    class needs the cftime package (absent in this runtime), so these
    pin the engine's own verified ordinal math (roundtrips vs
    _py_ordinal / cf_date_range label tables)."""

    def test_roundtrip_all_calendars(self):
        from xarray_spark.cftime import _py_date, _py_ordinal
        for cal in ["noleap", "all_leap", "360_day", "365_day", "366_day"]:
            for o in [-731, -1, 0, 1, 59, 60, 364, 365, 366, 719, 10957]:
                y, m, d = _py_date(o, cal)
                assert _py_ordinal(y, m, d, cal) == o

    def test_matches_cf_date_range_label_table(self, spark):
        from xarray_spark import CFTimeIndex, cf_date_range
        df = cf_date_range(spark, "2000-01-01", "2002-12-01", "MS",
                           calendar="360_day")
        ix = CFTimeIndex.from_label_table(df, "360_day")
        assert len(ix) == 36
        assert ix.year[0] == 2000 and ix.year[-1] == 2002
        assert ix.month == [m for _ in range(3) for m in range(1, 13)]
        assert all(d == 1 for d in ix.day)
        # bridge back: identical label table
        back = sorted(r[0] for r in ix.to_label_table(spark).collect())
        assert back == sorted(r[0] for r in df.collect())

    def test_shift_and_strftime(self):
        from xarray_spark.cftime import CFTimeIndex, _py_ordinal
        ix = CFTimeIndex([_py_ordinal(2001, 1, 31, "noleap")], "noleap")
        assert ix.shift(2, "D").day == [2] and ix.shift(2, "D").month == [2]
        assert ix.shift(1, "MS").strftime() == ["2001-02-01"]
        assert ix.shift(-1, "MS").strftime("%Y/%j") == ["2000/335"]

    def test_to_datetimeindex_same_labels(self):
        from xarray_spark.cftime import CFTimeIndex, _py_ordinal
        ix = CFTimeIndex([_py_ordinal(1999, 2, 28, "noleap"),
                          _py_ordinal(2000, 2, 28, "noleap")], "noleap")
        di = ix.to_datetimeindex()
        assert [t.month for t in di] == [2, 2]
        assert [t.day for t in di] == [28, 28]
        # 360_day Feb 30 does not exist for real calendars
        bad = CFTimeIndex([_py_ordinal(2000, 2, 30, "360_day")], "360_day")
        with pytest.raises(ValueError):
            bad.to_datetimeindex()

    def test_real_calendar_rejected(self):
        from xarray_spark import CFTimeIndex
        with pytest.raises(ValueError, match="DatetimeIndex"):
            CFTimeIndex([0, 1], "standard")

    def test_from_dataset_dim(self, spark):
        import pandas as pd
        from xarray_spark import CFTimeIndex, XDataset
        from xarray_spark.cftime import _py_ordinal
        ords = [_py_ordinal(2001, m, 15, "noleap") for m in (3, 1, 2)]
        ds = XDataset(spark.createDataFrame(
            pd.DataFrame({"time": ords, "v": [1.0, 2.0, 3.0]})),
            dims=["time"])
        ix = CFTimeIndex.from_label_table(ds, "noleap")
        assert ix.month == [1, 2, 3]  # sorted labels
        assert ix.name == "time"
