"""Differential wave 39 (round 7): reference-diff coverage for the
rows the round-6 verdict table marked "repo-test" only — polyval,
combine_first, update, groupby first/last, full/zeros/ones_like,
generic reduce, to_dataframe/to_series/to_dict, set_coords/
reset_coords, thin/head/tail values, cumsum/cumprod skipna."""

import sys
import warnings

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, "/root/reference")
xr = pytest.importorskip("xarray")

from xarray_spark import XDataset  # noqa: E402
from xarray_spark.computation import polyval  # noqa: E402

warnings.filterwarnings("ignore")


@pytest.fixture(scope="module")
def pair(spark):
    spec = {"v": ("t", [1.0, 2.0, 3.0, 4.0, 5.0])}
    return (XDataset(dict(spec)), xr.Dataset(dict(spec)))


def _v(o, col="v", sort=("t",)):
    return o.to_pandas().sort_values(list(sort))[col].tolist()


class TestPolyval:
    def test_polyval_matches_reference(self, pair):
        o, r = pair
        coeffs = {0: 2.0, 1: 3.0, 2: 1.0}
        ref_c = xr.DataArray(list(coeffs.values()), dims=["degree"],
                             coords={"degree": list(coeffs)})
        want = xr.polyval(r["t"], ref_c).values.tolist()
        got = polyval(o["t"], coeffs)
        gv = got.to_pandas().sort_values("t")[got.name].tolist()
        assert gv == pytest.approx(want)


class TestCombineFirstUpdate:
    def test_combine_first(self, spark):
        a_spec = {"v": ("t", [1.0, np.nan])}
        b_spec = {"v": ("t", [10.0, 20.0, 30.0])}
        oa = XDataset(dict(a_spec), coords={"t": [0, 1]})
        ob = XDataset(dict(b_spec), coords={"t": [1, 2, 3]})
        ra = xr.Dataset(dict(a_spec), coords={"t": [0, 1]})
        rb = xr.Dataset(dict(b_spec), coords={"t": [1, 2, 3]})
        got = oa.combine_first(ob).to_pandas().sort_values("t")
        want = ra.combine_first(rb)
        assert got["v"].tolist() == pytest.approx(
            want["v"].values.tolist())
        assert got["t"].tolist() == want["t"].values.tolist()

    def test_update_adds_var(self, pair):
        o, r = pair
        ou = o.update({"w": ("t", [9.0, 8.0, 7.0, 6.0, 5.0])})
        r2 = r.copy()
        r2.update({"w": ("t", [9.0, 8.0, 7.0, 6.0, 5.0])})
        assert sorted(ou.data_vars) == sorted(r2.data_vars)
        assert _v(ou, "w") == r2["w"].values.tolist()

    def test_update_overwrites_var(self, pair):
        o, r = pair
        ou = o.update({"v": ("t", [0.0, 0.0, 0.0, 0.0, 1.0])})
        r2 = r.copy()
        r2.update({"v": ("t", [0.0, 0.0, 0.0, 0.0, 1.0])})
        assert _v(ou) == r2["v"].values.tolist()


class TestGroupbyFirstLast:
    @pytest.fixture(scope="class")
    def gpair(self, spark):
        spec = {"v": ("t", [np.nan, 2.0, 3.0, np.nan])}
        coords = {"t": range(4), "k": ("t", [0, 0, 1, 1])}
        return (XDataset(dict(spec), coords=dict(coords)),
                xr.Dataset(dict(spec), coords=dict(coords)))

    def test_first_skips_nan(self, gpair):
        o, r = gpair
        a = o.groupby("k").first().to_pandas().sort_values("k")["v"]
        b = r.groupby("k").first()["v"].values
        assert a.tolist() == pytest.approx(b.tolist())

    def test_last_skips_nan(self, gpair):
        o, r = gpair
        a = o.groupby("k").last().to_pandas().sort_values("k")["v"]
        b = r.groupby("k").last()["v"].values
        assert a.tolist() == pytest.approx(b.tolist())


class TestLikeConstructors:
    def test_full_like_value_and_dtype(self, pair):
        o, r = pair
        from xarray_spark.computation import full_like
        a = full_like(o, 7)
        b = xr.full_like(r, 7)
        assert _v(a) == b["v"].values.tolist()

    def test_zeros_ones_like(self, pair):
        o, r = pair
        from xarray_spark.computation import ones_like, zeros_like
        assert _v(zeros_like(o)) == xr.zeros_like(r)["v"].values.tolist()
        assert _v(ones_like(o)) == xr.ones_like(r)["v"].values.tolist()


class TestGenericReduce:
    def test_reduce_max(self, pair):
        o, r = pair
        a = o.reduce(np.max, dim="t").to_pandas()["v"].iloc[0]
        b = float(r.reduce(np.max, dim="t")["v"].values)
        assert a == b

    def test_reduce_sum_keeps_other_dims(self, spark):
        spec = {"w": (("x", "y"), [[1.0, 2.0], [3.0, 4.0]])}
        o = XDataset(dict(spec)).reduce(np.sum, dim="y")
        r = xr.Dataset(dict(spec)).reduce(np.sum, dim="y")
        assert (o.to_pandas().sort_values("x")["w"].tolist()
                == r["w"].values.tolist())


class TestPandasBridges:
    def test_to_dataframe_matches(self, pair):
        o, r = pair
        a = o.to_dataframe().reset_index().sort_values("t")
        b = r.to_dataframe().reset_index().sort_values("t")
        assert a["v"].tolist() == b["v"].values.tolist()
        assert a["t"].tolist() == b["t"].values.tolist()

    def test_to_series_matches(self, pair):
        o, r = pair
        a = o["v"].to_series().sort_index()
        b = r["v"].to_series().sort_index()
        assert a.tolist() == b.tolist()
        assert list(a.index) == list(b.index)

    def test_to_dict_structure(self, pair):
        o, r = pair
        a, b = o.to_dict(), r.to_dict()
        assert set(a["data_vars"]) == set(b["data_vars"])
        assert a["data_vars"]["v"]["data"] == b["data_vars"]["v"]["data"]
        assert tuple(a["data_vars"]["v"]["dims"]) == \
            tuple(b["data_vars"]["v"]["dims"])


class TestSetResetCoords:
    def test_set_coords_roundtrip(self, pair):
        o, r = pair
        o2 = o.update({"flag": ("t", [1, 1, 2, 2, 2])})
        r2 = r.assign(flag=("t", [1, 1, 2, 2, 2]))
        oc = o2.set_coords("flag")
        rc = r2.set_coords("flag")
        assert sorted(oc.coords) == sorted(
            k for k in rc.coords if k != "t") or "flag" in oc.coords
        ob = oc.reset_coords("flag")
        rb = rc.reset_coords("flag")
        assert sorted(ob.data_vars) == sorted(rb.data_vars)


class TestHeadTailThinValues:
    def test_thin(self, pair):
        o, r = pair
        assert _v(o.thin(2)) == r.thin(2)["v"].values.tolist()

    def test_head_tail(self, pair):
        o, r = pair
        assert _v(o.head(3)) == r.head(3)["v"].values.tolist()
        assert _v(o.tail(2)) == r.tail(2)["v"].values.tolist()


class TestCumSkipna:
    def test_cumsum_skipna_matrix(self, spark):
        spec = {"v": ("t", [1.0, np.nan, 3.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        for skipna in (True, False):
            a = _v(o.cumsum("t", skipna=skipna))
            b = r.cumsum("t", skipna=skipna)["v"].values
            assert a == pytest.approx(b.tolist(), nan_ok=True), skipna

    def test_cumprod_skipna(self, spark):
        spec = {"v": ("t", [2.0, np.nan, 3.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        a = _v(o.cumprod("t"))
        b = r.cumprod("t")["v"].values
        assert a == pytest.approx(b.tolist(), nan_ok=True)
