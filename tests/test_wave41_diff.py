"""Differential wave 41 (round 7): callable forms (where/assign/
sortby take callables applied to self in the reference) and
array-operand clip/fillna/where(other=)."""

import sys
import warnings

import numpy as np
import pytest

sys.path.insert(0, "/root/reference")
xr = pytest.importorskip("xarray")

from xarray_spark import XDataset  # noqa: E402

warnings.filterwarnings("ignore")


@pytest.fixture(scope="module")
def pair(spark):
    spec = {"v": ("t", [1.0, -2.0, 3.0, -4.0])}
    return (XDataset(dict(spec)), xr.Dataset(dict(spec)))


def _v(o, col="v", sort=("t",)):
    return o.to_pandas().sort_values(list(sort))[col].tolist()


class TestCallableForms:
    def test_where_callable(self, pair):
        o, r = pair
        a = _v(o.where(lambda d: d["v"] > 0))
        b = r.where(lambda d: d["v"] > 0)["v"].values.tolist()
        assert a == pytest.approx(b, nan_ok=True)

    def test_assign_callable_returning_array(self, pair):
        o, r = pair
        a = _v(o.assign(w=lambda d: d["v"] * 2), "w")
        b = r.assign(w=lambda d: d["v"] * 2)["w"].values.tolist()
        assert a == b

    def test_sortby_callable(self, pair):
        o, r = pair
        a = o.sortby(lambda d: d["v"]).to_pandas()["v"].tolist()
        b = r.sortby(lambda d: d["v"])["v"].values.tolist()
        assert a == b

    def test_sortby_dataarray(self, pair):
        o, r = pair
        a = o.sortby(o["v"]).to_pandas()["v"].tolist()
        b = r.sortby(r["v"])["v"].values.tolist()
        assert a == b


class TestArrayOperands:
    def test_clip_array_min(self, pair):
        o, r = pair
        a = _v(o.clip(min=o["v"] * 0))
        b = r.clip(min=r["v"] * 0)["v"].values.tolist()
        assert a == pytest.approx(b)

    def test_where_other_array(self, pair):
        o, r = pair
        a = _v(o.where(o["v"] > 0, other=o["v"] * 10))
        b = r.where(r["v"] > 0, other=r["v"] * 10)["v"].values.tolist()
        assert a == pytest.approx(b)

    def test_fillna_zero_dim_array(self, spark):
        spec = {"v": ("t", [1.0, np.nan, np.nan, 4.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        a = _v(o.fillna(o["v"].mean()))
        b = r.fillna(r["v"].mean())["v"].values.tolist()
        assert a == pytest.approx(b)

    def test_fillna_aligned_dataset(self, spark):
        spec = {"v": ("t", [1.0, np.nan, np.nan, 4.0])}
        fill = {"v": ("t", [9.0, 8.0, 7.0, 6.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        of, rf = XDataset(dict(fill)), xr.Dataset(dict(fill))
        a = _v(o.fillna(of))
        b = r.fillna(rf)["v"].values.tolist()
        assert a == pytest.approx(b)


class TestWeightedDataArray:
    def test_weighted_accepts_dataarray(self, pair):
        o, r = pair
        wt = XDataset({"w2": ("t", [1.0, 2.0, 1.0, 1.0])})["w2"]
        rwt = xr.DataArray([1.0, 2.0, 1.0, 1.0], dims=["t"])
        a = o.weighted(wt).mean("t").to_pandas()["v"].iloc[0]
        b = float(r["v"].weighted(rwt).mean("t"))
        assert a == pytest.approx(b)

    def test_dataarray_weighted_sum(self, pair):
        o, r = pair
        da, rda = o["v"], r["v"]
        a = da.weighted(da * 0 + 1).sum("t").to_pandas()["v"].iloc[0]
        b = float(rda.weighted(rda * 0 + 1).sum("t"))
        assert a == pytest.approx(b)


class TestAlignExclude:
    def test_exclude_skips_dim(self, spark):
        from xarray_spark import align
        a = XDataset({"v": ("t", [1.0, 2.0])}, coords={"t": [0, 1]})
        b = XDataset({"v": ("t", [9.0])}, coords={"t": [1]})
        ra = xr.Dataset({"v": ("t", [1.0, 2.0])}, coords={"t": [0, 1]})
        rb = xr.Dataset({"v": ("t", [9.0])}, coords={"t": [1]})
        oa, ob = align(a, b, exclude=["t"])
        wa, wb = xr.align(ra, rb, exclude=["t"])
        assert oa.to_pandas().shape[0] == wa.sizes["t"]
        assert ob.to_pandas().shape[0] == wb.sizes["t"]
        # without exclude the inner join shrinks both to 1 row
        ia, ib = align(a, b)
        assert ia.to_pandas().shape[0] == 1


class TestApplyUfuncElementwise:
    def test_unary_preserves_dims(self, spark):
        from xarray_spark.computation import apply_ufunc
        spec = {"v": ("t", [1.0, 4.0, 9.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        a = apply_ufunc(np.sqrt, o).to_pandas().sort_values("t")
        b = xr.apply_ufunc(np.sqrt, r)
        assert a["v"].tolist() == b["v"].values.tolist()
        # dim labels untouched (the old whole-frame form squared them)
        assert a["t"].tolist() == [0, 1, 2]

    def test_binary_same_var(self, spark):
        from xarray_spark.computation import apply_ufunc
        spec = {"v": ("t", [1.0, 4.0, 9.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        a = (apply_ufunc(np.add, o, o).to_pandas()
             .sort_values("t")["v"].tolist())
        b = xr.apply_ufunc(np.add, r, r)["v"].values.tolist()
        assert a == b

    def test_kwargs_forwarded(self, spark):
        from xarray_spark.computation import apply_ufunc
        spec = {"v": ("t", [1.0, 4.0, 9.0])}
        o, r = XDataset(dict(spec)), xr.Dataset(dict(spec))
        f = lambda x, p: x ** p  # noqa: E731
        a = (apply_ufunc(f, o, kwargs={"p": 2}).to_pandas()
             .sort_values("t")["v"].tolist())
        b = xr.apply_ufunc(f, r, kwargs={"p": 2})["v"].values.tolist()
        assert a == b
