"""Differential wave 38 (round 7): groupby arithmetic / groupby
quantile / weighted quantile, the remaining str surface
(pad/center/partition/rpartition/wrap/normalize/slice_replace/
get_dummies reference layout), and dt isocalendar/strftime/floor/
ceil/round — each against the reference on shared inputs."""

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

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")


@pytest.fixture(scope="module")
def gb_pair(spark):
    spec = {"data_vars": {"v": ("t", [1.0, 4.0, 2.0, 8.0, 5.0, 7.0])},
            "coords": {"t": range(6), "k": ("t", [0, 0, 0, 1, 1, 1])}}
    return (XDataset(spec["data_vars"], coords=spec["coords"]),
            xr.Dataset(spec["data_vars"], coords=spec["coords"]))


def _v(o, col="v", sort=("t",)):
    return o.to_pandas().sort_values(list(sort))[col].tolist()


@needs_xr
class TestGroupByArithmetic:
    def test_groupby_sub_mean(self, gb_pair):
        o, r = gb_pair
        a = _v(o.groupby("k") - o.groupby("k").mean())
        b = (r.groupby("k") - r.groupby("k").mean())["v"].values
        assert a == pytest.approx(b.tolist())

    def test_groupby_div_max(self, gb_pair):
        o, r = gb_pair
        a = _v(o.groupby("k") / o.groupby("k").max())
        b = (r.groupby("k") / r.groupby("k").max())["v"].values
        assert a == pytest.approx(b.tolist())

    def test_groupby_quantile_scalar(self, gb_pair):
        o, r = gb_pair
        a = (o.groupby("k").quantile(0.5).to_pandas()
             .sort_values("k")["v"].tolist())
        b = r.groupby("k").quantile(0.5)["v"].values
        assert a == pytest.approx(b.tolist())

    def test_groupby_quantile_list_methods(self, gb_pair):
        o, r = gb_pair
        for m in ("linear", "lower", "nearest", "midpoint"):
            a = (o.groupby("k").quantile([0.25, 0.75], method=m)
                 .to_pandas().sort_values(["k", "quantile"])["v"].tolist())
            b = r.groupby("k").quantile([0.25, 0.75], method=m)["v"] \
                .values.ravel().tolist()
            assert a == pytest.approx(b), m

    def test_groupby_cumsum(self, gb_pair):
        o, r = gb_pair
        a = _v(o.groupby("k").cumsum())
        b = r.groupby("k").cumsum()["v"].values
        assert a == pytest.approx(b.tolist())


@needs_xr
class TestWeightedQuantile:
    def test_weighted_quantile_matches_reference(self, spark):
        vals = [1.0, 4.0, 2.0, 8.0, 5.0, 7.0]
        w = [1.0, 2.0, 1.0, 1.0, 3.0, 1.0]
        spec = {"v": ("t", vals)}
        o = XDataset(dict(spec), coords={"w": ("t", w)})
        ref = xr.Dataset(dict(spec))
        rw = xr.DataArray(w, dims=["t"])
        for q in (0.25, 0.5, 0.9):
            a = (o.weighted("w").quantile(q).to_pandas()["v"].iloc[0])
            b = float(ref["v"].weighted(rw).quantile(q))
            assert a == pytest.approx(b), q


@pytest.fixture(scope="module")
def str_pair(spark):
    texts = ["hello world", "xy", "a|b", ""]
    return (XDataset({"s": ("t", texts)})["s"],
            xr.DataArray(texts, dims=["t"]))


def _s(o, col="s"):
    return o.to_pandas().sort_values("t")[col].tolist()


@needs_xr
class TestStrSurface:
    def test_pad_both(self, str_pair):
        o, r = str_pair
        assert (_s(o.str.pad(6, side="both", fillchar="-"))
                == r.str.pad(6, side="both", fillchar="-").values.tolist())

    @pytest.mark.parametrize("side", ["left", "right"])
    def test_pad_sides(self, str_pair, side):
        o, r = str_pair
        assert (_s(o.str.pad(7, side=side, fillchar="*"))
                == r.str.pad(7, side=side, fillchar="*").values.tolist())

    def test_center(self, str_pair):
        o, r = str_pair
        assert _s(o.str.center(8)) == r.str.center(8).values.tolist()

    def test_partition_struct(self, str_pair):
        o, r = str_pair
        got = o.str.partition(" ").to_pandas().sort_values("t")["s"]
        want = r.str.partition(" ").values.tolist()
        assert [[g["head"], g["sep"], g["tail"]] for g in got] == want

    def test_rpartition_struct(self, spark):
        texts = ["a b c", "nospace"]
        o = XDataset({"s": ("t", texts)})["s"]
        r = xr.DataArray(texts, dims=["t"])
        got = o.str.rpartition(" ").to_pandas().sort_values("t")["s"]
        want = r.str.rpartition(" ").values.tolist()
        assert [[g["head"], g["sep"], g["tail"]] for g in got] == want

    def test_wrap(self, str_pair):
        o, r = str_pair
        assert _s(o.str.wrap(5)) == r.str.wrap(5).values.tolist()

    def test_slice_replace(self, str_pair):
        o, r = str_pair
        assert (_s(o.str.slice_replace(1, 3, "ZZ"))
                == r.str.slice_replace(1, 3, "ZZ").values.tolist())

    def test_normalize(self, spark):
        texts = ["éclair", "café"]
        o = XDataset({"s": ("t", texts)})["s"]
        r = xr.DataArray(texts, dims=["t"])
        assert (_s(o.str.normalize("NFC"))
                == r.str.normalize("NFC").values.tolist())

    def test_swapcase_casefold(self, str_pair):
        o, r = str_pair
        assert _s(o.str.swapcase()) == r.str.swapcase().values.tolist()
        assert _s(o.str.casefold()) == r.str.casefold().values.tolist()

    def test_get_dummies_reference_layout(self, spark):
        texts = ["a|b", "c", "", "b|d"]
        o = XDataset({"s": ("t", texts)})["s"]
        r = xr.DataArray(texts, dims=["t"])
        oo = o.str.get_dummies(dim="tok")
        rr = r.str.get_dummies(dim="tok")
        assert oo.dims == ("t", "tok")
        op = oo.to_pandas().sort_values(["t", "tok"])
        rlabels = [str(x) for x in rr["tok"].values]
        # same token label set
        assert sorted(set(op["tok"])) == sorted(rlabels)
        grid = (op.pivot(index="t", columns="tok", values="s")
                [sorted(rlabels)].to_numpy())
        rgrid = rr.sel(tok=sorted(rlabels)).values
        assert grid.tolist() == rgrid.tolist()


class TestDtSurface:
    @needs_xr
    def test_isocalendar_year_boundary(self, spark):
        dates = pd.date_range("2024-12-28", periods=6, freq="D")
        pdf = pd.DataFrame({"t": range(6), "ts": dates})
        o = XDataset(spark.createDataFrame(pdf), dims=["t"])["ts"]
        r = xr.DataArray(dates, dims=["t"])
        got = o.dt.isocalendar().to_pandas().sort_values("t")["ts"]
        ref = r.dt.isocalendar()
        assert [g["year"] for g in got] == ref["year"].values.tolist()
        assert [g["week"] for g in got] == ref["week"].values.tolist()
        # the reference Dataset names the ISO day field 'weekday'
        assert [g["weekday"] for g in got] == \
            ref["weekday"].values.tolist()

    @needs_xr
    def test_strftime_literals_and_directives(self, spark):
        dates = pd.to_datetime(["2024-03-05 13:07:09", "1999-12-31 23:59:58"])
        pdf = pd.DataFrame({"t": range(2), "ts": dates})
        o = XDataset(spark.createDataFrame(pdf), dims=["t"])["ts"]
        r = xr.DataArray(dates, dims=["t"])
        for fmt in ("%Y/%m/%d", "%Y-%m-%dT%H:%M:%S", "day %d of %B %Y",
                    "%j", "%y%%"):
            a = o.dt.strftime(fmt).to_pandas().sort_values("t")["ts"].tolist()
            b = r.dt.strftime(fmt).values.tolist()
            # %j: strftime zero-pads to 3 like DDD
            assert a == b, fmt

    def test_strftime_unknown_directive_raises(self, spark):
        pdf = pd.DataFrame({"t": [0], "ts": pd.to_datetime(["2024-01-01"])})
        o = XDataset(spark.createDataFrame(pdf), dims=["t"])["ts"]
        with pytest.raises(NotImplementedError):
            o.dt.strftime("%c").df.collect()

    @needs_xr
    @pytest.mark.parametrize("meth,freq", [("floor", "2h"),
                                           ("ceil", "30min"),
                                           ("round", "h")])
    def test_floor_ceil_round(self, spark, meth, freq):
        dates = pd.to_datetime(["2024-01-01 13:47:00",
                                "2024-01-01 00:30:00",
                                "2024-01-01 23:59:59"])
        pdf = pd.DataFrame({"t": range(3), "ts": dates})
        o = XDataset(spark.createDataFrame(pdf), dims=["t"])["ts"]
        r = xr.DataArray(dates, dims=["t"])
        a = (getattr(o.dt, meth)(freq).to_pandas().sort_values("t")["ts"]
             .astype("datetime64[ns]").tolist())
        b = pd.to_datetime(getattr(r.dt, meth)(freq).values).tolist()
        assert a == b, (meth, freq)
