"""Differential wave 40 (round 7): merge compat corner grid round 2
(conflict raises per mode, NaN-patch no_conflicts, override pick-first)
and where/clip/dropna compositions — the two wave-18 leftovers the
roadmap has carried since round 5."""

import sys
import warnings

import numpy as np
import pytest

sys.path.insert(0, "/root/reference")
xr = pytest.importorskip("xarray")

from xarray_spark import XDataset, merge  # noqa: E402

warnings.filterwarnings("ignore")


def _mk(vals, coords=(0, 1)):
    return ({"v": ("t", list(vals))}, {"t": list(coords)})


def _both(spark, vals, coords=(0, 1)):
    spec, c = _mk(vals, coords)
    return (XDataset(dict(spec), coords=dict(c)),
            xr.Dataset(dict(spec), coords=dict(c)))


class TestMergeCompatGrid:
    @pytest.mark.parametrize("compat", ["identical", "equals",
                                        "broadcast_equals",
                                        "no_conflicts"])
    def test_conflicting_values_raise(self, spark, compat):
        oa, ra = _both(spark, [1.0, 2.0])
        oc, rc = _both(spark, [1.0, 9.0])
        with pytest.raises(Exception):
            xr.merge([ra, rc], compat=compat)
        with pytest.raises(Exception):
            merge([oa, oc], compat=compat).df.collect()

    def test_override_picks_first(self, spark):
        oa, ra = _both(spark, [1.0, 2.0])
        oc, rc = _both(spark, [1.0, 9.0])
        want = xr.merge([ra, rc], compat="override")["v"].values.tolist()
        got = (merge([oa, oc], compat="override").to_pandas()
               .sort_values("t")["v"].tolist())
        assert got == want == [1.0, 2.0]

    def test_no_conflicts_nan_patch(self, spark):
        od, rd = _both(spark, [1.0, np.nan])
        oe, re_ = _both(spark, [np.nan, 5.0])
        want = xr.merge([rd, re_], compat="no_conflicts")["v"] \
            .values.tolist()
        got = (merge([od, oe], compat="no_conflicts").to_pandas()
               .sort_values("t")["v"].tolist())
        assert got == want == [1.0, 5.0]

    def test_equal_values_pass_all_modes(self, spark):
        for compat in ("identical", "equals", "no_conflicts",
                       "override"):
            oa, ra = _both(spark, [1.0, 2.0])
            ob, rb = _both(spark, [1.0, 2.0])
            want = xr.merge([ra, rb], compat=compat)["v"].values.tolist()
            got = (merge([oa, ob], compat=compat).to_pandas()
                   .sort_values("t")["v"].tolist())
            assert got == want

    def test_disjoint_vars_union(self, spark):
        spec_a = {"v": ("t", [1.0, 2.0])}
        spec_b = {"w": ("t", [3.0, 4.0])}
        oa = XDataset(dict(spec_a), coords={"t": [0, 1]})
        ob = XDataset(dict(spec_b), coords={"t": [0, 1]})
        ra = xr.Dataset(dict(spec_a), coords={"t": [0, 1]})
        rb = xr.Dataset(dict(spec_b), coords={"t": [0, 1]})
        got = merge([oa, ob]).to_pandas().sort_values("t")
        want = xr.merge([ra, rb])
        assert got["v"].tolist() == want["v"].values.tolist()
        assert got["w"].tolist() == want["w"].values.tolist()


class TestWhereClipCompositions:
    @pytest.fixture(scope="class")
    def comp_pair(self, spark):
        spec = {"v": ("t", [1.0, np.nan, 9.0, 4.0])}
        c = {"t": [0.0, 1.0, 2.0, 3.0]}
        return (XDataset(dict(spec), coords=dict(c)),
                xr.Dataset(dict(spec), coords=dict(c)))

    def test_where_then_clip(self, comp_pair):
        o, r = comp_pair
        a = (o.where(o["v"] > 2).clip(min=0, max=5).to_pandas()
             .sort_values("t")["v"].tolist())
        b = r.where(r["v"] > 2).clip(min=0, max=5)["v"].values.tolist()
        assert a == pytest.approx(b, nan_ok=True)

    def test_where_drop_values_and_labels(self, comp_pair):
        o, r = comp_pair
        a = o.where(o["v"] >= 4, drop=True).to_pandas().sort_values("t")
        b = r.where(r["v"] >= 4, drop=True)
        assert a["v"].tolist() == b["v"].values.tolist()
        assert a["t"].tolist() == b["t"].values.tolist()

    def test_clip_then_where_other(self, comp_pair):
        o, r = comp_pair
        a = (o.clip(min=2).where(o["v"] < 9, other=-1.0).to_pandas()
             .sort_values("t")["v"].tolist())
        b = r.clip(min=2).where(r["v"] < 9, other=-1.0)["v"] \
            .values.tolist()
        assert a == pytest.approx(b, nan_ok=True)

    def test_where_dropna_chain(self, comp_pair):
        o, r = comp_pair
        a = (o.where(o["v"] > 2).dropna("t").to_pandas()
             .sort_values("t")["v"].tolist())
        b = r.where(r["v"] > 2).dropna("t")["v"].values.tolist()
        assert a == b

    def test_fillna_then_where(self, comp_pair):
        o, r = comp_pair
        a = (o.fillna(0.0).where(o["v"].fillna(0.0) < 5).to_pandas()
             .sort_values("t")["v"].tolist())
        b = r.fillna(0.0).where(r.fillna(0.0)["v"] < 5)["v"] \
            .values.tolist()
        assert a == pytest.approx(b, nan_ok=True)
