"""Differential wave 44 (round 8, final sweep): regression pins for
the last corner probes, all matching the reference on first
comparison — shift fill_value, roll(roll_coords=True) label/value
association, cumsum skipna=False poisoning, clip with DataArray
bounds.  (rank() and rolling_exp() need bottleneck/numbagg in the
reference, absent in this runtime — engine-only, covered by the
repo suites.)"""

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
    vals = [3.0, np.nan, 1.0, 2.0]
    return (XDataset({"v": ("t", [3.0, float("nan"), 1.0, 2.0])},
                     coords={"t": [0, 1, 2, 3]}),
            xr.Dataset({"v": ("t", vals)}, coords={"t": [0, 1, 2, 3]}))


def _v(o):
    return [None if isinstance(x, float) and np.isnan(x) else x
            for x in o.to_pandas().sort_values("t")["v"].tolist()]


def _r(vals):
    return [None if isinstance(x, float) and np.isnan(x) else x
            for x in vals.tolist()]


def test_shift_fill_value(pair):
    o, r = pair
    assert _v(o.shift(t=1, fill_value=-1.0)) == \
        _r(r.shift(t=1, fill_value=-1.0)["v"].values)


def test_roll_roll_coords_keeps_association(pair):
    # roll_coords=True rotates labels WITH values: the (t, v) pairs
    # are invariant, only the positional order moves — in long form
    # that means the rolled frame holds the same label→value pairs
    o, r = pair
    rr = r.roll(t=1, roll_coords=True)
    exp = sorted(zip(rr["t"].values.tolist(),
                     _r(rr["v"].values)), key=lambda p: p[0])
    orl = o.roll(t=1, roll_coords=True).to_pandas().sort_values("t")
    got = list(zip(orl["t"].tolist(),
                   [None if np.isnan(x) else x for x in orl["v"]]))
    assert got == exp


def test_roll_without_coords_shifts_values(pair):
    o, r = pair
    assert _v(o.roll(t=1, roll_coords=False)) == \
        _r(r.roll(t=1, roll_coords=False)["v"].values)


def test_cumsum_skipna_false_poisons(pair):
    o, r = pair
    assert _v(o.cumsum("t", skipna=False)) == \
        _r(r.cumsum("t", skipna=False)["v"].values)


def test_cumsum_skipna_true_carries(pair):
    o, r = pair
    assert _v(o.cumsum("t")) == _r(r.cumsum("t")["v"].values)


def test_clip_dataarray_bound(pair, spark):
    o, r = pair
    cl = xr.DataArray([0.0, 0.5, 1.5, 1.8], dims="t",
                      coords={"t": [0, 1, 2, 3]})
    ocl = XDataset({"m": ("t", [0.0, 0.5, 1.5, 1.8])},
                   coords={"t": [0, 1, 2, 3]})
    assert _v(o.clip(min=ocl["m"])) == _r(r.clip(min=cl)["v"].values)
