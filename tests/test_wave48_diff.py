"""Differential wave 48 (round 9): datetime-coordinate numeric units.

Round-9 probe finds:

- **polyfit/polyval on a datetime dim were 1e9 off the reference** —
  the reference hard-codes epoch NANOSECONDS (_ensure_numeric:
  datetime_to_numeric(..., datetime_unit="ns"), computation.py:946)
  regardless of the input's storage precision, while the engine used
  epoch seconds (slope coefficients scaled by 1e9 per degree).
- **integrate/differentiate defaulted to seconds** where the reference
  defaults to the coord's own dtype unit — "ns" for the datetime64[ns]
  data a migrating user has (dataset.py:8522).  The engine's temporal
  default is now "ns"; datetime_unit= selects any other unit.

The ns route goes through unix_micros (an exact integer below 2^53)
×1000.0 — bit-equal to numpy's int-ns → float64 conversion, where the
old epoch-seconds double had ~240 ns ulp at 2026 timestamps.
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

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")

warnings.filterwarnings("ignore")


def _dt_pair(spark, n=20, seed=0):
    ts = pd.date_range("2000-01-01", periods=n, freq="D")
    rng = np.random.RandomState(seed)
    y = np.linspace(0.0, 1.0, n) + 0.01 * rng.randn(n)
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": ts, "v": y})), dims=["t"])
    ref = xr.DataArray(y, dims="t", coords={"t": ts})
    return eng, ref


@needs_xr
def test_polyfit_datetime_matches_reference_ns(spark):
    eng, ref = _dt_pair(spark)
    got = (eng.polyfit("t", 1).to_pandas()
           .sort_values("degree", ascending=False)
           ["v_polyfit_coefficients"].to_numpy())
    exp = ref.polyfit("t", 1)["polyfit_coefficients"].values
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_polyfit_datetime_deg2(spark):
    eng, ref = _dt_pair(spark, seed=3)
    got = (eng.polyfit("t", 2).to_pandas()
           .sort_values("degree", ascending=False)
           ["v_polyfit_coefficients"].to_numpy())
    exp = ref.polyfit("t", 2)["polyfit_coefficients"].values
    np.testing.assert_allclose(got, exp, rtol=1e-6)


@needs_xr
def test_polyval_datetime_matches_reference(spark):
    eng, ref = _dt_pair(spark)
    rfit = ref.polyfit("t", 1)
    coeffs = {int(d): float(v) for d, v in zip(
        rfit["degree"].values,
        rfit["polyfit_coefficients"].values, strict=True)}
    from xarray_spark.computation import polyval
    got = (polyval(eng["t"], coeffs).to_pandas()
           .sort_values("t")["polyval"].to_numpy())
    exp = xr.polyval(ref["t"], rfit["polyfit_coefficients"]).values
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_integrate_datetime_default_ns(spark):
    eng, ref = _dt_pair(spark)
    got = eng.integrate("t").to_pandas()["v"].iloc[0]
    exp = float(ref.integrate("t").values)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
def test_differentiate_datetime_default_ns(spark):
    eng, ref = _dt_pair(spark)
    got = (eng.differentiate("t").to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.differentiate("t").values
    np.testing.assert_allclose(got, exp, rtol=1e-9)


@needs_xr
def test_cumulative_integrate_datetime_default_ns(spark):
    eng, ref = _dt_pair(spark)
    got = (eng.cumulative_integrate("t").to_pandas()
           .sort_values("t")["v"].to_numpy())
    exp = ref.cumulative_integrate("t").values
    np.testing.assert_allclose(got, exp, rtol=1e-12)


@needs_xr
@pytest.mark.parametrize("unit", ["s", "h", "D"])
def test_integrate_datetime_explicit_units(spark, unit):
    eng, ref = _dt_pair(spark)
    got = eng.integrate("t", datetime_unit=unit).to_pandas()["v"].iloc[0]
    exp = float(ref.integrate("t", datetime_unit=unit).values)
    np.testing.assert_allclose(got, exp, rtol=1e-12)


def test_integrate_numeric_dim_rejects_datetime_unit(spark):
    pdf = pd.DataFrame({"t": np.arange(5.0), "v": np.arange(5.0)})
    eng = XDataset(spark.createDataFrame(pdf), dims=["t"])
    with pytest.raises(ValueError, match="datetime_unit"):
        eng.integrate("t", datetime_unit="s")
