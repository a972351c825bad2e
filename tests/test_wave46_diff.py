"""Differential wave 46 (round 9): ill-conditioned least-squares —
polyfit on OFFSET coordinate domains.

The raw-moment normal equations (S_k = Σ x^k) square the Vandermonde
condition number, so fitting y over x = years 1950..2050 at deg 4 —
a bread-and-butter climate-trend shape for the reference — drifted
4.6e-3 (fitted values) off np.polyfit's scaled-lstsq answer while the
reference sat at 1e-10.  Round 9 centers the domain (z = (x-mu)/s,
z ∈ [-1,1]) before the moment aggregation and back-transforms the
coefficients driver-side; these tests pin coefficient- and
fitted-value-level parity against the reference xarray across offset
domains, degrees, weights, grouped fits, and full=True residuals.

Ground truth: the reference xarray's Dataset.polyfit
(xarray/computation/fit.py:101 — np.linalg.lstsq on the column-scaled
Vandermonde).
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


def _xy(xlo, xhi, deg, n=200, seed=0):
    rng = np.random.RandomState(seed)
    x = np.sort(rng.uniform(xlo, xhi, n))
    c = rng.randn(deg + 1)
    y = np.polyval(c, (x - xlo) / (xhi - xlo)) + 0.01 * rng.randn(n)
    return x, y


def _fit_pair(spark, x, y, deg, **kw):
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": x, "v": y})), dims=["t"])
    ref = xr.DataArray(y, dims="t", coords={"t": x})
    g = (eng.polyfit("t", deg, **kw).to_pandas()
         .sort_values("degree", ascending=False))
    r = ref.polyfit("t", deg, **kw)
    return g, r


OFFSET_SHAPES = [
    (1000.0, 1100.0, 3),
    (2000.0, 2100.0, 3),
    (1950.0, 2050.0, 4),   # the round-9 motivating shape
    (1e6, 1e6 + 500.0, 2),
    (0.0, 1.0, 5),         # well-conditioned control
    (-300.0, -200.0, 3),   # negative offset domain
]


@needs_xr
@pytest.mark.parametrize("xlo,xhi,deg", OFFSET_SHAPES)
def test_polyfit_offset_domain_coefficients(spark, xlo, xhi, deg):
    x, y = _xy(xlo, xhi, deg)
    g, r = _fit_pair(spark, x, y, deg)
    got = g["v_polyfit_coefficients"].to_numpy()
    exp = r["polyfit_coefficients"].values
    np.testing.assert_allclose(got, exp, rtol=5e-7, atol=0)


@needs_xr
@pytest.mark.parametrize("xlo,xhi,deg", OFFSET_SHAPES)
def test_polyfit_offset_domain_fitted_values(spark, xlo, xhi, deg):
    # the user-facing contract: the fitted CURVE agrees even where the
    # raw x-space coefficients are intrinsically badly scaled
    x, y = _xy(xlo, xhi, deg)
    g, r = _fit_pair(spark, x, y, deg)
    got = np.polyval(g["v_polyfit_coefficients"].to_numpy(), x)
    exp = np.polyval(r["polyfit_coefficients"].values, x)
    tol = 1e-9 * max(1.0, np.abs(y).max())
    np.testing.assert_allclose(got, exp, atol=tol)


@needs_xr
def test_polyfit_offset_weighted(spark):
    x, y = _xy(1950.0, 2050.0, 3, seed=3)
    w = np.linspace(0.5, 2.0, len(x))
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": x, "v": y})), dims=["t"])
    ref = xr.DataArray(y, dims="t", coords={"t": x})
    g = (eng.polyfit("t", 3, w=w).to_pandas()
         .sort_values("degree", ascending=False))
    r = ref.polyfit("t", 3, w=w)
    np.testing.assert_allclose(
        g["v_polyfit_coefficients"].to_numpy(),
        r["polyfit_coefficients"].values, rtol=5e-7)


@needs_xr
def test_polyfit_offset_full_residuals(spark):
    x, y = _xy(2000.0, 2100.0, 3, seed=7)
    g, r = _fit_pair(spark, x, y, 3, full=True)
    np.testing.assert_allclose(
        g["v_polyfit_coefficients"].to_numpy(),
        r["polyfit_coefficients"].values, rtol=5e-7)
    np.testing.assert_allclose(
        g["v_polyfit_residuals"].iloc[0],
        float(r["polyfit_residuals"].values), rtol=1e-6)
    assert g["t_matrix_rank"].iloc[0] == int(r["t_matrix_rank"].values)
    np.testing.assert_allclose(
        g["t_singular_values"].to_numpy(),
        r["t_singular_values"].values, rtol=1e-7)


@needs_xr
@pytest.mark.parametrize("cv", [True, "unscaled"])
def test_polyfit_offset_cov(spark, cv):
    x, y = _xy(1000.0, 1100.0, 2, seed=11)
    g, r = _fit_pair(spark, x, y, 2, cov=cv)
    np.testing.assert_allclose(
        np.vstack(g["v_polyfit_covariance"].to_numpy()),
        r["polyfit_covariance"].values, rtol=1e-5)


@needs_xr
def test_polyfit_offset_grouped(spark):
    # per-group fits over an offset domain: two series, one frame
    rng = np.random.RandomState(13)
    x = np.sort(rng.uniform(1950.0, 2050.0, 120))
    ya = 0.3 * (x - 2000.0) ** 2 + 5.0 + 0.01 * rng.randn(len(x))
    yb = -1.2 * (x - 2000.0) + 40.0 + 0.01 * rng.randn(len(x))
    pdf = pd.concat([
        pd.DataFrame({"g": "a", "t": x, "v": ya}),
        pd.DataFrame({"g": "b", "t": x, "v": yb}),
    ])
    eng = XDataset(spark.createDataFrame(pdf), dims=["g", "t"])
    g = eng.polyfit("t", 2).to_pandas().sort_values(
        ["g", "degree"], ascending=[True, False])
    ref = xr.DataArray(
        np.stack([ya, yb]), dims=["g", "t"],
        coords={"g": ["a", "b"], "t": x})
    r = ref.polyfit("t", 2)
    # reference dims are (degree, g); engine rows sorted (g, degree desc)
    np.testing.assert_allclose(
        g["v_polyfit_coefficients"].to_numpy().reshape(2, 3),
        r["polyfit_coefficients"].transpose("g", "degree").values,
        rtol=5e-7)


def test_polyfit_skipna_false_poisons_offset(spark):
    x, y = _xy(2000.0, 2100.0, 2, seed=17)
    y = y.copy()
    y[5] = np.nan
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": x, "v": y})), dims=["t"])
    g = (eng.polyfit("t", 2, skipna=False).to_pandas()
         ["v_polyfit_coefficients"].to_numpy())
    assert np.isnan(g).all()


def test_polyfit_constant_x_singular(spark):
    # a single distinct x: scale collapses to s=1 fallback; the system
    # is singular for deg>=1 → NaN coefficients, like the reference's
    # lstsq rank-deficient warning path (no crash)
    eng = XDataset(spark.createDataFrame(
        pd.DataFrame({"t": [5.0] * 8, "v": np.arange(8.0)})),
        dims=["t"])
    g = eng.polyfit("t", 1).to_pandas()["v_polyfit_coefficients"]
    assert len(g) == 2
