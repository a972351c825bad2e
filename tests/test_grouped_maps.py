"""Grouped pandas maps without a complement dim.

Every operator that hands whole series to numpy/pandas code through
``groupBy(*keys).applyInPandas`` also runs with no key: Spark's keyless
``groupBy()`` gathers every row into one call.  Each case runs an
operator on a 1-D dataset (no key) and on the same data with a
singleton extra dim ``s`` (one key, one group); the keyed run is the
reference, so the two must give the same values.
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xarray_spark import XDataset, apply_ufunc  # noqa: E402

_V = [1.0, 2.5, np.nan, np.nan, 7.25, 8.0, np.nan, 13.5, 12.0, np.nan,
      16.75, 21.0]


def _frame(spark, keyed: bool, var: str = "v", values=_V) -> XDataset:
    pdf = pd.DataFrame({"t": np.arange(len(values), dtype="int64"),
                        var: np.asarray(values, dtype="float64")})
    dims = ["t"]
    if keyed:
        pdf["s"] = np.int64(0)
        dims = ["s", "t"]
    return XDataset(spark.createDataFrame(pdf), dims=dims, data_vars=[var])


def _demean(ds):
    # nested: module-level functions of a test file would be pickled by
    # reference, and the Python workers cannot import this module
    def func(pdf):
        return pdf.assign(v=pdf["v"] - pdf["v"].mean())
    return apply_ufunc(func, ds, input_core_dims=[["t"]])


def _ewm_corr(ds):
    other = _frame(ds.spark, False, "o", [np.sin(i) for i in range(12)])
    return ds.rolling_exp(t=3).corr(other)


def _weighted_quantile(ds):
    w = _frame(ds.spark, False, "w", [1.0 + (i % 4) for i in range(12)])
    return ds.weighted(w).quantile(0.4, dim="t")


_CASES = {
    "interp_quadratic": lambda ds: ds.interpolate_na("t", method="quadratic"),
    "interp_pchip": lambda ds: ds.interpolate_na("t", method="pchip"),
    "interp_spline": lambda ds: ds.interpolate_na("t", method="spline"),
    "polyfit": lambda ds: ds.polyfit("t", deg=2),
    "curvefit": lambda ds: ds.curvefit(
        "t", lambda x, a, b: a * x + b, param_names=["a", "b"]),
    "weighted_quantile": _weighted_quantile,
    "apply_ufunc": _demean,
    "reduce": lambda ds: ds.reduce(np.nanmax, dim="t"),
    "rolling_exp_mean": lambda ds: ds.rolling_exp(t=3).mean(),
    "rolling_exp_corr": _ewm_corr,
}


@pytest.mark.parametrize("case", list(_CASES))
def test_unkeyed_grouped_map_matches_keyed(spark, case):
    op = _CASES[case]
    got = op(_frame(spark, False)).to_pandas()
    want = op(_frame(spark, True)).to_pandas()
    assert len(got) > 0
    want = want[list(got.columns)]
    keys = [c for c in got.columns
            if not pd.api.types.is_float_dtype(got[c])]
    if keys:
        got = got.sort_values(keys).reset_index(drop=True)
        want = want.sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12)
