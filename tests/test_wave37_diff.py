"""Differential wave 37 (round 7): the surfaces the round-6 verdict
listed as unswept — str extract/extractall into new dims (reference
signature + measured dim layout), the encode→decode CF coder matrix
round 2 (missing_value, _Unsigned, dual fills, time fills), resample
upsample × fill/interpolate methods, resample option combos, and
cftime field extraction pinned against hand-computed calendar
arithmetic (the reference cannot run cftime here — no cftime package —
so those pins are absolute values, not diffs)."""

import re
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

TEXTS = ["a1 b2 c3", "x9", "none here", ""]


@pytest.fixture(scope="module")
def str_pair(spark):
    return (XDataset({"s": ("t", TEXTS)})["s"],
            xr.DataArray(TEXTS, dims=["t"]))


def _col(da, col="s", sort=("t",)):
    return da.to_pandas().sort_values(list(sort))[col].tolist()


@needs_xr
class TestStrExtract:
    def test_dim_none_single_group(self, str_pair):
        o, r = str_pair
        assert (_col(o.str.extract(r"(\w)\d", dim=None))
                == r.str.extract(r"(\w)\d", dim=None).values.tolist())

    def test_dim_none_two_groups_raises(self, str_pair):
        o, r = str_pair
        with pytest.raises(ValueError, match="Dimension must be specified"):
            o.str.extract(r"(\w)(\d)", dim=None)
        with pytest.raises(ValueError):
            r.str.extract(r"(\w)(\d)", dim=None)

    def test_no_groups_raises(self, str_pair):
        o, r = str_pair
        with pytest.raises(ValueError, match="No capture groups"):
            o.str.extract(r"\w\d", dim=None)

    def test_dim_named_first_match_groups(self, str_pair):
        o, r = str_pair
        oo = o.str.extract(r"(\w)(\d)", dim="g")
        assert oo.dims == ("t", "g")
        rr = r.str.extract(r"(\w)(\d)", dim="g")
        assert (_col(oo, sort=("t", "g"))
                == rr.values.ravel().tolist())

    def test_case_false(self, spark):
        o = XDataset({"s": ("t", ["AbC", "xyz"])})["s"]
        r = xr.DataArray(["AbC", "xyz"], dims=["t"])
        assert (_col(o.str.extract(r"(abc)", dim=None, case=False))
                == r.str.extract(r"(abc)", dim=None, case=False)
                .values.tolist())

    def test_ignorecase_flag(self, str_pair):
        o, r = str_pair
        oo = o.str.extract(r"(A)\d", dim=None, flags=re.IGNORECASE)
        rr = r.str.extract(r"(A)\d", dim=None, flags=re.IGNORECASE)
        assert _col(oo) == rr.values.tolist()

    def test_unsupported_flag_raises(self, str_pair):
        o, _ = str_pair
        with pytest.raises(NotImplementedError):
            o.str.extract(r"(a)", dim=None, flags=re.VERBOSE)

    def test_legacy_group_kwarg(self, str_pair):
        o, _ = str_pair
        assert _col(o.str.extract(r"(\w)(\d)", group=2)) == \
            ["1", "9", "", ""]


class TestStrExtractall:
    def _grid(self, da, n_groups):
        pdf = da.to_pandas().sort_values(["t", "g", "m"])
        return pdf["s"].to_numpy().reshape(
            4, -1, n_groups).tolist()

    @needs_xr
    def test_two_groups_matches_reference_grid(self, str_pair):
        o, r = str_pair
        oo = o.str.extractall(r"(\w)(\d)", group_dim="g", match_dim="m")
        rr = r.str.extractall(r"(\w)(\d)", group_dim="g", match_dim="m")
        assert oo.dims == ("t", "g", "m") == rr.dims
        assert self._grid(oo, 2) == rr.values.tolist()

    @needs_xr
    def test_one_group(self, str_pair):
        o, r = str_pair
        oo = o.str.extractall(r"(\w)\d", group_dim="g", match_dim="m")
        rr = r.str.extractall(r"(\w)\d", group_dim="g", match_dim="m")
        assert self._grid(oo, 1) == rr.values.tolist()

    @needs_xr
    def test_flags(self, str_pair):
        o, r = str_pair
        oo = o.str.extractall(r"(A)(\d)", group_dim="g", match_dim="m",
                              flags=re.IGNORECASE)
        rr = r.str.extractall(r"(A)(\d)", group_dim="g", match_dim="m",
                              flags=re.IGNORECASE)
        assert self._grid(oo, 2) == rr.values.tolist()

    @needs_xr
    def test_missing_match_dim_raises(self, str_pair):
        o, _ = str_pair
        with pytest.raises(TypeError, match="match_dim"):
            o.str.extractall(r"(\w)(\d)", group_dim="g")

    @needs_xr
    def test_no_groups_raises(self, str_pair):
        o, _ = str_pair
        with pytest.raises(ValueError, match="No capture groups"):
            o.str.extractall(r"\w\d", group_dim="g", match_dim="m")

    def test_nothing_matches_anywhere(self, spark):
        o = XDataset({"s": ("t", ["zz", "qq"])})["s"]
        oo = o.str.extractall(r"(\d)(\d)", group_dim="g", match_dim="m")
        # reference shape would be (2, 0, 2) — zero rows in long form
        assert oo.to_pandas().shape[0] == 0

    def test_legacy_group_explode(self, spark):
        o = XDataset({"s": ("i", ["x1 y2 z3"])})["s"]
        out = o.str.extractall(r"([a-z])(\d)", group=2)
        got = {r["match"]: r["s"] for r in out.df.collect()}
        assert got == {0: "1", 1: "2", 2: "3"}


class TestCFCoderMatrix:
    """Round 2 of the encode→decode matrix: each spec built from the
    SAME attrs the reference decodes, via _cf_decoders_from_attrs."""

    def _decode(self, spark, np_vals, attrs, dtype):
        from xarray_spark.backends import _cf_decoders_from_attrs
        from xarray_spark.io import decode_cf
        pdf = pd.DataFrame({"t": range(len(np_vals)),
                            "p": np.asarray(np_vals, dtype=dtype)})
        df = spark.createDataFrame(pdf)
        spec = _cf_decoders_from_attrs({"p": {"attrs": attrs}["attrs"]})
        out = decode_cf(df, spec).toPandas().sort_values("t")["p"]
        return out.to_numpy()

    def _ref(self, np_vals, attrs, dtype):
        enc = xr.Dataset({"p": ("t", np.asarray(np_vals, dtype=dtype),
                                dict(attrs))})
        return xr.decode_cf(enc)["p"].values

    def _check(self, spark, vals, attrs, dtype):
        a = self._decode(spark, vals, attrs, dtype)
        b = self._ref(vals, attrs, dtype)
        if b.dtype.kind == "M":
            assert pd.to_datetime(a).values.astype("datetime64[ns]") \
                .tolist() == b.tolist()
        else:
            af = np.asarray(a, dtype="float64")
            bf = np.asarray(b, dtype="float64")
            assert np.allclose(af, bf, equal_nan=True), (af, bf)

    @needs_xr
    def test_scale_offset_fill(self, spark):
        self._check(spark, [0, 100, 200, -1],
                    {"scale_factor": 0.01, "add_offset": 10.0,
                     "_FillValue": np.int16(-1)}, "int16")

    @needs_xr
    def test_missing_value_only(self, spark):
        self._check(spark, [1.0, 2.0, -999.0, 4.0],
                    {"missing_value": -999.0}, "float64")

    @needs_xr
    def test_both_fill_and_missing(self, spark):
        self._check(spark, [1.0, -9.0, -8.0],
                    {"_FillValue": -9.0, "missing_value": -8.0},
                    "float64")

    @needs_xr
    def test_unsigned_int8(self, spark):
        self._check(spark, [-1, 0, 127, -128], {"_Unsigned": "true"},
                    "int8")

    @needs_xr
    def test_unsigned_int16_with_scale(self, spark):
        self._check(spark, [-1, 0, 1000], {"_Unsigned": "true",
                                           "scale_factor": 0.5}, "int16")

    @needs_xr
    def test_offset_only(self, spark):
        self._check(spark, [1, 2], {"add_offset": 5}, "int16")

    @needs_xr
    def test_time_hours_since(self, spark):
        self._check(spark, [0, 12, 24, 36],
                    {"units": "hours since 2020-01-01",
                     "calendar": "standard"}, "int32")

    def test_time_with_fill_gives_null(self, spark):
        from xarray_spark.backends import _cf_decoders_from_attrs
        from xarray_spark.io import decode_cf
        pdf = pd.DataFrame({"t": [0, 1, 2],
                            "p": np.array([0, -1, 48], dtype="int32")})
        df = spark.createDataFrame(pdf)
        spec = _cf_decoders_from_attrs(
            {"p": {"units": "days since 2000-01-01",
                   "_FillValue": np.int32(-1)}})
        out = decode_cf(df, spec).toPandas().sort_values("t")["p"]
        assert pd.isna(out.iloc[1])
        assert str(out.iloc[0])[:10] == "2000-01-01"
        assert str(out.iloc[2])[:10] == "2000-02-18"

    @needs_xr
    def test_roundtrip_masked_scaled_through_netcdf(self, spark, tmp_path):
        """ENCODE path: write a classic nc file with CF attrs, re-open
        through the backend — the attr-driven decode chain must agree
        with the reference decode of the same bytes-in-memory."""
        from xarray_spark.backends import open_dataset_netcdf, write_netcdf3
        path = str(tmp_path / "m.nc")
        write_netcdf3(
            path, {"t": 4},
            {"p": (["t"], np.array([0, 100, 200, -1], dtype="int32"),
                   {"scale_factor": 0.01, "add_offset": 10.0,
                    "_FillValue": np.int32(-1)})})
        back = open_dataset_netcdf(spark, path)
        vals = back.df.toPandas().sort_values("t")["p"].to_numpy()
        ref = self._ref([0, 100, 200, -1],
                        {"scale_factor": 0.01, "add_offset": 10.0,
                         "_FillValue": np.int32(-1)}, "int32")
        assert np.allclose(np.asarray(vals, dtype="float64"),
                           np.asarray(ref, dtype="float64"),
                           equal_nan=True)


@pytest.fixture(scope="module")
def rs_pair(spark):
    t = pd.to_datetime(["2024-01-01", "2024-01-03", "2024-01-07"])
    pdf = pd.DataFrame({"time": t, "v": [1.0, 5.0, 13.0]})
    ods = XDataset(spark.createDataFrame(pdf), dims=["time"])
    rds = xr.Dataset({"v": ("time", [1.0, 5.0, 13.0])},
                     coords={"time": t})
    return ods, rds


def _rs(o):
    return o.to_pandas().sort_values("time")["v"].tolist()


@needs_xr
class TestResampleUpsample:
    @pytest.mark.parametrize("meth", ["asfreq", "pad", "bfill",
                                      "nearest"])
    def test_fill_methods_match_reference(self, rs_pair, meth):
        o, r = rs_pair
        a = _rs(getattr(o.resample(time="D"), meth)())
        b = getattr(r.resample(time="D"), meth)()["v"].values.tolist()
        assert [x for x in a if not pd.isna(x)] == \
            [x for x in b if not pd.isna(x)]
        assert [pd.isna(x) for x in a] == [pd.isna(x) for x in b]

    def test_linear_interpolate_handpinned(self, rs_pair):
        # reference .interpolate requires scipy (absent here):
        # linear math pinned by hand — 1→5 over 2 days, 5→13 over 4
        o, _ = rs_pair
        assert _rs(o.resample(time="D").interpolate("linear")) == \
            [1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0]

    def test_nearest_interpolate_handpinned(self, rs_pair):
        o, _ = rs_pair
        assert _rs(o.resample(time="D").interpolate("nearest")) == \
            [1.0, 1.0, 5.0, 5.0, 5.0, 13.0, 13.0]

    def test_12h_linear_handpinned(self, rs_pair):
        o, _ = rs_pair
        got = _rs(o.resample(time="12h").interpolate("linear"))
        assert got[:5] == [1.0, 2.0, 3.0, 4.0, 5.0]
        assert got[-1] == 13.0 and len(got) == 13


@pytest.fixture(scope="module")
def rs_opts_pair(spark):
    # 02:00 start so origin keywords actually discriminate
    t = pd.date_range("2024-01-01 02:00", periods=12, freq="5h")
    pdf = pd.DataFrame({"time": t, "v": np.arange(12.0)})
    ods = XDataset(spark.createDataFrame(pdf), dims=["time"])
    rds = xr.Dataset({"v": ("time", np.arange(12.0))},
                     coords={"time": t})
    return ods, rds


@needs_xr
class TestResampleOptionCombos:
    @pytest.mark.parametrize("origin", ["start", "start_day", "epoch",
                                        "end", "end_day"])
    def test_origin_keywords(self, rs_opts_pair, origin):
        o, r = rs_opts_pair
        a = (o.resample(time="12h", origin=origin).sum().to_pandas()
             .sort_values("time"))
        b = r.resample(time="12h", origin=origin).sum()
        assert a["v"].tolist() == b["v"].values.tolist(), origin
        assert (pd.to_datetime(a["time"]).to_numpy()
                .astype("datetime64[ns]").tolist()
                == b["time"].values.tolist()), origin

    def test_closed_right_label_right(self, rs_opts_pair):
        o, r = rs_opts_pair
        a = o.resample(time="12h", closed="right",
                       label="right").sum().to_pandas() \
            .sort_values("time")
        b = r.resample(time="12h", closed="right", label="right").sum()
        assert a["v"].tolist() == b["v"].values.tolist()
        assert (pd.to_datetime(a["time"]).to_numpy()
                .astype("datetime64[ns]").tolist()
                == b["time"].values.tolist())

    def test_offset(self, rs_opts_pair):
        o, r = rs_opts_pair
        a = _sorted_v(o.resample(time="12h", offset="3h").sum())
        b = r.resample(time="12h", offset="3h").sum()["v"].values
        assert a == b.tolist()

    def test_origin_start_daily(self, rs_opts_pair):
        o, r = rs_opts_pair
        a = _sorted_v(o.resample(time="1D", origin="start").sum())
        b = r.resample(time="1D", origin="start").sum()["v"].values
        assert a == b.tolist()

    def test_mean_label_right(self, rs_opts_pair):
        o, r = rs_opts_pair
        a = _sorted_v(o.resample(time="12h", label="right").mean())
        b = r.resample(time="12h", label="right").mean()["v"].values
        assert a == pytest.approx(b.tolist())


def _sorted_v(o):
    return o.to_pandas().sort_values("time")["v"].tolist()


class TestCftimeHandPinned:
    """No cftime package in this runtime — absolute pins computed by
    hand from the calendar definitions (noleap: Feb always 28;
    360_day: every month 30 days)."""

    def _fields(self, spark, dates, calendar, field):
        from pyspark.sql import functions as F
        from xarray_spark import cftime as cft
        pdf = pd.DataFrame({"i": range(len(dates)),
                            "ts": pd.to_datetime(dates)})
        df = spark.createDataFrame(pdf)
        enc = df.select("i", cft.encode_timestamp_us(
            F.col("ts"), calendar).alias("o"))
        out = enc.select("i", cft.cf_field_us(
            F.col("o"), field, calendar).alias("f"))
        return out.toPandas().sort_values("i")["f"].tolist()

    def test_noleap_dayofyear_across_feb(self, spark):
        # 2000-02-28 = day 59 in both; 2000-03-01 = 61 gregorian but
        # 60 in noleap (no Feb 29)
        got = self._fields(spark, ["2000-02-28", "2000-03-01",
                                   "2000-12-31"], "noleap", "dayofyear")
        assert got == [59, 60, 365]

    def _fields_year_aligned(self, spark, dates, calendar, field):
        from pyspark.sql import functions as F
        from xarray_spark import cftime as cft
        pdf = pd.DataFrame({"i": range(len(dates)),
                            "ts": pd.to_datetime(dates)})
        df = spark.createDataFrame(pdf)
        enc = df.select("i", cft.encode_timestamp_us(
            F.col("ts"), calendar, align_on="year").alias("o"))
        out = enc.select("i", cft.cf_field_us(
            F.col("o"), field, calendar).alias("f"))
        return out.toPandas().sort_values("i")["f"].tolist()

    def test_360day_month_rescaled(self, spark):
        # align_on='year' rescales day-of-year: Dec 31 (doy 366 in
        # 2000) lands inside month 12 of the 360-day grid; Jan 1 in
        # month 1 (xarray calendar_ops._interpolate_day_of_year)
        m = self._fields_year_aligned(spark, ["2000-01-01", "2000-12-31"],
                                      "360_day", "month")
        assert m == [1, 12]

    def test_360day_invalid_dates_null_on_date_align(self, spark):
        # the documented align_on='date' contract: dates that do not
        # exist in the target calendar encode to NULL (xarray drops or
        # `missing=`-fills them)
        m = self._fields(spark, ["2000-01-30", "2000-01-31"],
                         "360_day", "month")
        assert m[0] == 1 and pd.isna(m[1])

    def test_noleap_year_month_preserved(self, spark):
        y = self._fields(spark, ["1999-06-15", "2200-01-02"],
                         "noleap", "year")
        assert y == [1999, 2200]
        m = self._fields(spark, ["1999-06-15", "2200-01-02"],
                         "noleap", "month")
        assert m == [6, 1]

    def test_noleap_hour_minute_survive(self, spark):
        h = self._fields(spark, ["2001-05-06 13:45:10"], "noleap",
                         "hour")
        assert h == [13]
        mi = self._fields(spark, ["2001-05-06 13:45:10"], "noleap",
                          "minute")
        assert mi == [45]

    def test_convert_calendar_roundtrip_values(self, spark):
        t = pd.date_range("2000-02-25", periods=8, freq="D")
        pdf = pd.DataFrame({"time": t, "v": np.arange(8.0)})
        ds = XDataset(spark.createDataFrame(pdf), dims=["time"])
        enc = ds.convert_calendar("noleap", use_cftime=True)
        back = enc.convert_calendar("standard")
        got = back.to_pandas().sort_values("time")
        # Feb 29 is dropped by noleap; 7 dates survive
        assert len(got) == 7
        assert "2000-02-29" not in set(got["time"].astype(str)
                                       .str[:10])

    def test_360day_day_field_bounded_under_year_align(self, spark):
        # align_on='year' maps every source date onto a valid 360-day
        # date: the day field stays within 1..30
        d = self._fields_year_aligned(spark, ["2000-01-31", "2000-03-31",
                                              "2000-05-31"],
                                      "360_day", "day")
        assert all(1 <= x <= 30 for x in d)
        dim = self._fields(spark, ["2000-02-10"], "360_day",
                           "days_in_month")
        assert dim == [30]
