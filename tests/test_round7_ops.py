"""Round-7 fixes, each pinned against the reference xarray:

- ADVICE high: Dataset reductions with dim=None (or a mixed dim list)
  must reduce each constructor-broadcast var over ITS OWN dims only —
  never aggregate the broadcast duplicates (xarray Dataset.reduce
  restricts each var to ``[d for d in dims if d in var.dims]``).
- ADVICE medium: ds[dim].to_index() (name == dim) selects the column
  once; rename/rename_dims/rename_vars/swap_dims remap var_dims so the
  broadcast metadata survives renames.
- ADVICE low: the DataArray constructor raises on coords that cannot
  match the data shape (reference CoordinateValidationError) instead of
  silently falling back to positional dim names.
"""

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/reference")
try:
    import xarray as xr  # noqa: E402
except ImportError:  # the reference package is optional
    xr = None

from xarray_spark import XDataArray, XDataset  # noqa: E402

#: tests that compare against the reference xarray package
needs_xr = pytest.mark.skipif(xr is None,
                              reason="reference xarray not importable")


def _vals(xds):
    """{var: sorted scalar/list values} of a fully-reduced XDataset."""
    pdf = xds.to_pandas()
    return {v: pdf[v].tolist() for v in xds.data_vars}


@pytest.fixture(scope="module")
def pair(spark):
    data = {"u": ("x", [10.0, 20.0]),
            "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
    return XDataset(dict(data)), xr.Dataset(dict(data))


@pytest.fixture(scope="module")
def pair_nan(spark):
    data = {"u": ("x", [10.0, np.nan]),
            "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
    return XDataset(dict(data)), xr.Dataset(dict(data))


@needs_xr
class TestBroadcastVarFullReduce:
    """dim=None reductions on dict-constructor broadcast vars."""

    @pytest.mark.parametrize("fn", ["sum", "count", "prod", "mean", "std",
                                    "var", "min", "max", "median"])
    def test_dim_none_matches_reference(self, pair, fn):
        ours, ref = pair
        a = _vals(getattr(ours, fn)())
        b = getattr(ref, fn)()
        for v in ("u", "w"):
            assert a[v][0] == pytest.approx(float(b[v].values)), (fn, v)

    @pytest.mark.parametrize("ddof", [0, 1])
    def test_std_var_ddof(self, pair, ddof):
        ours, ref = pair
        for fn in ("std", "var"):
            a = _vals(getattr(ours, fn)(ddof=ddof))
            b = getattr(ref, fn)(ddof=ddof)
            for v in ("u", "w"):
                assert a[v][0] == pytest.approx(float(b[v].values))

    def test_mixed_dim_list_partial_overlap(self, spark):
        data = {"u": (("x", "y"), [[1.0, 2.0], [3.0, 4.0]]),
                "w": (("x", "y", "z"), np.arange(8.0).reshape(2, 2, 2))}
        ours = XDataset(dict(data)).sum(dim=["y", "z"]).to_pandas()
        ref = xr.Dataset(dict(data)).sum(dim=["y", "z"])
        ours = ours.sort_values("x")
        assert ours["u"].tolist() == ref["u"].values.tolist()
        assert ours["w"].tolist() == ref["w"].values.tolist()

    def test_chained_reductions(self, spark):
        data = {"u": (("x", "y"), [[1.0, 2.0], [3.0, 4.0]]),
                "w": (("x", "y", "z"), np.arange(8.0).reshape(2, 2, 2))}
        ours = XDataset(dict(data)).sum(dim="z").sum(dim="y").to_pandas()
        ref = xr.Dataset(dict(data)).sum(dim="z").sum(dim="y")
        ours = ours.sort_values("x")
        assert ours["u"].tolist() == ref["u"].values.tolist()
        assert ours["w"].tolist() == ref["w"].values.tolist()

    def test_skipna_false_poisons_own_slice_only(self, pair_nan):
        ours, ref = pair_nan
        a = _vals(ours.sum(skipna=False))
        b = ref.sum(skipna=False)
        assert np.isnan(a["u"][0]) and np.isnan(float(b["u"].values))
        assert a["w"][0] == float(b["w"].values)

    def test_min_count_counts_unique_cells(self, pair_nan):
        ours, ref = pair_nan
        a = _vals(ours.sum(min_count=3))
        b = ref.sum(min_count=3)
        # u has only 1 valid unique cell (< 3) -> NaN, not the
        # duplicate-inflated count
        assert np.isnan(a["u"][0]) and np.isnan(float(b["u"].values))
        assert a["w"][0] == float(b["w"].values)

    def test_quantile_deduplicates(self, pair):
        ours, ref = pair
        a = ours.quantile([0.25, 0.75]).to_pandas().sort_values("quantile")
        b = ref.quantile([0.25, 0.75])
        assert a["u"].tolist() == pytest.approx(b["u"].values.tolist())
        assert a["w"].tolist() == pytest.approx(b["w"].values.tolist())

    def test_grouped_quantile_with_untouched_broadcast_var(self, pair):
        ours, ref = pair
        a = ours.quantile(0.5, dim="y").to_pandas().sort_values("x")
        b = ref.quantile(0.5, dim="y")
        assert a["u"].tolist() == pytest.approx(b["u"].values.tolist())
        assert a["w"].tolist() == pytest.approx(b["w"].values.tolist())

    def test_all_any(self, spark):
        data = {"u": ("x", [1.0, 0.0]),
                "w": (("x", "y"), [[1.0, 0.0], [1.0, 1.0]])}
        ours, ref = XDataset(dict(data)), xr.Dataset(dict(data))
        for fn in ("all", "any"):
            a = _vals(getattr(ours, fn)())
            b = getattr(ref, fn)()
            for v in ("u", "w"):
                assert bool(a[v][0]) == bool(b[v].values), (fn, v)


@needs_xr
class TestVarDimsSurvivesRenames:
    """ADVICE medium: var_dims remapped through renaming ops."""

    def test_rename_dim_then_reduce(self, spark):
        data = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        ours = XDataset(dict(data)).rename({"x": "z"})
        ref = xr.Dataset(dict(data)).rename({"x": "z"})
        a = ours.sum(dim="y").to_pandas().sort_values("z")
        b = ref.sum(dim="y")
        assert a["u"].tolist() == b["u"].values.tolist()
        a2 = _vals(ours.sum())
        assert a2["u"][0] == float(ref.sum()["u"].values)

    def test_rename_var_then_reduce(self, spark):
        data = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        ours = XDataset(dict(data)).rename_vars({"u": "v2"})
        ref = xr.Dataset(dict(data)).rename_vars({"u": "v2"})
        a = _vals(ours.sum())
        assert a["v2"][0] == float(ref.sum()["v2"].values)

    def test_swap_dims_then_reduce(self, spark):
        data = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        ours = (XDataset(dict(data))
                .assign_coords(x2=("x", [100, 200])).swap_dims(x="x2"))
        ref = (xr.Dataset(dict(data))
               .assign_coords(x2=("x", [100, 200])).swap_dims(x="x2"))
        a = _vals(ours.sum())
        assert a["u"][0] == float(ref.sum()["u"].values)

    def test_expand_dims_then_reduce(self, spark):
        data = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        ours = XDataset(dict(data)).expand_dims(e=[0, 1])
        ref = xr.Dataset(dict(data)).expand_dims(e=[0, 1])
        a = _vals(ours.sum())
        b = ref.sum()
        assert a["u"][0] == float(b["u"].values)
        assert a["w"][0] == float(b["w"].values)
        a2 = ours.sum(dim="e").to_pandas().sort_values(["x", "y"])
        b2 = ref.sum(dim="e")
        assert sorted(set(a2["u"])) == sorted(b2["u"].values.tolist())

    def test_reduce_result_var_dims_remap(self, spark):
        """After sum over one of a partial var's dims, the surviving
        entry must keep working for the NEXT reduction."""
        data = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y", "z"),
                      np.arange(12.0).reshape(2, 3, 2))}
        ours = XDataset(dict(data)).sum(dim="z")
        ref = xr.Dataset(dict(data)).sum(dim="z")
        a = _vals(ours.sum())
        b = ref.sum()
        assert a["u"][0] == float(b["u"].values)
        assert a["w"][0] == float(b["w"].values)


class TestToIndexDimCoord:
    def test_dim_coordinate_to_index(self, spark):
        ds = XDataset({"v": ("t", [1.0, 2.0, 3.0])})
        idx = ds["t"].to_index()
        assert idx.name == "t" and idx.tolist() == [0, 1, 2]

    def test_non_dim_array_to_index_still_works(self, spark):
        ds = XDataset({"v": ("t", [5.0, 6.0, 7.0])})
        idx = ds["v"].to_index()
        assert idx.name == "t" and idx.tolist() == [5.0, 6.0, 7.0]


class TestDataArrayCoordValidation:
    def test_matched_coords_infer_dims(self, spark):
        da = XDataArray(np.zeros((2, 3)), coords={"x": [1, 2],
                                                  "y": [1, 2, 3]})
        assert da.dims == ("x", "y")

    def test_size_mismatch_raises(self, spark):
        with pytest.raises(ValueError, match="conflicting sizes"):
            XDataArray(np.zeros((2, 3)), coords={"x": [1, 2, 9],
                                                 "y": [1, 2, 3]})

    def test_transposed_coords_raise(self, spark):
        with pytest.raises(ValueError, match="conflicting sizes"):
            XDataArray(np.zeros((2, 3)), coords={"y": [1, 2, 3],
                                                 "x": [1, 2]})

    def test_count_mismatch_raises(self, spark):
        with pytest.raises(ValueError, match="not a subset"):
            XDataArray(np.zeros((2, 3)), coords={"x": [1, 2]})

    @needs_xr
    def test_reference_raises_same_cases(self):
        for coords in ({"x": [1, 2, 9], "y": [1, 2, 3]}, {"x": [1, 2]}):
            with pytest.raises(Exception):
                xr.DataArray(np.zeros((2, 3)), coords=coords)

    def test_bare_still_positional(self, spark):
        da = XDataArray(np.zeros((2, 3)))
        assert da.dims == ("dim_0", "dim_1")


class TestQuantileVirtualPosition:
    """Round-7 head-to-head find: closed-form order-statistic positions
    (no n-element arange) + the averaged_inverted_cdf q=0 fix."""

    def test_matrix_matches_numpy(self):
        from xarray_spark.dataset import QUANTILE_METHODS, _virtual_position
        for method in QUANTILE_METHODS:
            for n in (1, 2, 3, 5, 17, 100, 101, 1000):
                for q in (0.0, 0.001, 0.25, 0.5, 0.6789, 0.9, 1.0):
                    want = float(np.quantile(np.arange(n), q,
                                             method=method))
                    got = _virtual_position(method, q, n)
                    assert abs(want - got) < 1e-9, (method, n, q)

    @needs_xr
    def test_averaged_inverted_cdf_q0_grouped(self, spark):
        # the grouped Column path had the same q=0 bug: numpy returns
        # x[0], the split branch returned a 0.5 blend of x[0],x[1]
        ds = XDataset({"v": ("t", [1.0, 5.0, 9.0, 13.0])})
        got = (ds.quantile([0.0, 0.5], dim="t",
                           method="averaged_inverted_cdf")
               .to_pandas().sort_values("quantile"))
        ref = xr.Dataset({"v": ("t", [1.0, 5.0, 9.0, 13.0])}) \
            .quantile([0.0, 0.5], method="averaged_inverted_cdf")
        assert got["v"].tolist() == pytest.approx(
            ref["v"].values.tolist())


@needs_xr
class TestGroupbyBroadcastVars:
    """Wave-40 groupby find: groupby reductions must apply the same
    own-dims discipline as Dataset reductions to dict-constructor
    broadcast vars."""

    @pytest.fixture(scope="class")
    def gpair(self, spark):
        spec = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        coords = {"j": ("y", [0, 0, 1])}
        return (XDataset(dict(spec), coords=dict(coords)),
                xr.Dataset(dict(spec), coords=dict(coords)))

    @pytest.mark.parametrize("fn", ["sum", "mean", "count", "std",
                                    "max", "min", "prod"])
    def test_groupby_over_non_own_dim(self, gpair, fn):
        ours, ref = gpair
        a = getattr(ours.groupby("j"), fn)().to_pandas() \
            .sort_values(["j", "x"])
        b = getattr(ref.groupby("j"), fn)()
        assert a["u"].tolist() == pytest.approx(
            np.asarray(b["u"].values, dtype=float).ravel().tolist())
        bw = np.asarray(b["w"].values, dtype=float)
        # ref w dims (j, x) -> flatten in (j, x) order
        assert a["w"].tolist() == pytest.approx(bw.ravel().tolist())

    def test_groupby_over_own_dim_keeps_broadcast(self, spark):
        spec = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        ours = XDataset(dict(spec), coords={"k": ("x", [0, 1])})
        ref = xr.Dataset(dict(spec), coords={"k": ("x", [0, 1])})
        a = ours.groupby("k").sum().to_pandas().sort_values(["k", "y"])
        b = ref.groupby("k").sum()
        # u per group: value passthrough (broadcast across y long-form)
        assert sorted(set(a["u"])) == sorted(
            np.asarray(b["u"].values, dtype=float).ravel().tolist())


@needs_xr
class TestAlongDimOpsBroadcastPassthrough:
    """Round-7 find: along-dim operators (rolling/cum*/shift/diff/
    integrate/differentiate/coarsen) must leave a dict-constructor
    broadcast var untouched when it lacks every operated dim — the
    long-form duplicates must not accumulate."""

    @pytest.fixture(scope="class")
    def opair(self, spark):
        spec = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        return (XDataset(dict(spec)), xr.Dataset(dict(spec)))

    def _uvals(self, o):
        return sorted(set(o.to_pandas()["u"].dropna()))

    def test_rolling_sum(self, opair):
        o, r = opair
        a = self._uvals(o.rolling(y=2, min_periods=1).sum())
        b = sorted(set(r.rolling(y=2, min_periods=1).sum()["u"]
                       .values.ravel()))
        assert a == b == [10.0, 20.0]

    def test_cumsum_shift_diff(self, opair):
        o, r = opair
        assert self._uvals(o.cumsum("y")) == sorted(set(
            r.cumsum("y")["u"].values.ravel()))
        assert self._uvals(o.shift(y=1)) == sorted(set(
            r.shift(y=1)["u"].values.ravel()))
        assert self._uvals(o.diff("y")) == sorted(set(
            r.diff("y")["u"].values.ravel()))

    def test_integrate_family(self, spark):
        spec = {"u": ("x", [10.0, 20.0]),
                "w": (("x", "y"), [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])}
        o = XDataset(dict(spec), coords={"y": [0.0, 1.0, 2.0]})
        r = xr.Dataset(dict(spec), coords={"y": [0.0, 1.0, 2.0]})
        a = o.integrate("y").to_pandas().sort_values("x")
        b = r.integrate("y")
        assert a["u"].tolist() == b["u"].values.tolist()
        assert a["w"].tolist() == pytest.approx(b["w"].values.tolist())
        ad = sorted(set(o.differentiate("y").to_pandas()["u"]))
        bd = sorted(set(r.differentiate("y")["u"].values.ravel()))
        assert ad == bd
        ac = sorted(set(o.cumulative_integrate("y").to_pandas()["u"]))
        bc = sorted(set(r.cumulative_integrate("y")["u"].values.ravel()))
        assert ac == bc

    def test_coarsen_sum(self, opair):
        o, r = opair
        a = o.coarsen(y=3).sum().to_pandas().sort_values("x")
        b = r.coarsen(y=3).sum()
        assert a["u"].tolist() == b["u"].values.ravel().tolist()
        assert a["w"].tolist() == b["w"].values.ravel().tolist()

    def test_op_along_own_dim_still_applies(self, opair):
        # sanity: the op along the var's OWN dim is NOT skipped
        o, r = opair
        a = o.cumsum("x").to_pandas().sort_values(["x", "y"])
        b = r.cumsum("x")
        assert sorted(set(a["u"])) == sorted(set(
            b["u"].values.ravel()))

    def test_pad_keeps_broadcast_value(self, opair):
        o, r = opair
        for mode in ("constant", "edge"):
            a = sorted(set(o.pad(y=(1, 0), mode=mode).to_pandas()["u"]
                           .dropna()))
            b = sorted(set(r.pad(y=(1, 0), mode=mode)["u"].values
                           .ravel()))
            assert a == b == [10.0, 20.0], mode
        # padded rows carry the broadcast value, not the fill
        ap = o.pad(y=(1, 0)).to_pandas()
        assert not ap["u"].isna().any()

    def test_rank_drops_vars_without_dim(self, opair):
        # reference rank keeps only vars containing the ranked dim
        # (core/dataset.py rank: `if dim in var.dims`)
        o, _ = opair
        out = o.rank("y")
        assert "u" not in out.data_vars and "w" in out.data_vars

    def test_arg_idx_raise_when_var_lacks_dim(self, opair):
        # the reference errors (idxmax: KeyError) when a data var lacks
        # the requested dim — never reduces the broadcast duplicates
        o, r = opair
        for fn in ("argmax", "argmin", "idxmax", "idxmin"):
            with pytest.raises(Exception):
                getattr(r, fn)(dim="y")
            with pytest.raises(KeyError):
                getattr(o, fn)(dim="y")
