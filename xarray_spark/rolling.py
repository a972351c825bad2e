"""Rolling / coarsen window operators (reference: xarray/computation/rolling.py).

``rolling(dim=w)`` maps to a Spark window frame
``rowsBetween(-(w-1)+shift, shift)`` partitioned by the complement dims
and ordered by the dim — the same sliding-window semantics as
``Variable.rolling_window`` (xarray/core/variable.py:2120) but executed
as one shuffle + codegen'd frame aggregation instead of a strided view.

``min_periods`` maps to ``when(count over frame >= k, agg)``
(xarray default: min_periods == window, i.e. incomplete edge windows
produce null — xarray/computation/rolling.py:147).
"""

from __future__ import annotations

from collections.abc import Mapping

import pandas as pd

from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xarray_spark.dataset import XDataset, _median_expr


def _np_rolling_var(vals, window: int, before: int, after: int,
                    minp: int, ddof: int, sqrt: bool):
    """Vectorized per-window exact two-pass var/std over a 1-D series.

    Mirrors numpy's windowed nanvar (the reference constructs the
    padded window array and reduces it): NaN-pad the edges, zero-copy
    sliding_window_view, per-window nan-masked mean then
    Σ(x−μ)²/(n−ddof).  Output memory is bounded by processing in
    ~32 MB window-matrix chunks (the view itself costs nothing)."""
    import numpy as np
    n = vals.shape[0]
    out = np.full(n, np.nan)
    if n == 0:
        return out
    pad = np.concatenate([np.full(before, np.nan), vals,
                          np.full(after, np.nan)])
    sw = np.lib.stride_tricks.sliding_window_view(pad, window)
    step = max(1, 4_000_000 // max(window, 1))
    for i in range(0, n, step):
        blk = sw[i:i + step]
        mask = ~np.isnan(blk)
        cnt = mask.sum(axis=1)
        with np.errstate(all="ignore"):
            mu = np.where(mask, blk, 0.0).sum(axis=1) / cnt
            # masked slots select 0.0; the inf value's own deviation is
            # inf−inf=NaN and poisons its window — numpy's behavior
            dev = np.where(mask, blk - mu[:, None], 0.0)
            v = (dev * dev).sum(axis=1) / (cnt - ddof)
        ok = cnt > ddof
        if minp > 1:
            ok &= cnt >= minp
        out[i:i + step] = np.where(ok, v, np.nan)
    if sqrt:
        with np.errstate(all="ignore"):
            out = np.sqrt(out)
    return out


def _np_rolling_median(vals, window: int, before: int, after: int,
                       minp: int):
    """Vectorized per-window nanmedian (numpy's own, so mean-of-middles
    and ±inf semantics are the reference's by construction)."""
    import warnings

    import numpy as np
    n = vals.shape[0]
    out = np.full(n, np.nan)
    if n == 0:
        return out
    pad = np.concatenate([np.full(before, np.nan), vals,
                          np.full(after, np.nan)])
    sw = np.lib.stride_tricks.sliding_window_view(pad, window)
    step = max(1, 4_000_000 // max(window, 1))
    for i in range(0, n, step):
        blk = sw[i:i + step]
        cnt = (~np.isnan(blk)).sum(axis=1)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            med = np.nanmedian(blk, axis=1)
        ok = cnt > 0
        if minp > 1:
            ok = ok & (cnt >= minp)
        out[i:i + step] = np.where(ok, med, np.nan)
    return out


def _np_rolling_nd(vals, wins, befores, afters, minp: int, kind: str,
                   ddof: int = 0, sqrt: bool = False):
    """N-D rectangle-window var/std/median over a dense ndarray
    (reference computation/rolling.py:56-1021: construct the one-
    window-dim-per-rolled-dim sliding view, then nan-reduce over every
    window axis).  NaN-pad each rolled axis by (before, after),
    zero-copy sliding_window_view over all axes, per-window nan-masked
    two-pass var or nanmedian on the flattened rectangle.  min_periods
    counts valid cells in the rectangle (reference default: the full
    w1·w2·… product).  Chunked over the leading axis so the flattened
    window matrix (the only copy) stays ~32 MB."""
    import numpy as np
    out = np.full(vals.shape, np.nan)
    if vals.size == 0:
        return out
    padded = np.pad(vals, list(zip(befores, afters)),
                    constant_values=np.nan)
    sw = np.lib.stride_tricks.sliding_window_view(padded, wins)
    k = vals.ndim
    rect = 1
    for w in wins:
        rect *= w
    per_row = max(1, (vals.size // max(vals.shape[0], 1)) * rect)
    step = max(1, 4_000_000 // per_row)
    for i in range(0, vals.shape[0], step):
        chunk = sw[i:i + step]
        blk = chunk.reshape(chunk.shape[:k] + (rect,))
        mask = ~np.isnan(blk)
        cnt = mask.sum(axis=-1)
        if kind == "median":
            import warnings
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                v = np.nanmedian(blk, axis=-1)
            ok = cnt > 0
        else:
            with np.errstate(all="ignore"):
                mu = np.where(mask, blk, 0.0).sum(axis=-1) / cnt
                dev = np.where(mask, blk - mu[..., None], 0.0)
                v = (dev * dev).sum(axis=-1) / (cnt - ddof)
            ok = cnt > ddof
        if minp > 1:
            ok = ok & (cnt >= minp)
        out[i:i + step] = np.where(ok, v, np.nan)
    if sqrt:
        with np.errstate(all="ignore"):
            out = np.sqrt(out)
    return out


class XRolling:
    # reference introspection name: the wrapped object
    obj = property(lambda self: self.ds)

    def __init__(self, ds: XDataset, windows: Mapping[str, int], min_periods: int | None, center: bool):
        self.windows = dict(windows)
        (self.dim, self.window) = next(iter(self.windows.items()))
        self.ds = ds
        self.center = center
        if len(self.windows) > 1:
            # N-D window: min_periods defaults to the full rectangle
            prod = 1
            for w in self.windows.values():
                prod *= w
            self.min_periods = min_periods if min_periods is not None else prod
        elif self.window == -1:
            # window == -1 → cumulative (unbounded preceding)
            self.min_periods = min_periods if min_periods is not None else 1
        else:
            self.min_periods = min_periods if min_periods is not None else self.window

    def _center_of(self, dim: str) -> bool:
        """``center`` is one bool for every rolled dim or the
        reference's per-dim mapping (center={'x': True, 'y': False})."""
        if isinstance(self.center, Mapping):
            return bool(self.center.get(dim, False))
        return bool(self.center)

    def _frame(self, dim: str | None = None, window: int | None = None):
        dim = dim or self.dim
        window = window or self.window
        others = [d for d in self.ds.dims if d != dim]
        base = Window.partitionBy(*others).orderBy(dim)
        if window == -1:
            return base.rowsBetween(Window.unboundedPreceding, 0)
        if self._center_of(dim):
            # xarray center: window extends (w-1)//2 after, rest before
            after = (window - 1) // 2
            before = window - 1 - after
            return base.rowsBetween(-before, after)
        return base.rowsBetween(-(window - 1), 0)

    def _apply(self, make) -> XDataset:
        if len(self.windows) > 1:
            raise NotImplementedError(
                "N-D rolling: sum/mean/min/max/count/prod are "
                "separable sweeps, var/std/median run the Arrow "
                "rectangle kernel; anything else goes through "
                "construct()+reduce"
            )
        w = self._frame()
        ds = self.ds
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(ds.df, list(ds.data_vars), ds.df.schema)
        ds = ds._replace(df=base)
        skip = ds._bcast_passthrough(list(self.windows))
        exprs = []
        for c in ds.df.columns:
            if c in ds.data_vars and c not in skip:
                agg = make(c, w)
                if self.min_periods > 1:
                    agg = F.when(F.count(c).over(w) >= self.min_periods, agg)
                exprs.append(agg.alias(c))
            else:
                exprs.append(F.col(c))
        return ds._replace(df=ds.df.select(*exprs))

    # ---- N-D rectangle windows: factorized into sequential 1-D passes
    # (separable reductions; the same per-axis decomposition as
    # xarray's sliding_window_view, xarray/core/duck_array_ops.py:144).
    # Each pass is one shuffle; count uses SUM after the first pass so
    # the rectangle count composes correctly.

    def _pass(self, ds: XDataset, dim: str, window: int, agg_fn) -> XDataset:
        w = self._frame(dim, window)
        skip = ds._bcast_passthrough([dim])
        exprs = [
            agg_fn(c, w).alias(c)
            if c in ds.data_vars and c not in skip else F.col(c)
            for c in ds.df.columns
        ]
        return ds._replace(df=ds.df.select(*exprs))

    def _apply_nd(self, kind: str) -> XDataset:
        items = list(self.windows.items())
        from xarray_spark._utils import nan_to_null
        base = self.ds._replace(df=nan_to_null(
            self.ds.df, list(self.ds.data_vars), self.ds.df.schema))

        def sweep(first_fn, rest_fn):
            out = self._pass(base, *items[0], first_fn)
            for dim, win in items[1:]:
                out = self._pass(out, dim, win, rest_fn)
            return out

        s = lambda c, w: F.sum(c).over(w)        # noqa: E731
        mn = lambda c, w: F.min(c).over(w)       # noqa: E731
        mx = lambda c, w: F.max(c).over(w)       # noqa: E731
        pr = lambda c, w: F.product(c).over(w)   # noqa: E731
        cnt = lambda c, w: F.count(c).over(w).cast("long")  # noqa: E731
        if kind == "count":
            # min_periods masks count too — EVEN at min_periods=1: the
            # reference NaNs a zero-valid-count rectangle instead of
            # saying 0 (round-11 N-D fuzz finds, both at >1 and ==1)
            n = sweep(cnt, s)
            return n._binary_op_dataset(
                n, lambda a, b: F.when(b >= self.min_periods, a))
        n = sweep(cnt, s) if (kind == "mean" or self.min_periods > 1) else None
        if kind == "sum":
            out = sweep(s, s)
        elif kind == "min":
            out = sweep(mn, mn)
        elif kind == "max":
            out = sweep(mx, mx)
        elif kind == "prod":
            out = sweep(pr, pr)
        elif kind == "mean":
            out = sweep(s, s)._binary_op_dataset(n, lambda a, b: a / b)
        else:
            raise NotImplementedError(f"N-D rolling {kind} (not separable)")
        if self.min_periods > 1:
            out = out._binary_op_dataset(
                n, lambda a, b: F.when(b >= self.min_periods, a)
            )
        return out

    def _maybe_segmented(self, agg: str):
        """Auto-dispatch to the segmented path for the global-series
        shape (options.AUTO_SEGMENT_THRESHOLD) — lazy plan-statistics
        size estimate, no count() action."""
        from xarray_spark import options
        from xarray_spark._utils import estimated_rows
        thr = options.AUTO_SEGMENT_THRESHOLD
        if (thr is None or self._center_of(self.dim) or len(self.windows) > 1
                or self.window == -1):
            return None
        if [d for d in self.ds.dims if d != self.dim]:
            return None
        if estimated_rows(self.ds.df) < thr:
            return None
        from xarray_spark.segmented import rolling_segmented
        return rolling_segmented(self.ds, self.dim, self.window, agg, self.min_periods)

    def mean(self):
        if len(self.windows) > 1:
            return self._apply_nd("mean")
        return self._maybe_segmented("mean") or self._apply(lambda c, w: F.avg(c).over(w))

    def sum(self):
        if len(self.windows) > 1:
            return self._apply_nd("sum")
        return self._maybe_segmented("sum") or self._apply(lambda c, w: F.sum(c).over(w))

    def min(self):
        if len(self.windows) > 1:
            return self._apply_nd("min")
        return self._maybe_segmented("min") or self._apply(lambda c, w: F.min(c).over(w))

    def max(self):
        if len(self.windows) > 1:
            return self._apply_nd("max")
        return self._maybe_segmented("max") or self._apply(lambda c, w: F.max(c).over(w))

    def count(self):
        if len(self.windows) > 1:
            return self._apply_nd("count")
        # count masks below min_periods even at min_periods=1: the
        # reference NaNs a zero-valid-count window instead of saying 0
        # (round-11 N-D fuzz find; the segmented path always masked)
        minp = self.min_periods
        return self._maybe_segmented("count") or self._apply(
            lambda c, w: F.when(F.count(c).over(w) >= minp,
                                F.count(c).over(w)))
    def std(self, ddof=0):
        return self._var_window(ddof, sqrt=True)

    def var(self, ddof=0):
        return self._var_window(ddof, sqrt=False)

    def _var_window(self, ddof: int, sqrt: bool) -> XDataset:
        """Rolling var/std: per-WINDOW exact two-pass (window mean,
        then Σ(x−μ)²/(n−ddof)) on the collected window array — the same
        array route rolling median uses.  Spark's online var_pop over
        the window drifts with the value offset (4e-6 rel at 1e12), and
        a per-SERIES center shift is wrong on mixed-scale data (a 1e15
        outlier anywhere poisons the precision — or, for ±inf, the
        correctness — of every other window).  The window mean is
        materialized as a real column so the deviation lambda reads an
        attribute, not a re-evaluated aggregate (round-4 CSE lesson).
        Cost is O(n·w); Spark evaluates higher-order-function lambdas
        INTERPRETED per element (round-4 lesson), so wide windows
        dispatch to the Arrow-batched numpy kernel instead (no
        crossover: the kernel wins at every width, measured round 10).
        inf propagates numpy's way (inf mean → inf−inf=NaN → NaN
        window)."""
        if len(self.windows) > 1:
            return self._nd_window_arrow("var", ddof, sqrt)
        if self._arrow_ok():
            return self._var_window_arrow(ddof, sqrt)
        w = self._frame()
        ds = self.ds
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(ds.df, list(ds.data_vars), ds.df.schema)
        skip = ds._bcast_passthrough(list(self.windows))
        varlist = [c for c in ds.data_vars if c not in skip]
        step1 = base.select(
            "*", *[F.collect_list(F.col(c).cast("double")).over(w)
                   .alias(f"__arr_{c}") for c in varlist])
        mean_cols = []
        for c in varlist:
            arr = F.col(f"__arr_{c}")
            n = F.size(arr)
            mean_cols.append(
                F.when(n > 0, F.aggregate(arr, F.lit(0.0),
                                          lambda a, x: a + x) / n)
                .alias(f"__m_{c}"))
        step2 = step1.select("*", *mean_cols)
        exprs = []
        for c in base.columns:
            if c in varlist:
                arr = F.col(f"__arr_{c}")
                mu = F.col(f"__m_{c}")
                n = F.size(arr)
                ss = F.aggregate(arr, F.lit(0.0),
                                 lambda a, x: a + (x - mu) * (x - mu))
                agg = F.when(n > ddof, ss / (n - F.lit(ddof)))
                if sqrt:
                    agg = F.sqrt(agg)
                if self.min_periods > 1:
                    agg = F.when(n >= self.min_periods, agg)
                exprs.append(agg.alias(c))
            else:
                exprs.append(F.col(c))
        return ds._replace(df=step2.select(*exprs))

    def _arrow_ok(self) -> bool:
        """Picker for the Arrow window kernels: 1-D, real window width
        (≥ 2; round 10 measured no width where the in-plan form wins).
        Centered windows over a GLOBAL series stay in-plan — the
        segmented halo only replicates PRECEDING rows, a centered frame
        needs trailing context too.
        GROUPED tables estimated above options.ROLLING_ARROW_EST_ROWS_BOUND
        stay in-plan too (round-10 ADVICE #2): applyInPandas holds each
        complement-dim group as one pandas frame, and a few huge groups
        would OOM where the in-plan window streams; the no-complement
        shape is halo-segmented and exempt."""
        from xarray_spark import options
        has_others = any(d != self.dim for d in self.ds.dims)
        if len(self.windows) != 1 or self.window < 2 \
                or (self._center_of(self.dim) and not has_others):
            return False
        bound = options.ROLLING_ARROW_EST_ROWS_BOUND
        if bound is not None and has_others:
            from xarray_spark._utils import estimated_rows
            if estimated_rows(self.ds.df) > bound:
                return False
        return True

    def _arrow_window_apply(self, kernel) -> XDataset:
        """Arrow-batched per-window kernels (var/std/median): the
        O(n·w) inner work runs as VECTORIZED numpy over a zero-copy
        sliding_window_view inside applyInPandas instead of an
        interpreted Catalyst lambda (no crossover — measured in
        SCALE.md round 10).  Complement dims partition the groups; a
        global series (no complement dims) rides the segmented halo
        scaffold (segmented.halo_union) so no single task holds the
        series.  ``kernel(vals) -> np.ndarray`` carries the window
        geometry bound in."""
        ds = self.ds
        dim = self.dim
        others = [d for d in ds.dims if d != dim]
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(ds.df, list(ds.data_vars), ds.df.schema)
        skip = ds._bcast_passthrough(list(self.windows))
        varlist = [c for c in ds.data_vars if c not in skip]
        out_fields = [
            T.StructField(f.name, T.DoubleType(), True)
            if f.name in varlist else f
            for f in base.schema.fields if not f.name.startswith("__")
        ]
        schema = T.StructType(out_fields)
        keep_cols = [f.name for f in out_fields]

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np
            pdf = pdf.sort_values(dim, kind="mergesort")
            for c in varlist:
                vals = pdf[c].to_numpy(dtype="float64", na_value=np.nan)
                pdf[c] = kernel(vals)
            if "__halo" in pdf.columns:
                pdf = pdf[~pdf["__halo"]]
            return pdf[keep_cols]

        if others:
            out = base.groupBy(*others).applyInPandas(fn, schema)
        else:
            from xarray_spark.segmented import halo_union
            unioned = halo_union(ds._replace(df=base), dim, self.window)
            out = unioned.groupBy("__seg").applyInPandas(fn, schema)
        return ds._replace(df=out)

    def _nd_geometry(self):
        """(dims, wins, befores, afters) for the N-D rectangle — the
        same per-dim center split as the 1-D frames."""
        dims = list(self.windows)
        wins = [int(self.windows[d]) for d in dims]
        afters = [(w - 1) // 2 if self._center_of(d) else 0
                  for d, w in zip(dims, wins)]
        befores = [w - 1 - a for w, a in zip(wins, afters)]
        return dims, wins, befores, afters

    def _nd_window_arrow(self, kind: str, ddof: int = 0,
                         sqrt: bool = False) -> XDataset:
        """N-D rolling var/std/median (reference computation/
        rolling.py:56-1021 via Variable.rolling_window over multiple
        dims, core/variable.py:2120) — non-separable, so the rectangle
        reduction runs as the Arrow-batched numpy kernel
        (_np_rolling_nd) per complement-dim group.  With NO complement
        dims the first rolled dim is segmented by LABEL DISTANCE with a
        (before+after)-label halo — the label table, segment bounds and
        assignment table are all label-sized broadcasts built lazily
        (no construction job), so no single task holds the cube and
        the output of halo rows is dropped.  argmin/argmax stay
        unimplemented for N-D windows: the reference itself raises
        TypeError there (np.argmin rejects a tuple axis)."""
        ds = self.ds
        if ds.df.isStreaming:
            raise NotImplementedError(
                "N-D rolling var/std/median needs the batch Arrow "
                "kernel (applyInPandas over the whole rectangle); on a "
                "stream use the separable reductions or window the "
                "stream first")
        dims, wins, befores, afters = self._nd_geometry()
        others = [d for d in ds.dims if d not in dims]
        from xarray_spark._utils import nan_to_null
        from xarray_spark._utils import materialize_if_derived
        # the rectangle path references its input twice (label distinct
        # + the segment-assignment join); a derived input computes once
        base = materialize_if_derived(
            nan_to_null(ds.df, list(ds.data_vars), ds.df.schema))
        skip = ds._bcast_passthrough(dims)
        varlist = [c for c in ds.data_vars if c not in skip]
        out_fields = [
            T.StructField(f.name, T.DoubleType(), True)
            if f.name in varlist else f
            for f in base.schema.fields if not f.name.startswith("__")
        ]
        schema = T.StructType(out_fields)
        keep_cols = [f.name for f in out_fields]
        minp = self.min_periods

        def fn(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np
            pdf = pdf.sort_values(dims, kind="mergesort")
            shape = [pdf[d].nunique() for d in dims]
            size = 1
            for s in shape:
                size *= s
            if size != len(pdf):
                raise ValueError(
                    "N-D rolling needs a DENSE hypercube over the "
                    f"rolled dims {dims}: got {len(pdf)} rows for "
                    f"shape {shape}")
            for c in varlist:
                vals = pdf[c].to_numpy(dtype="float64",
                                       na_value=np.nan).reshape(shape)
                res = _np_rolling_nd(vals, tuple(wins), tuple(befores),
                                     tuple(afters), minp, kind, ddof,
                                     sqrt)
                pdf[c] = res.reshape(-1)
            if "__halo" in pdf.columns:
                pdf = pdf[~pdf["__halo"]]
            return pdf[keep_cols]

        if others:
            out = base.groupBy(*others).applyInPandas(fn, schema)
        else:
            seg0, b0, a0 = dims[0], befores[0], afters[0]
            labels = base.select(seg0).distinct()
            wl = Window.orderBy(seg0)
            lab = labels.select(
                seg0, (F.row_number().over(wl) - 1).alias("__pos"),
                F.ntile(64).over(wl).alias("__seg0"))
            bounds = lab.groupBy("__seg0").agg(
                F.min("__pos").alias("__blo"), F.max("__pos").alias("__bhi"))
            asg = (lab.crossJoin(F.broadcast(
                        bounds.withColumnRenamed("__seg0", "__seg")))
                   .where((F.col("__pos") >= F.col("__blo") - F.lit(b0))
                          & (F.col("__pos") <= F.col("__bhi") + F.lit(a0)))
                   .select(seg0, "__seg",
                           (F.col("__seg") != F.col("__seg0"))
                           .alias("__halo")))
            unioned = base.join(F.broadcast(asg), on=seg0)
            out = unioned.groupBy("__seg").applyInPandas(fn, schema)
        return ds._replace(df=out)

    def _var_window_arrow(self, ddof: int, sqrt: bool) -> XDataset:
        """Exact per-window two-pass var/std, Arrow kernel.  inf/NaN
        semantics match numpy windowed nanvar: an inf in the window
        makes the mean inf, its own deviation inf−inf=NaN, and the
        window is NaN — identical to the in-plan HOF path."""
        from functools import partial
        after = ((self.window - 1) // 2
                 if self._center_of(self.dim) else 0)
        return self._arrow_window_apply(partial(
            _np_rolling_var, window=self.window,
            before=self.window - 1 - after, after=after,
            minp=self.min_periods, ddof=ddof, sqrt=sqrt))

    def median(self):
        # wide windows: Arrow nanmedian kernel (numpy's OWN nanmedian —
        # mean-of-middles and ±inf semantics by construction); the
        # in-plan form is collect_list + the shared two-sided-lerp
        # order statistics — NOT SQL `percentile` (naive internal lerp)
        if len(self.windows) > 1:
            return self._nd_window_arrow("median")
        if self._arrow_ok():
            from functools import partial
            after = ((self.window - 1) // 2
                     if self._center_of(self.dim) else 0)
            return self._arrow_window_apply(partial(
                _np_rolling_median, window=self.window,
                before=self.window - 1 - after, after=after,
                minp=self.min_periods))
        from xarray_spark.dataset import _arr_quantile_expr
        return self._apply(lambda c, w: _arr_quantile_expr(
            F.collect_list(F.col(c).cast("double")).over(w), 0.5,
            method="np_median"))

    def prod(self):
        if len(self.windows) > 1:
            # separable: the rectangle product composes per axis
            # (F.product skips nulls the way nanprod skips NaN)
            return self._apply_nd("prod")
        return self._apply(lambda c, w: F.product(c).over(w))

    def argmin(self):
        return self._arg_window(True)

    def argmax(self):
        return self._arg_window(False)

    def _arg_window(self, is_min: bool) -> XDataset:
        """Index of the window extremum (xarray rolling argmin/argmax,
        computation/rolling.py _reduce_method over sliding windows):
        0-based WITHIN the w-length window INCLUDING the NaN padding of
        partial leading windows (the reference constructs the padded
        window array then argmins it), first occurrence on ties.  One
        ordered-struct extremum over the same frame as min/max — no
        window array materialization."""
        if len(self.windows) > 1:
            # REFERENCE PARITY: xarray itself raises TypeError here
            # (np.argmin rejects a tuple axis over the window dims —
            # measured round 11); there is no semantic to match
            raise NotImplementedError(
                "N-D rolling argmin/argmax (the reference raises too: "
                "np.argmin over multiple window dims)")
        dim = self.dim
        others = [d for d in self.ds.dims if d != dim]
        seq = Window.partitionBy(*others).orderBy(dim)
        w = self._frame()
        ds = self.ds
        window = self.window
        after = (window - 1) // 2 if self._center_of(dim) else 0
        before = window - 1 - after
        df = ds.df.withColumn("__rp", (F.row_number().over(seq) - 1).cast("long"))
        exprs = []
        for c in df.columns:
            if c in ds.data_vars:
                if is_min:
                    pair = F.when(F.col(c).isNotNull(), F.struct(
                        F.col(c).alias("v"), F.col("__rp").alias("p")))
                    pos = F.min(pair).over(w)["p"]
                else:
                    pair = F.when(F.col(c).isNotNull(), F.struct(
                        F.col(c).alias("v"), (-F.col("__rp")).alias("p")))
                    pos = -F.max(pair).over(w)["p"]
                # window start is UNclamped: leading partial windows are
                # NaN-padded in the reference, so index 0 is the pad slot
                agg = (pos - (F.col("__rp") - before)).cast("long")
                if self.min_periods > 1:
                    agg = F.when(F.count(c).over(w) >= self.min_periods, agg)
                exprs.append(agg.alias(c))
            elif c != "__rp":
                exprs.append(F.col(c))
        return ds._replace(df=df.select(*exprs))

    def _construct_arrays(self) -> XDataset:
        """Window contents as an array column — the internal
        representation construct()/reduce() consume.  NULL-PRESERVING:
        ``collect_list(col)`` silently drops nulls, which would shift
        interior NaNs to the window front after padding (caught by the
        round-5 stride differential test); collecting structs keeps
        every slot, then ``transform`` unwraps.

        N-D windows chain one pass per rolled dim, flattening at each
        step, so the final column holds the RECTANGLE's contents —
        reduce() then sees the same value multiset the reference's
        multi-window-dim view reduces over."""
        ds = self.ds
        # vars that don't carry the rolled dims stay UNwindowed (the
        # reference leaves them out of the construct/reduce view —
        # round-11 probe: a ('x',)-only var must not see 'y' windows)
        skip = ds._bcast_passthrough(list(self.windows))
        out = ds
        first = True
        for dim, win in self.windows.items():
            w = self._frame(dim, win)
            exprs = []
            for c in out.df.columns:
                if c in ds.data_vars and c not in skip:
                    col = F.transform(
                        F.collect_list(F.struct(F.col(c).alias("v")))
                        .over(w), lambda s: s["v"])
                    if not first:
                        col = F.flatten(col)
                    exprs.append(col.alias(c))
                else:
                    exprs.append(F.col(c))
            out = out._replace(df=out.df.select(*exprs))
            first = False
        return out

    def construct(self, window_dim=None, stride=1,
                  fill_value=None, **window_dim_kwargs) -> XDataset:
        """Materialize the rolling window as a REAL new dim
        (xarray/computation/rolling.py:327 construct): each row becomes
        ``window`` rows keyed by ``window_dim`` ∈ [0, window), aligned so
        the current element is last; positions before the series start
        hold ``fill_value`` (xarray's NaN padding).  ``stride`` keeps
        every stride-th window (the reference's subsampling knob) — a
        broadcast position filter BEFORE the explode, so the fan-out
        itself shrinks by the stride.  Long form: array front-pad +
        posexplode — one window scan, one narrow explode, no Python.

        N-D windows take the reference's MAPPING form
        (``construct(x='wx', y='wy')`` / ``construct({'x': 'wx', ...},
        stride={'x': 2, ...})``) and chain one 1-D construct per rolled
        dim — c2[x, y, wx, wy] == data[x−(w1−1)+wx, y−(w2−1)+wy], the
        same rectangle view sliding_window_view builds."""
        if isinstance(window_dim, Mapping) or window_dim_kwargs \
                or len(self.windows) > 1:
            mapping = dict(window_dim or {}, **window_dim_kwargs)
            if isinstance(window_dim, str):
                raise ValueError(
                    "N-D rolling construct needs one window-dim name "
                    "per rolled dim — the mapping form "
                    "construct(x='wx', y='wy')")
            missing = set(self.windows) - set(mapping)
            if missing:
                raise ValueError(f"construct: no window-dim name for "
                                 f"rolled dims {sorted(missing)}")
            out = self.ds
            for dim, wd in mapping.items():
                st = (stride.get(dim, 1) if isinstance(stride, Mapping)
                      else stride)
                out = XRolling(out, {dim: self.windows[dim]},
                               min_periods=1,
                               center=self._center_of(dim)) \
                    .construct(wd, stride=st, fill_value=fill_value)
            return out
        win = int(self.window)
        arrs = self._construct_arrays()
        ds = self.ds
        # vars not carrying the rolled dim stay UNwindowed — broadcast
        # across the window dim, exactly the reference's construct
        # (which leaves them with their own dims)
        skip = ds._bcast_passthrough([self.dim])
        win_vars = [v for v in ds.data_vars if v not in skip]
        if int(stride) > 1:
            pos = ds._dim_labels(self.dim).select(
                self.dim, "__pos").where(F.col("__pos") % int(stride) == 0)
            arrs = arrs._replace(df=arrs.df.join(
                F.broadcast(pos.select(self.dim)), on=self.dim,
                how="left_semi"))
        fill = F.lit(fill_value)
        padded = {}
        for v in win_vars:
            a = F.col(v)
            pad = F.array_repeat(fill.cast(ds.df.schema[v].dataType),
                                 F.lit(win) - F.size(a))
            padded[v] = F.concat(pad, a)
        zipped = F.arrays_zip(*[padded[v].alias(v) for v in win_vars])
        df = arrs.df.select(
            *[c for c in ds.df.columns if c not in win_vars],
            F.posexplode(zipped).alias(window_dim, "__w"),
        ).select(
            *[c for c in ds.df.columns if c not in win_vars],
            F.col(window_dim),
            *[F.col(f"__w.{v}").alias(v) for v in win_vars],
        )
        return ds._replace(df=df, dims=list(ds.dims) + [window_dim])

    def reduce(self, func, dtype: str = "double") -> XDataset:
        """Windowed UDAF (xarray/computation/rolling.py:477): build the
        window arrays then apply a vectorized pandas UDF per array."""
        constructed = self._construct_arrays()
        min_periods = self.min_periods  # plain int: the udf closure must
        # not capture self (it holds the DataFrame -> SparkContext)

        @F.pandas_udf(dtype)
        def apply_fn(s: pd.Series) -> pd.Series:
            import numpy as np

            def one(arr):
                if arr is None:
                    return None
                # windows are null-preserving: None slots become NaN;
                # min_periods counts VALID values (xarray masking rule)
                a = np.array([np.nan if x is None else x for x in arr],
                             dtype="float64")
                if int((~np.isnan(a)).sum()) < min_periods:
                    return None
                return func(a)
            return s.map(one)

        ds = constructed
        skip = self.ds._bcast_passthrough(list(self.windows))
        exprs = [
            apply_fn(F.col(c)).alias(c)
            if c in ds.data_vars and c not in skip else F.col(c)
            for c in ds.df.columns
        ]
        return ds._replace(df=ds.df.select(*exprs))


class XCoarsen:
    """Non-overlapping block windows (xarray/computation/rolling.py:1023).

    Maps to groupBy(floor(pos / size)) per coarsened dim; `pos` comes
    from the broadcast label table, so the fact table sees one hash
    aggregation, no sort.
    """

    obj = property(lambda self: self.ds)

    def __init__(self, ds: XDataset, windows: Mapping[str, int], boundary: str = "exact",
                 side: str = "left", coord_func: str = "mean"):
        self.ds = ds
        self.windows = dict(windows)
        self.boundary = boundary
        self.side = side
        self.coord_func = coord_func

    def _blocked(self) -> tuple[XDataset, list[str]]:
        ds = self.ds
        block_cols = []
        for dim, size in self.windows.items():
            labels = ds._dim_labels(dim)
            # side='right' counts blocks from the END: the ragged block
            # (if any) sits at the START (xarray coarsen side param) —
            # expressed as a left pad of the position grid
            pad = ((F.lit(size) - F.col("__size") % size) % size
                   if self.side == "right" else F.lit(0))
            blocks = labels.select(
                F.col(dim),
                F.floor((F.col("__pos") + pad) / F.lit(size)).alias(f"__block_{dim}"),
                F.col("__size"),
            )
            if self.boundary == "trim":
                # drop the incomplete block: trailing for side='left'
                # (xarray/computation/rolling.py:1023 boundary='trim'),
                # leading for side='right'
                if self.side == "right":
                    blocks = blocks.where(
                        (F.col(f"__block_{dim}") > 0)
                        | (F.col("__size") % size == 0))
                else:
                    blocks = blocks.where(
                        F.col(f"__block_{dim}") < F.floor(F.col("__size") / F.lit(size))
                    )
            blocks = blocks.drop("__size")
            ds = ds._replace(df=ds.df.join(F.broadcast(blocks), on=dim, how="inner"))
            block_cols.append(f"__block_{dim}")
        return ds, block_cols

    def _agg(self, make, label_agg=F.min, _pre=None) -> XDataset:
        ds, block_cols = self._blocked()
        coarse_dims = list(self.windows)
        kept = [d for d in self.ds.dims if d not in coarse_dims]
        coords = self.ds._coords_on(kept)
        keys = block_cols + kept + list(coords)
        aggs = []
        # xarray coarsen coord_func (computation/rolling.py:1023): how
        # the block's new label is derived from its member labels
        cf = {"mean": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
              "first": F.min, "last": F.max,
              "median": lambda c: _median_expr(c),
              }.get(self.coord_func)
        if cf is None:
            raise ValueError(f"unsupported coord_func {self.coord_func!r}")
        for dim in coarse_dims:
            dt = self.ds.df.schema[dim].dataType
            if isinstance(dt, (T.FloatType, T.DoubleType, T.IntegerType,
                               T.LongType)) or self.coord_func != "mean":
                aggs.append(cf(dim).alias(dim))
            else:
                # mean of non-numeric labels: fall back to min
                aggs.append(F.min(dim).alias(dim))
        skip = self.ds._bcast_passthrough(coarse_dims)
        for v in self.ds.data_vars:
            # broadcast vars lacking every coarsened dim pass through
            # (the reference leaves them untouched; all block copies
            # are identical, so first() keeps the value exactly)
            aggs.append((F.first(v, ignorenulls=False) if v in skip
                         else make(v)).alias(v))
        from xarray_spark._utils import nan_to_null
        base = nan_to_null(ds.df, list(self.ds.data_vars), ds.df.schema)
        if _pre is not None:
            base = _pre(base, keys)
        df = base.groupBy(*keys).agg(*aggs).drop(*block_cols)
        return XDataset(df, coarse_dims + kept, coords, self.ds.data_vars, self.ds.attrs)

    def mean(self): return self._agg(lambda v: F.avg(v))

    def sum(self):
        # np.nansum: an all-NaN block reduces to 0.0, not missing
        # (round-9 fuzz find — F.sum alone gives null)
        return self._agg(lambda v: F.coalesce(F.sum(v), F.lit(0.0)))

    def min(self): return self._agg(lambda v: F.min(v))
    def max(self): return self._agg(lambda v: F.max(v))
    def count(self): return self._agg(lambda v: F.count(v))
    def std(self): return self._var_blocks(sqrt=True)
    def var(self): return self._var_blocks(sqrt=False)

    def _var_blocks(self, sqrt: bool) -> XDataset:
        """Coarsen var/std demeaned per block (two-pass: block-mean
        join, then Σdev²/n) — Spark's online var_pop drifts with the
        value offset; see Dataset._var_demeaned / SCALE.md round 9."""
        from xarray_spark._utils import null_safe_join
        skip = self.ds._bcast_passthrough(list(self.windows))
        varlist = [v for v in self.ds.data_vars if v not in skip]

        def pre(base, keys):
            mean_aggs = [F.avg(F.col(v).cast("double")).alias(f"__mu_{v}")
                         for v in varlist]
            means = base.groupBy(*keys).agg(*mean_aggs)
            return null_safe_join(base, F.broadcast(means), keys)

        def make(v):
            vc = F.col(v).cast("double")
            dev = vc - F.col(f"__mu_{v}")
            e = F.sum(dev * dev) / F.count(vc)
            return F.sqrt(e) if sqrt else e
        return self._agg(make, _pre=pre)
    def prod(self):
        # np.nanprod: an all-NaN block reduces to 1.0
        return self._agg(lambda v: F.coalesce(F.product(v), F.lit(1.0)))
    def median(self): return self._agg(_median_expr)
    def all(self): return self._agg(lambda v: F.bool_and(F.col(v).cast("boolean")))
    def any(self): return self._agg(lambda v: F.bool_or(F.col(v).cast("boolean")))

    def construct(self, window_dim: Mapping[str, tuple] | None = None,
                  **window_dim_kwargs) -> XDataset:
        """Split each coarsened dim into (outer, inner) dims without
        reducing (xarray/computation/rolling.py:1269 Coarsen.construct).

        ``construct(time=("year", "season"))`` replaces the ``time`` key
        column with integer ``year`` (block index) and ``season``
        (offset inside the block); the original labels stay attached as
        a coordinate keyed by the new dims.  Long-form twist: the block
        structure comes from the broadcast label table (one position
        lookup joined back), so the fact table is never sorted and cells
        missing from a trailing partial block are simply absent rows —
        the sparse analogue of the reference's NaN padding."""
        spec = dict(window_dim or {})
        spec.update(window_dim_kwargs)
        ds = self.ds
        new_dims: list[str] = []
        coords = dict(ds.coords)
        for dim, size in self.windows.items():
            if dim not in spec:
                raise ValueError(f"window_dim missing entry for {dim!r}")
            outer, inner = spec[dim]
            labels = ds._dim_labels(dim).select(
                F.col(dim),
                F.floor(F.col("__pos") / F.lit(size)).cast("long").alias(outer),
                F.pmod(F.col("__pos"), F.lit(size)).cast("long").alias(inner),
                F.col("__size"),
            )
            if self.boundary == "trim":
                labels = labels.where(
                    F.col(outer) < F.floor(F.col("__size") / F.lit(size)))
            labels = labels.drop("__size")
            ds = ds._replace(df=ds.df.join(F.broadcast(labels), on=dim, how="inner"))
            new_dims += [outer, inner]
            coords[dim] = (outer, inner)  # original labels ride as a coord
        kept = [d for d in ds.dims if d not in self.windows]
        return XDataset(ds.df, new_dims + kept, coords, ds.data_vars, ds.attrs)

    def reduce(self, func, dtype: str = "double") -> XDataset:
        """Apply an arbitrary NumPy reduction per block
        (xarray/computation/rolling.py:1365 Coarsen.reduce).  The func
        runs as a grouped-agg pandas UDF — Arrow batches, one scalar per
        block, same shuffle as the built-in reductions.  Spark refuses
        to mix pandas and JVM aggregates in one groupBy, so the block
        labels are aggregated on the (broadcast-tiny) label table and
        joined back instead of riding the fact aggregation."""
        @F.pandas_udf(dtype)
        def red(v: pd.Series) -> float:
            return func(v.to_numpy())

        ds, block_cols = self._blocked()
        coarse_dims = list(self.windows)
        kept = [d for d in self.ds.dims if d not in coarse_dims]
        coords = self.ds._coords_on(kept)
        keys = block_cols + kept + list(coords)
        df = ds.df.groupBy(*keys).agg(
            *[red(F.col(v)).alias(v) for v in self.ds.data_vars]
        )
        for dim in coarse_dims:
            size = self.windows[dim]
            bcol = f"__block_{dim}"
            dt = self.ds.df.schema[dim].dataType
            lab_agg = (F.avg(dim) if isinstance(
                dt, (T.FloatType, T.DoubleType, T.IntegerType, T.LongType))
                else F.min(dim)).alias(dim)
            blocks = (self.ds._dim_labels(dim)
                      .withColumn(bcol, F.floor(F.col("__pos") / F.lit(size)))
                      .groupBy(bcol).agg(lab_agg))
            df = df.join(F.broadcast(blocks), on=bcol, how="inner")
        df = df.drop(*block_cols)
        return XDataset(df, coarse_dims + kept, coords, self.ds.data_vars,
                        self.ds.attrs)


class XRollingExp:
    """Exponentially-weighted moving ops (xarray/computation/rolling_exp.py:49).

    The EWM recursion y_t = (1-α)·y_{t-1} + α·x_t is inherently
    sequential per series — not a frame aggregate — so each complement-
    dim group runs as one Arrow batch through applyInPandas (pandas'
    compiled ewm kernel), mirroring the reference's numbagg path.
    With no complement dim the keyless ``groupBy()`` gathers the whole
    series into one call (one ``Exchange SinglePartition``).
    At scale the groups are the parallel unit: fine for many series,
    degenerate for one giant series (same limit as the reference, where
    dask cannot chunk the scan dim either) — global-series mean/sum
    above ``options.AUTO_SEGMENT_THRESHOLD`` go two-phase instead.
    """

    def __init__(self, ds: XDataset, windows: Mapping[str, float], window_type: str = "span"):
        (self.dim, self.window), = windows.items()
        self.window_type = window_type
        self.ds = ds

    def _ewm(self, agg: str) -> XDataset:
        ds = self.ds
        dim = self.dim
        others = [d for d in ds.dims if d != dim]
        varlist = list(ds.data_vars)
        kwargs = {self.window_type: self.window}
        out_schema = ds.df.schema

        def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(dim)
            ew = pdf[varlist].ewm(**kwargs, min_periods=1)
            pdf[varlist] = getattr(ew, agg)()
            return pdf

        if not others:
            seg = self._maybe_segmented(agg)
            if seg is not None:
                return seg
        return ds._replace(
            df=ds.df.groupBy(*others).applyInPandas(apply_fn, out_schema))

    def _maybe_segmented(self, agg: str):
        """Global-series EWM above the auto-segment threshold goes
        two-phase (segmented.ewm_segmented) instead of one Arrow batch —
        mean/sum are exact linear recurrences; std/var stay on the
        pandas kernel."""
        from xarray_spark import options
        from xarray_spark._utils import estimated_rows
        thr = options.AUTO_SEGMENT_THRESHOLD
        if thr is None or agg not in ("mean", "sum"):
            return None
        if estimated_rows(self.ds.df) < thr:
            return None
        from xarray_spark.segmented import ewm_alpha, ewm_segmented
        alpha = ewm_alpha(self.window, self.window_type)
        return ewm_segmented(self.ds, self.dim, alpha, agg)

    def mean(self) -> XDataset:
        return self._ewm("mean")

    def sum(self) -> XDataset:
        return self._ewm("sum")

    def std(self) -> XDataset:
        return self._ewm("std")

    def var(self) -> XDataset:
        return self._ewm("var")

    def _ewm_pair(self, other: XDataset, agg: str) -> XDataset:
        """EWM cov/corr against ``other`` (xarray
        computation/rolling_exp.py:229 cov, :262 corr — numbagg
        move_exp_nancov/nancorr; pandas' ewm kernel computes the same
        debiased recursion, verified value-for-value).

        ``other`` must share the scan dim; each of self's data_vars is
        paired with other's single variable.  One inner join on the dims
        (broadcast-friendly label keys), then the same per-group Arrow
        batch as the unary EWM ops."""
        ds = self.ds
        dim = self.dim
        if dim not in other.dims:
            raise ValueError(f"other lacks the EWM dim {other.dims} vs {dim!r}")
        ovar = other.data_vars[0]
        right = other.df.select(
            *[c for c in other.dims], F.col(ovar).alias("__other")
        )
        joined = ds.df.join(right, on=list(other.dims), how="inner")
        others = [d for d in ds.dims if d != dim]
        varlist = list(ds.data_vars)
        kwargs = {self.window_type: self.window}
        out_schema = joined.drop("__other").schema

        def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(dim)
            b = pdf["__other"].astype("float64")
            for v in varlist:
                ew = pdf[v].astype("float64").ewm(**kwargs, min_periods=1)
                pdf[v] = getattr(ew, agg)(b)
            return pdf.drop(columns="__other")

        df = joined.groupBy(*others).applyInPandas(apply_fn, out_schema)
        return ds._replace(df=df.select(*ds.df.columns))

    def cov(self, other: XDataset) -> XDataset:
        return self._ewm_pair(other, "cov")

    def corr(self, other: XDataset) -> XDataset:
        return self._ewm_pair(other, "corr")
